package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import graft.Steal
import graft.anonymise.Anonymiser
import graft.config.{Config, TableConfig}
import graft.plan.SubsetPlanner
import graft.sinks.{JdbcSink, JdbcSinkConfig, ParquetSink, SqlTextSink}
import graft.sources.Drivers

/** The steal-lake workload: a file DSN over seeded key-shifted copies of
  * the base data, stolen to parquet. A closed loop with one client runs
  * full-catalog `Steal.runDsn` calls back to back for the measured
  * seconds. */
object StealBench {

  /** Copies of the keyed tables in the source (see [[Synth]]). */
  val Copies = 6

  /** Tables a steal copies at once. At the default, `nproc`, the tables'
    * jobs share the task slots in FAIR pools, and a steal's time depends
    * on which table's tasks happen to run last: the median steal of a run
    * varied up to three times as much between runs as it does with one
    * table at a time, where each table's job has every slot. */
  val Concurrency = 1

  /** Untimed steals before the timed ones. The first one's output is
    * checked; the checks run other plans, and the steal right after them
    * runs slower while the JIT recompiles the steal path, so the other
    * warm-ups come after the checks. */
  val WarmUps = 3

  /** Timed steals a run makes at the least, so `steal_p50_s` is a median
    * and not a single sample. */
  val MinSteals = 3

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The tables the config filters, and the anonymised columns with the
    * key that joins them back to the source. */
  val Configured: Seq[String] = Seq("customer", "orders", "lineitem", "supplier", "events")
  val AnonChecks: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("customer", Seq("c_custkey"), Seq("c_name", "c_mktsegment")),
    ("lineitem", Seq("l_orderkey", "l_linenumber"), Seq("l_returnflag")),
    ("supplier", Seq("s_suppkey"), Seq("s_name")))

  /** The klepto config: rich customers, their orders and line items, two
    * persona fakers and one Rng-UDF faker, a literal, and one table whose
    * data is ignored. Every other table is copied whole. */
  val Toml: String =
    """[Matchers]
      |  RichCustomers = "customer.c_acctbal > 0"
      |[[Tables]]
      |  Name = "customer"
      |  [Tables.Filter]
      |    Match = "RichCustomers"
      |  [Tables.Anonymise]
      |    c_name = "FullName"
      |    c_mktsegment = "EmailAddress"
      |[[Tables]]
      |  Name = "orders"
      |  [Tables.Filter]
      |    Match = "RichCustomers"
      |  [[Tables.Relationships]]
      |    ForeignKey = "o_custkey"
      |    ReferencedTable = "customer"
      |    ReferencedKey = "c_custkey"
      |[[Tables]]
      |  Name = "lineitem"
      |  [Tables.Filter]
      |    Match = "RichCustomers"
      |  [Tables.Anonymise]
      |    l_returnflag = "City"
      |  [[Tables.Relationships]]
      |    ForeignKey = "l_orderkey"
      |    ReferencedTable = "orders"
      |    ReferencedKey = "o_orderkey"
      |  [[Tables.Relationships]]
      |    Table = "orders"
      |    ForeignKey = "o_custkey"
      |    ReferencedTable = "customer"
      |    ReferencedKey = "c_custkey"
      |[[Tables]]
      |  Name = "supplier"
      |  [Tables.Anonymise]
      |    s_name = "literal:REDACTED"
      |[[Tables]]
      |  Name = "events"
      |  IgnoreData = true
      |""".stripMargin

  def run(env: Env): Result = new StealBench(env).run()
}

final class StealBench(env: Env) {
  import StealBench._
  import env.spark

  private val config: Seq[TableConfig] = Config.load(Toml)
  private val secret = s"perfbench-${env.seed}"
  private val checks = new Tally

  // ---- source ---------------------------------------------------------

  private def srcDir(i: Int) = new File(env.work, s"src-$i")
  private var current = 0

  private def fromDsn: String =
    s"file://path(${srcDir(current).getAbsolutePath})/?format=parquet"

  /** Source table `t`: what every check reads. */
  private def src(t: String): DataFrame =
    spark.read.parquet(new File(srcDir(current), s"$t.parquet").getPath)

  /** Make source `i`: the synthesized keyed copies next to the base
    * dimension and corpus tables. */
  private def prepare(i: Int): Unit = {
    val dir = srcDir(i)
    dir.mkdirs()
    val base = (t: String) => spark.read.parquet(s"${env.data}/$t.parquet")
    Synth.copies(base, Copies, env.seed).foreach { case (t, df) =>
      df.write.parquet(new File(dir, s"$t.parquet").getPath)
    }
    Tables.filterNot(Synth.Keyed.contains).foreach { t =>
      Files.copy(new File(env.data, s"$t.parquet").toPath,
        new File(dir, s"$t.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    if (i > 0) Env.deleteTree(srcDir(i - 1))
    current = i
  }

  /** Rows of each source table, and the rows the config keeps of the
    * subset tables, counted on the source without the planner: the
    * matcher, then semi-joins down the FK chain. */
  private lazy val counted: Map[String, Long] = {
    val rich = src("customer").where(col("c_acctbal") > 0)
    val orders = src("orders").join(rich, col("o_custkey") === col("c_custkey"), "left_semi")
    val lineitem = src("lineitem").join(orders, col("l_orderkey") === col("o_orderkey"), "left_semi")
    Env.countRows(Seq("kept.customer" -> rich, "kept.orders" -> orders,
      "kept.lineitem" -> lineitem) ++ Tables.map(t => s"source.$t" -> src(t)))
  }

  private def sourceRows(t: String): Long = counted(s"source.$t")

  /** Rows a steal must write to table `t`. */
  private def expected(t: String): Long = t match {
    case "customer" | "orders" | "lineitem" => counted(s"kept.$t")
    case "events" => 0L // IgnoreData
    case _ => sourceRows(t)
  }

  // ---- target ---------------------------------------------------------

  private def outDir(i: Int) = new File(env.work, s"out-$i")

  private def out(i: Int)(t: String): DataFrame =
    spark.read.parquet(new File(outDir(i), s"$t.parquet").getPath)

  /** Row count and order-insensitive digest of every output table. */
  private def digests(i: Int): Map[String, (Long, String)] =
    Env.digests(Tables.map(t => t -> out(i)(t)))

  private def render(ds: Map[String, (Long, String)]): String =
    ds.toSeq.sorted.map { case (t, (_, d)) => s"$t:$d" }.mkString(",")

  // ---- one steal ------------------------------------------------------

  private def steal(i: Int): Seq[Steal.StealReport] =
    Steal.runDsn(spark, fromDsn,
      s"file://path(${outDir(i).getAbsolutePath})/?format=parquet",
      config, secret, concurrency = Concurrency, bestEffort = true)

  /** Every catalog table reported ok with the expected row count; returns
    * the rows written. */
  private def verify(reports: Seq[Steal.StealReport]): Long = {
    val byTable = reports.map(r => r.table -> r).toMap
    Tables.foreach { t =>
      val r = byTable.get(t)
      checks.add(s"report.$t", r.exists(r => r.ok && r.rows == expected(t)),
        r.map(r => s"ok=${r.ok} rows=${r.rows} expected=${expected(t)} ${r.error.getOrElse("")}")
          .getOrElse("missing"))
    }
    reports.map(_.rows).sum
  }

  /** Output checks of steal `i`: row counts, FK closure and anonymisation.
    * Returns the output digest. */
  private def checkOutput(i: Int): String = {
    val o = out(i) _
    val ds = digests(i)
    Tables.foreach { t =>
      checks.add(s"count.$t", ds(t)._1 == expected(t), s"${ds(t)._1} != ${expected(t)}")
    }
    // rows that break a check; keys need not be unique (lineitem repeats
    // some), so an output row fails when ANY source row of its key holds
    // the same value
    val offending = Seq(
      "fk.orders" ->
        o("orders").join(o("customer"), col("o_custkey") === col("c_custkey"), "left_anti"),
      "fk.lineitem" ->
        o("lineitem").join(o("orders"), col("l_orderkey") === col("o_orderkey"), "left_anti")) ++
      AnonChecks.map { case (t, keys, cols) =>
        val renamed = o(t).select((keys ++ cols).map(c => col(c).as(s"out_$c")): _*)
        val s = src(t).withColumn("in_source", lit(1))
        val on = keys.map(k => col(s"out_$k") === s(k)).reduce(_ && _)
        s"anon.$t" -> renamed.join(s, on, "left_outer").where(col("in_source").isNull ||
          cols.map(c => col(s"out_$c") <=> s(c)).reduce(_ || _))
      }
    val found = Env.countRows(offending)
    offending.foreach { case (name, _) =>
      checks.add(name, found(name) == 0, s"${found(name)} offending rows")
    }
    render(ds)
  }

  // ---- the run --------------------------------------------------------

  def run(): Result = {
    val prepS = (1 to Env.SetupRepeats).map(i => Env.time(prepare(i)))
    val countS = Env.time(counted) // outside every timed region
    val firstS = Env.time(verify(steal(0)))
    var digest0 = ""
    val checkS = Env.time { digest0 = checkOutput(0) }
    Env.deleteTree(outDir(0))
    val warmS = firstS +: (1 until WarmUps).map { j =>
      val s = Env.time(verify(steal(j)))
      Env.deleteTree(outDir(j))
      s
    }
    val setupS = env.sessionS + Stats.median(prepS) + warmS.sum
    env.log(f"setup: session ${env.sessionS}%.2f s, prepare " +
      prepS.map(x => f"$x%.2f").mkString("/") + " s, warm-up steals " +
      warmS.map(x => f"$x%.2f").mkString("/") + " s")
    env.log(f"checks: source counts $countS%.2f s, output $checkS%.2f s")

    // Timed steals are checked by their reports; the last one's output
    // must also carry the checked warm-up output's digest.
    val probe = if (env.trace) Some(new Probe(spark)) else None
    val walls = collection.mutable.ArrayBuffer.empty[Double]
    val counts = collection.mutable.ArrayBuffer.empty[Probe.Counts]
    var rows = 0L // written by each steal; verify checks it is the same every time
    var i = WarmUps - 1
    while (walls.size < MinSteals || walls.sum < env.seconds) {
      if (i >= WarmUps) Env.deleteTree(outDir(i))
      i += 1
      probe.foreach(_.take())
      val t = System.nanoTime()
      val reports = steal(i)
      walls += (System.nanoTime() - t) / 1e9
      probe.foreach(p => counts += p.take())
      rows = verify(reports)
    }
    val last = render(digests(i))
    checks.add("digest", last == digest0, s"last steal's output $last differs from the warm-up's $digest0")
    Env.deleteTree(outDir(i))
    env.log(s"steals: ${walls.map(x => f"$x%.3f").mkString(" ")} s")

    val layers = probe.map { p =>
      val l = new Layers(p).measure(counts.toSeq, walls.toSeq)
      p.close()
      l
    }
    Env.deleteTree(srcDir(current))
    val p50 = Stats.median(walls.toSeq)
    val rowsPerS = rows / p50
    Result(setupS, p50, rowsPerS, walls.toSeq, checks, layers.getOrElse(Map.empty),
      Seq(("steal_p50_s", p50, "s"), ("rows_per_s", rowsPerS, "rows/s")))
  }

  // ---- traced per-layer measurements ----------------------------------

  /** How many columns `Anonymiser` computes on each path, read from the
    * anonymised frame's analyzed plan: (columns that call a Scala UDF,
    * the Rng faker path; other computed columns, the persona codegen
    * path). Literals and columns passed through count on neither. */
  private def anonPaths(subset: DataFrame, anonymised: DataFrame): (Int, Int) =
    if (anonymised eq subset) (0, 0)
    else anonymised.queryExecution.analyzed match {
      case Project(list, _) =>
        val computed = list.map { case Alias(e, _) => e; case e => e }
          .filterNot(e => e.isInstanceOf[Attribute] || e.foldable)
        val udf = computed.count(_.exists(_.isInstanceOf[ScalaUDF]))
        (udf, computed.size - udf)
      case _ => (0, 0)
    }

  /** Each layer timed alone through its public entry point, one table at
    * a time, after the traced steals. A sink's write time is its call's
    * time minus that of writing the same frame to `noop`. Besides the
    * workload's own `ParquetSink`, every table also goes through
    * `SqlTextSink` and, where Derby has column types for it, `JdbcSink`
    * into an in-memory Derby: the sinks no closed-loop workload runs. */
  private final class Layers(probe: Probe) {
    private def noop(df: DataFrame): Double =
      Env.time(df.write.mode("overwrite").format("noop").save())

    private final class Sink(write: (DataFrame, String) => Unit) {
      var excessS, totalS = 0.0
      var rows = 0L
      def apply(df: DataFrame, t: String, noopS: Double): Unit = {
        val s = Env.time(write(df, t))
        totalS += s
        excessS += s - noopS
        rows += expected(t)
      }
    }

    def measure(steals: Seq[Probe.Counts], walls: Seq[Double]): Map[String, Double] = {
      val cfg = config.map(t => t.name -> t).toMap
      val listS = Env.time(Drivers.listTables(spark, fromDsn))
      val planner = new SubsetPlanner(Drivers.read(spark, fromDsn, _),
        config, knownTables = Tables)
      val lakeOut = new File(env.work, "layers")
      val derby = "jdbc:derby:memory:pblayers"
      val text = new CountingWriter
      val parquet = new Sink(ParquetSink.write(_, lakeOut.getPath, _))
      val sqlText = new Sink(SqlTextSink.write(_, _, text))
      val jdbc = new Sink((df, t) =>
        JdbcSink.write(df, JdbcSinkConfig(s"$derby;create=true", t, maxConns = env.cpus)))
      var readS, buildMs, extraS = 0.0
      var partitions, udfCells, codegenCells = 0L
      Tables.foreach { t =>
        probe.take()
        readS += noop(Drivers.read(spark, fromDsn, t))
        partitions += probe.take().tasks
        val c = cfg.get(t)
        val subset = c match {
          case Some(_) =>
            val t0 = System.nanoTime()
            val df = planner.plan(t)
            buildMs += (System.nanoTime() - t0) / 1e6
            df
          case None => Drivers.read(spark, fromDsn, t)
        }
        val anonymised = Anonymiser(subset, c.getOrElse(TableConfig(t)), secret)
        val (udfCols, codegenCols) = anonPaths(subset, anonymised)
        udfCells += udfCols * expected(t)
        codegenCells += codegenCols * expected(t)
        val anonS =
          if (c.exists(_.anonymise.nonEmpty)) {
            // alternate the two so neither is favoured by a warmer JVM
            val (plain, anon) = Seq.fill(3)((noop(subset), noop(anonymised))).unzip
            extraS += Stats.median(anon) - Stats.median(plain)
            Stats.median(anon)
          } else noop(anonymised)
        parquet(anonymised, t, anonS)
        sqlText(anonymised, t, anonS)
        if (Jdbc.derbyCanHold(anonymised)) jdbc(anonymised, t, anonS)
      }
      val parquetBytes = Env.treeBytes(lakeOut)
      Env.deleteTree(lakeOut)
      Jdbc.dropMemoryDb(derby)
      probe.take()

      def med(f: Probe.Counts => Double) = Stats.median(steals.map(f))
      val runS = med(_.runMs / 1e3)
      Map(
        "sources.list_s" -> listS,
        "sources.read_s" -> readS,
        "sources.rows" -> Tables.map(sourceRows).sum.toDouble,
        "sources.scan_partitions" -> partitions.toDouble,
        "plan.build_ms" -> buildMs,
        "plan.catalyst_ms" -> med(_.catalystMs.toDouble),
        "plan.rows_kept_ratio" ->
          Configured.map(expected).sum.toDouble / Configured.map(sourceRows).sum,
        "anonymise.extra_s" -> extraS,
        "anonymise.udf_rows" -> udfCells.toDouble,
        "anonymise.codegen_rows" -> codegenCells.toDouble,
        "sinks.parquet_write_s" -> parquet.excessS,
        "sinks.parquet_bytes" -> parquetBytes.toDouble,
        "sinks.jdbc_write_s" -> jdbc.excessS,
        "sinks.jdbc_rows_per_s" -> jdbc.rows / jdbc.totalS,
        "sinks.sqltext_write_s" -> sqlText.excessS,
        "sinks.sqltext_bytes" -> text.bytes.toDouble,
        "sinks.sqltext_writer_s" -> text.ns / 1e9,
        "steal.jobs" -> med(_.jobs.toDouble),
        "steal.stages" -> med(_.stages.toDouble),
        "steal.tasks" -> med(_.tasks.toDouble),
        "steal.executor_run_s" -> runS,
        "steal.core_util" -> runS / (Stats.median(walls) * env.cpus),
        "steal.shuffle_bytes" -> med(_.shuffleBytes.toDouble),
        "steal.spill_bytes" -> med(_.spillBytes.toDouble))
    }
  }
}

/** The `Writer` handed to `SqlTextSink` in the traced run: counts the
  * UTF-8 bytes written and the time spent inside `write`. */
final class CountingWriter extends java.io.Writer {
  var bytes = 0L
  var ns = 0L
  override def write(cbuf: Array[Char], off: Int, len: Int): Unit = {
    val t0 = System.nanoTime()
    var i = off
    while (i < off + len) {
      val c = cbuf(i)
      bytes += (if (c < 0x80) 1 else if (c < 0x800 || Character.isSurrogate(c)) 2 else 3)
      i += 1
    }
    ns += System.nanoTime() - t0
  }
  override def flush(): Unit = ()
  override def close(): Unit = ()
}

/** The embedded Derby target of the traced `JdbcSink` layer. */
object Jdbc {
  /** Derby has no column type for Spark's arrays, maps or structs. */
  def derbyCanHold(df: DataFrame): Boolean = df.schema.fields.forall(_.dataType match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  })

  /** Drops an in-memory Derby database; Derby reports success as
    * SQLState 08006, and a database never created as XJ004. */
  def dropMemoryDb(url: String): Unit =
    try java.sql.DriverManager.getConnection(url + ";drop=true").close()
    catch {
      case e: java.sql.SQLException if Set("08006", "XJ004").contains(e.getSQLState) => ()
    }
}
