package graft

import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.anonymise.Anonymiser
import graft.config.{Config, TableConfig}
import graft.plan.SubsetPlanner
import graft.sinks.ParquetSink

/** The whole pipeline (≅ `klepto steal`, cmd/steal.go:52-132):
  * catalog → subset plan → anonymise → sink, per table.
  *
  * Reference semantics:
  *   - the SOURCE catalog is the table list of record; config only
  *     customizes (dumper/engine/engine.go:76-79) — unconfigured tables
  *     are copied whole;
  *   - `IgnoreData` tables dump structure only;
  *   - per-table concurrency bounded by a semaphore-like pool, default
  *     NumCPU (dumper/engine/engine.go:88-126, cmd/steal.go:71). Spark
  *     note: tables are independent jobs, so we submit them from parallel
  *     driver threads and let the scheduler interleave stages.
  *
  * Deliberate upgrade (SURVEY §7.4.6): fail-fast by default; the
  * reference's log-and-continue per-table error policy is behind
  * `bestEffort = true`.
  */
object Steal {

  final case class StealReport(
      table: String, rows: Long, ok: Boolean, error: Option[String])

  /** Directory-to-directory steal: `sourceDir`'s `<table>.parquet` files
    * to `targetDir` through [[ParquetSink]] — [[runDsn]] over the two
    * directories as `file://` DSNs. */
  def run(
      spark: SparkSession,
      sourceDir: String,
      targetDir: String,
      tables: Seq[TableConfig],
      secret: String = "graft",
      concurrency: Int = Runtime.getRuntime.availableProcessors(),
      dataOnly: Boolean = false,
      bestEffort: Boolean = false,
      consistentParents: Boolean = false): Seq[StealReport] = {
    new java.io.File(targetDir).mkdirs()
    runDsn(spark, dirDsn(sourceDir), dirDsn(targetDir), tables, secret,
      concurrency, dataOnly, bestEffort, consistentParents = consistentParents)
  }

  /** The parquet `file://` DSN of a directory. The DSN grammar cannot
    * carry every path (a `)` ends the address), so a path that does not
    * resolve back to itself is refused rather than read from elsewhere. */
  private[graft] def dirDsn(dir: String): String = {
    val dsn = s"file://path($dir)/?format=parquet"
    require(graft.sources.Drivers.resolve(dsn) ==
      graft.sources.Resolved.File(dir, "parquet"),
      s"directory '$dir' cannot be expressed as a file:// DSN")
    dsn
  }

  /** Attach a row-count observation so the report comes from the write's
    * OWN execution — the previous re-read of the written parquet (or a
    * `count()` on the source) cost one extra Spark job per table. Returns
    * the instrumented frame and a thunk that yields the count once the
    * write has run. */
  private def observed(df: DataFrame): (DataFrame, () => Long) = {
    val obs = new org.apache.spark.sql.Observation()
    (df.observe(obs, org.apache.spark.sql.functions
      .count(org.apache.spark.sql.functions.lit(1)).as("rows")),
      () => obs.get("rows").asInstanceOf[Long])
  }

  /** Bounded per-table pool (reference: dumper/engine/engine.go:88-126).
    * Fail-fast semantics done properly: the FIRST failure cancels every
    * not-yet-started table and rethrows the ORIGINAL cause — the previous
    * behavior let the whole catalog keep dumping and surfaced an opaque
    * ExecutionException. In bestEffort mode dumpTable never throws, so
    * every table still runs to completion. */
  private def runPool(catalog: Seq[String], concurrency: Int)(
      dumpTable: String => StealReport): Seq[StealReport] = {
    val pool = Executors.newFixedThreadPool(math.max(concurrency, 1))
    try {
      val futures = catalog.map(name => pool.submit(
        new java.util.concurrent.Callable[StealReport] {
          def call(): StealReport = dumpTable(name)
        }))
      try futures.map(_.get())
      catch {
        case e: java.util.concurrent.ExecutionException =>
          futures.foreach(_.cancel(false))
          pool.shutdownNow()
          throw Option(e.getCause).getOrElse(e)
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.HOURS)
    }
  }

  /** DSN-routed variant (≅ `klepto steal --from <dsn> --to <dsn>`,
    * cmd/steal.go:21-44): source and target resolve through the driver
    * registry ([[graft.sources.Drivers]]) — `postgres://`/`mysql://` →
    * JDBC, `file://` → lake files, `os://stdout/` → SQL-text dump (W4).
    * `out` overrides the console writer (klepto's writer selection,
    * `pkg/dumper/query/writer.go:11-33`; injectable for tests). */
  def runDsn(
      spark: SparkSession,
      fromDsn: String,
      toDsn: String,
      tables: Seq[TableConfig],
      secret: String = "graft",
      concurrency: Int = Runtime.getRuntime.availableProcessors(),
      dataOnly: Boolean = false,
      bestEffort: Boolean = false,
      out: java.io.Writer =
        new java.io.PrintWriter(System.out),
      // connection governance, reference-matching defaults
      // (cmd/steal.go:72-79): read cursor timeout/parallelism and write
      // statement timeout/connection cap — see COVERAGE.md §2.1
      readOpts: graft.sources.JdbcReadOptions = graft.sources.JdbcReadOptions(),
      writeTimeout: Int = 30,
      writeMaxConns: Int = 5,
      // DSv2 total-pushdown leg (VERDICT r12 #4): route CONFIGURED tables'
      // subset plans through a registered JDBCTableCatalog so Catalyst
      // compiles Filter.Limit + Sorts into the remote SQL (PushedTopN /
      // PushedLimit — the reference's engine.go:158-163 contract, which
      // the V1 path can only approximate with a streaming CollectLimit).
      // Off by default: unconfigured full copies, and configs without a
      // limit, want the V1 PK-partitioned parallel cursors instead — a V2
      // JDBC scan is one remote query, the right shape only when pushdown
      // shrinks the answer at the source.
      pushdownScan: Boolean = false,
      // see SubsetPlanner: children subset against their parent's own
      // materialized subset
      consistentParents: Boolean = false): Seq[StealReport] = {
    import graft.sources.{Drivers, Resolved}
    import graft.sinks.{JdbcSink, JdbcSinkConfig, SqlTextSink}

    val catalog = Drivers.listTables(spark, fromDsn)
    // Each source table is resolved at most once per call (≅ the
    // reference's one catalog read per run, engine.go:52-79): the planner
    // loads a parent again for every child that references it, and an
    // unconfigured table would be loaded once more for its full copy —
    // on a file source each load is a footer read, on JDBC a schema query
    // plus the PK MIN/MAX probe. Nothing outlives the call: the next
    // steal lists and reads its source afresh.
    val resolved = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    val read: String => DataFrame = name =>
      resolved.computeIfAbsent(name, Drivers.read(spark, fromDsn, _, readOpts))
    // catalog name derived from the DSN (ADVICE r13 #4): a second runDsn
    // in the same session against a different source registers its own
    // catalog instead of silently repointing "graft_src"; readOpts ride
    // into the catalog conf so GRAFT_READ_TIMEOUT/fetch-size governance
    // holds on the DSv2 leg too (ADVICE r13 #2)
    val subsetLoad: String => DataFrame =
      if (pushdownScan && Drivers.resolve(fromDsn).isInstanceOf[Resolved.Jdbc])
        Drivers.catalogLoader(
          spark, Drivers.catalogNameFor(fromDsn), fromDsn, readOpts)
      else read
    val planner = new SubsetPlanner(
      subsetLoad, tables, consistentParents, knownTables = catalog)
    val byName = tables.map(t => t.name -> t).toMap
    val target = Drivers.resolve(toDsn)

    def dumpTable(name: String): StealReport = try {
      val cfg = byName.getOrElse(name, TableConfig(name))
      val subset =
        if (byName.contains(name)) planner.plan(name)
        else read(name) // unconfigured: full copy
      val (anonymised, rowsOf) = observed(Anonymiser(subset, cfg, secret))
      val rows = target match {
        case Resolved.File(path, "parquet") =>
          ParquetSink.write(anonymised, path, name, dataOnly)
          rowsOf()
        case Resolved.File(path, format) =>
          anonymised.write.mode("overwrite").format(format)
            .option("header", "true").save(s"$path/$name.$format")
          rowsOf()
        case Resolved.Console(_) =>
          // single writer: serialize table dumps like the reference's text
          // dumper (its Dump deliberately ignores concurrency,
          // query/dumper.go:52-99). The sink counts its own rows: an
          // Observation never completes under toLocalIterator.
          out.synchronized { SqlTextSink.write(anonymised, name, out, dataOnly) }
        case Resolved.Jdbc(url, props) =>
          JdbcSink.write(anonymised, JdbcSinkConfig(url, name, props,
            queryTimeout = writeTimeout, maxConns = writeMaxConns))
          rowsOf()
      }
      StealReport(name, rows, ok = true, None)
    } catch {
      case e: Exception if bestEffort =>
        StealReport(name, 0, ok = false, Some(e.getMessage))
    }

    runPool(catalog, concurrency)(dumpTable)
  }

  /** CLI-ish entry: `Steal <sourceDirOrDsn> <targetDirOrDsn> [configPath]`. */
  def main(args: Array[String]): Unit = {
    val sourceDir = args(0)
    val targetDir = args(1)
    val tables = if (args.length > 2) Config.loadFile(args(2)) else Nil
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-steal")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietCheckpointUnpersistWarns()
    try {
      def asDsn(s: String) =
        if (s.contains("://")) s else s"file://path($s)/?format=parquet"
      // connection-governance env knobs, CLI-flag parity with the
      // reference's steal command (cmd/steal.go:72-79); defaults match
      def envInt(k: String, d: Int) = sys.env.get(k).map(_.toInt).getOrElse(d)
      val readOpts = graft.sources.JdbcReadOptions(
        timeout = envInt("GRAFT_READ_TIMEOUT", 300),
        maxConns = envInt("GRAFT_READ_MAX_CONNS", 5),
        fetchSize = envInt("GRAFT_READ_FETCH_SIZE", 10000))
      val reports =
        if (sourceDir.contains("://") || targetDir.contains("://"))
          runDsn(spark, asDsn(sourceDir), asDsn(targetDir), tables,
            readOpts = readOpts,
            writeTimeout = envInt("GRAFT_WRITE_TIMEOUT", 30),
            writeMaxConns = envInt("GRAFT_WRITE_MAX_CONNS", 5),
            pushdownScan =
              sys.env.get("GRAFT_READ_PUSHDOWN").exists(_.toBoolean))
        else run(spark, sourceDir, targetDir, tables)
      reports.foreach { r =>
        println(s"[steal] ${r.table}: rows=${r.rows} ok=${r.ok}" +
          r.error.map(e => s" error=$e").getOrElse(""))
      }
      if (reports.exists(!_.ok)) sys.exit(1)
    } finally spark.stop()
  }
}
