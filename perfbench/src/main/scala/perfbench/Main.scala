package perfbench

import java.io.{File, FileInputStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload in this JVM and prints its
  * metrics; the last stdout line is the JSON result.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <dir> --work <dir> [--digests <file>] [--record <file>]
  * }}}
  * `--record` writes the ops-suite output digests of this tree to a file
  * instead of running a workload. */
object Main {

  /** Per-layer metrics and units; each workload reports 0 for the layers
    * it does not run. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.list_s" -> "s", "sources.read_s" -> "s", "sources.rows" -> "count",
    "sources.scan_partitions" -> "count",
    "plan.build_ms" -> "ms", "plan.catalyst_ms" -> "ms", "plan.rows_kept_ratio" -> "ratio",
    "anonymise.extra_s" -> "s", "anonymise.udf_rows" -> "count",
    "anonymise.codegen_rows" -> "count",
    "sinks.parquet_write_s" -> "s", "sinks.parquet_bytes" -> "bytes",
    "sinks.jdbc_write_s" -> "s", "sinks.jdbc_rows_per_s" -> "rows/s",
    "sinks.sqltext_write_s" -> "s", "sinks.sqltext_bytes" -> "bytes",
    "sinks.sqltext_writer_s" -> "s",
    "steal.jobs" -> "count", "steal.stages" -> "count", "steal.tasks" -> "count",
    "steal.executor_run_s" -> "s", "steal.core_util" -> "ratio",
    "steal.shuffle_bytes" -> "bytes", "steal.spill_bytes" -> "bytes",
    "ops.jobs" -> "count", "ops.stages" -> "count", "ops.catalyst_ms" -> "ms",
    "ops.executor_run_s" -> "s", "ops.shuffle_bytes" -> "bytes",
    "ops.spill_bytes" -> "bytes", "ops.core_util" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val record = opts.get("record")
    val workload = if (record.isDefined) "ops-suite" else opt("workload")
    require(Set("steal-lake", "ops-suite").contains(workload), s"unknown workload '$workload'")
    val work = new File(opt("work"))
    Env.deleteTree(work)
    work.mkdirs()

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // as the Steal CLI's session: a steal's tables run as concurrent jobs
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", new File(work, "spark").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.catalogImplementation", "in-memory")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Logs.quietCheckpointUnpersistWarns()
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      val env = Env(spark, work, opt("data"), opts.getOrElse("seed", "0").toLong,
        opts.getOrElse("seconds", "10").toDouble, opts.getOrElse("trace", "0") == "1",
        cpus, sessionS)
      record match {
        case Some(file) => recordDigests(env, file)
        case None =>
          val result =
            if (workload == "ops-suite") OpsBench.run(env, readDigests(new File(opt("digests"))))
            else StealBench.run(env)
          report(env, workload, result)
      }
    } finally {
      spark.stop()
      Env.deleteTree(work)
    }
  }

  private def recordDigests(env: Env, file: String): Unit = {
    val (ok, failed) = OpsBench.digests(env, OpsBench.Queries)
    require(failed.isEmpty, s"queries failed: $failed")
    Files.writeString(new File(file).toPath,
      ok.toSeq.sorted.map { case (q, (_, d)) => s"$q=$d\n" }.mkString, UTF_8)
    env.log(s"recorded ${ok.size} digests to $file")
  }

  /** Query name to output digest, one `name=digest` line each. */
  private def readDigests(f: File): Map[String, String] = {
    val p = new java.util.Properties
    val in = new FileInputStream(f)
    try p.load(in) finally in.close()
    p.asScala.toMap
  }

  /** Peak resident set of this JVM, from /proc. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  /** Heap and non-heap memory in use after a full collection: what the
    * program still holds once its work is done. The collection runs
    * twice, so blocks Spark's ContextCleaner frees after the first are
    * gone by the second. */
  def retainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(500)
    System.gc()
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024)
  }

  private def report(env: Env, workload: String, r: Result): Unit = {
    val rss = peakRssMb()
    val retained = retainedMb()
    val c = r.checks
    val failedRatio = c.failed.toDouble / c.attempted
    val n = r.samples.size
    val tail = Stats.highestPercentile(n)
      .map(p => f"p$p%s ${Stats.percentile(r.samples, p)}%.4f s").getOrElse("none below 100 samples")
    env.log(f"---- $workload  seed=${env.seed}  cpus=${env.cpus}  " +
      f"trace=${if (env.trace) 1 else 0}  uptime=${env.uptime}%.1f s  samples=$n  tail percentile: $tail")
    (Seq(("setup_s", r.setupS, "s")) ++ r.named ++
      Seq(("failed_ratio", failedRatio, "ratio"), ("peak_rss_mb", rss, "MB"),
        ("retained_mb", retained, "MB")))
      .foreach { case (n, v, u) => env.log(f"$n%-18s $v%14.4f $u") }
    val metrics =
      if (env.trace) PerLayer.map { case (n, u) => (n, r.layers.getOrElse(n, 0.0), u) }
      else Seq(("setup_s", r.setupS, "s"), ("op_p50_s", r.opS, "s"),
        ("rows_per_s", r.rowsPerS, "rows/s"), ("retained_mb", retained, "MB"))
    if (env.trace) metrics.foreach { case (n, v, u) => env.log(f"$n%-26s $v%16.4f $u") }
    println(Json.result(c.failed == 0, c.attempted, c.failed, metrics))
  }
}
