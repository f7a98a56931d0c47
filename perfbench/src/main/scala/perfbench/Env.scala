package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload runs with: the session, its working directory inside
  * the checkout, the committed base data, and the run's arguments. */
final case class Env(
    spark: SparkSession,
    work: File,
    data: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    sessionS: Double) {
  def log(line: String): Unit = println(line)

  /** Seconds since the JVM started. */
  def uptime: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}

object Env {
  /** Input preparations per run; set-up reports their median. */
  val SetupRepeats = 3

  def time(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  /** Rows of each named frame, in one Spark job. */
  def countRows(frames: Seq[(String, DataFrame)]): Map[String, Long] = {
    val found = frames.map { case (n, df) => df.select(lit(n).as("name")) }
      .reduce(_ union _).groupBy("name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    frames.map { case (n, _) => n -> found.getOrElse(n, 0L) }.toMap
  }

  /** Row count and an order-insensitive digest of each named frame, in one
    * Spark job: the sums of the two halves of each row's xxhash64 over its
    * columns sorted by name. */
  def digests(frames: Seq[(String, DataFrame)]): Map[String, (Long, String)] = {
    val found = frames.map { case (n, df) =>
      df.select(lit(n).as("name"), xxhash64(df.columns.sorted.map(col).toSeq: _*).as("h"))
    }.reduce(_ union _).groupBy("name")
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), s"${r.getLong(1)}:${r.get(2)}:${r.get(3)}"))
      .toMap
    frames.map { case (n, _) => n -> found.getOrElse(n, (0L, "0")) }.toMap
  }
}

/** Checks made in a run: each is one attempted operation. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  def add(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $name: $detail")
    }
  }
}

/** One workload's outcome. `opS` is the typical operation's seconds (a
  * steal, or a pass of the queries), `samples` the timed operations'
  * seconds, and `named` the workload's metrics under its own names, for
  * the printed table. */
final case class Result(
    setupS: Double,
    opS: Double,
    rowsPerS: Double,
    samples: Seq[Double],
    checks: Tally,
    layers: Map[String, Double],
    named: Seq[(String, Double, String)])
