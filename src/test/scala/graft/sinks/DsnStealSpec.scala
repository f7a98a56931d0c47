package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Steal, Tables}
import graft.config.Config

/** DSN-routed steal (≅ `klepto steal --from <dsn> --to <dsn>`,
  * cmd/steal.go:21-44): source/target resolve through the driver registry,
  * with the `os://stdout/` text-dump path injectable for assertion
  * (≅ `pkg/dumper/query/writer_test.go:11-30`). */
class DsnStealSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val srcDsn = s"file://path($sf)/?format=parquet"
  private def sourceRows(t: String): Long = Tables.load(spark, sf, t).count()

  test("file:// → file:// parquet copy is value-identical") {
    val dir = Files.createTempDirectory("graft_dsn_steal").toString
    val reports = Steal.runDsn(spark, srcDsn,
      s"file://path($dir)/?format=parquet", tables = Nil, concurrency = 4)
    assert(reports.size == Tables.all.size && reports.forall(_.ok))
    for (r <- reports) assert(r.rows == sourceRows(r.table), r.table)
    val src = Tables.load(spark, "/root/testdata/sf0.001", "region")
    val dst = spark.read.parquet(s"$dir/region.parquet")
    assert(dst.exceptAll(src).isEmpty && src.exceptAll(dst).isEmpty)
  }

  test("file:// → os:// dumps CREATE TABLE + INSERTs per table, subset applied") {
    val cfg = Config.load(
      """[[Tables]]
        |  Name = "nation"
        |  [Tables.Filter]
        |    Match = "n_nationkey < 5"
        |  [Tables.Anonymise]
        |    n_name = "literal:X"
        |""".stripMargin)
    val sw = new java.io.StringWriter()
    val reports = Steal.runDsn(spark, srcDsn, "os://stdout/", cfg,
      concurrency = 2, out = sw)
    assert(reports.forall(_.ok))
    // the text sink reports the rows it wrote (no Observation fires under
    // its toLocalIterator)
    for (r <- reports) assert(r.rows == (r.table match {
      case "nation" => Tables.load(spark, sf, "nation").where("n_nationkey < 5").count()
      case t => sourceRows(t)
    }), r.table)
    val text = sw.toString
    for (t <- Tables.all)
      assert(text.contains(s"CREATE TABLE $t ("), s"missing DDL for $t")
    assert(text.contains("INSERT INTO nation"))
    // subset + literal anonymise reached the text sink
    val nationInserts = text.linesIterator
      .dropWhile(!_.startsWith("INSERT INTO nation")).takeWhile(_.nonEmpty)
      .mkString("\n")
    assert(nationInserts.contains("'X'"))
    assert(!nationInserts.contains("NATION_7"))
  }

  test("run threads consistentParents into the planner") {
    val cfg = Config.load(
      """[[Tables]]
        |  Name = "customer"
        |  [Tables.Filter]
        |    Match = "c_acctbal > 0"
        |    Limit = 7
        |    [Tables.Filter.Sorts]
        |      c_custkey = "asc"
        |[[Tables]]
        |  Name = "orders"
        |  [[Tables.Relationships]]
        |    ForeignKey = "o_custkey"
        |    ReferencedTable = "customer"
        |    ReferencedKey = "c_custkey"
        |""".stripMargin)
    def orphans(consistent: Boolean): Long = {
      val dir = Files.createTempDirectory("graft_dsn_consistent").toString
      val reports = Steal.run(spark, sf, dir, cfg, concurrency = 2,
        consistentParents = consistent)
      assert(reports.forall(_.ok))
      val customers = spark.read.parquet(s"$dir/customer.parquet")
      spark.read.parquet(s"$dir/orders.parquet")
        .join(customers, col("o_custkey") === col("c_custkey"), "left_anti").count()
    }
    // faithful mode subsets orders against every positive-balance
    // customer, not just the 7 copied ones
    assert(orphans(consistent = false) > 0)
    assert(orphans(consistent = true) == 0)
  }

  test("main() arg routing wraps plain dirs as file DSNs") {
    // plain-dir pair must behave exactly like before (delegates to run)
    val dir = Files.createTempDirectory("graft_dsn_main").toString
    val reports = Steal.run(spark, "/root/testdata/sf0.001", dir, Nil,
      concurrency = 2)
    assert(reports.forall(_.ok))
  }
}
