package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.util.chaining._

class SynthSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    .tap(_.sparkContext.setLogLevel("ERROR"))

  override def afterAll(): Unit = spark.stop()

  /** A small base: customers 0..19 with signed balances, 0..2 orders
    * each, 1..3 line items per order. */
  private def base(t: String): DataFrame = {
    val s = spark
    import s.implicits._
    t match {
      case "customer" =>
        (0L until 20L).map(k => (k, s"Customer#$k", (k % 5 - 2) * 10.5)).toDF("c_custkey", "c_name", "c_acctbal")
      case "orders" =>
        (0L until 30L).map(o => (o, (o * 7) % 20, o * 3.25)).toDF("o_orderkey", "o_custkey", "o_totalprice")
      case "lineitem" =>
        (for (o <- 0L until 30L; n <- 1 to (o % 3 + 1).toInt) yield (o, n, o + n * 0.5))
          .toDF("l_orderkey", "l_linenumber", "l_extendedprice")
    }
  }

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.sorted.map(col).toSeq: _*) % 1000000007L)).head()
    (r.getLong(0), r.getLong(1))
  }

  test("the same seed synthesizes identical copies; another seed jitters the values") {
    val a = Synth.copies(base, 3, seed = 7)
    val b = Synth.copies(base, 3, seed = 7)
    val c = Synth.copies(base, 3, seed = 8)
    Synth.Keyed.foreach { t =>
      assert(digest(a(t)) == digest(b(t)), t)
      assert(digest(a(t)) != digest(c(t)), t)
      assert(a(t).dtypes.toSeq == base(t).dtypes.toSeq, t)
    }
  }

  test("key shifts keep FK fan-out per copy and the sign of every balance") {
    val k = 4
    val out = Synth.copies(base, k, seed = 11)
    val spans = Synth.spans(base("customer"), base("orders"))
    def fanout(child: DataFrame, fk: String, parent: DataFrame, pk: String) =
      parent.join(child, col(pk) === col(fk), "left_outer").groupBy(pk)
        .agg(count(col(fk)).as("n")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseOrders = fanout(base("orders"), "o_custkey", base("customer"), "c_custkey")
    val copyOrders = fanout(out("orders"), "o_custkey", out("customer"), "c_custkey")
    val baseItems = fanout(base("lineitem"), "l_orderkey", base("orders"), "o_orderkey")
    val copyItems = fanout(out("lineitem"), "l_orderkey", out("orders"), "o_orderkey")
    assert(copyOrders.size == k * baseOrders.size)
    assert(copyItems.size == k * baseItems.size)
    copyOrders.foreach { case (key, n) => assert(n == baseOrders(key % spans.cust), key) }
    copyItems.foreach { case (key, n) => assert(n == baseItems(key % spans.order), key) }
    val signs = out("customer").select(col("c_custkey") % spans.cust, signum(col("c_acctbal")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).distinct
    val baseSigns = base("customer").select(col("c_custkey"), signum(col("c_acctbal")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    signs.foreach { case (key, s) => assert(s == baseSigns(key), key) }
  }
}
