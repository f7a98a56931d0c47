package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seeded k-fold synthesis of the keyed TPC-H tables.
  *
  * Copy `i` of `customer`, `orders` and `lineitem` shifts every key by `i`
  * times the base key span, so each copy is an isomorphic replica: a
  * customer of copy `i` owns exactly the orders its base row owns, shifted
  * into copy `i`, and FK fan-out is kept row for row. The seed only jitters
  * money columns by a sign-preserving factor in [0.99, 1.01], so predicates
  * on their sign (the benchmark's matcher) select the same rows for every
  * seed while the values, and so the output digests, differ.
  */
object Synth {

  val Keyed: Seq[String] = Seq("customer", "orders", "lineitem")

  /** Key spans of the base data: one past the largest key. */
  final case class Spans(cust: Long, order: Long)

  def spans(customer: DataFrame, orders: DataFrame): Spans = Spans(
    customer.agg(max("c_custkey")).head().getLong(0) + 1,
    orders.agg(max("o_orderkey")).head().getLong(0) + 1)

  /** A factor in [0.99, 1.01] derived from the seed and the row's keys. */
  def jitter(seed: Long, tag: String, keys: Column*): Column = {
    val h = xxhash64((Seq(lit(seed), lit(tag)) ++ keys): _*)
    lit(1.0) + (pmod(h, lit(2000001L)) - lit(1000000L)) / lit(1e8)
  }

  /** The `k` shifted, jittered copies of each keyed table, same columns
    * and types as the base. Each copy is its own projection of the base
    * scan, so a table of `k` copies is written as `k` or more files, as a
    * lake table would be. */
  def copies(load: String => DataFrame, k: Int, seed: Long): Map[String, DataFrame] = {
    require(k >= 1, s"copies needs k >= 1, got $k")
    val customer = load("customer")
    val orders = load("orders")
    val lineitem = load("lineitem")
    val s = spans(customer, orders)
    def replicate(df: DataFrame)(f: Long => PartialFunction[String, Column]): DataFrame =
      (0L until k).map { i =>
        df.select(df.columns.toSeq.map(c => f(i).applyOrElse(c, col)): _*)
      }.reduce(_ union _)
    def shift(c: String, i: Long, span: Long) = (col(c) + lit(i * span)).as(c)
    def jittered(c: String, tag: String, i: Long, keys: String*) =
      (col(c) * jitter(seed, tag, (lit(i) +: keys.map(col)): _*)).as(c)
    Map(
      "customer" -> replicate(customer)(i => {
        case "c_custkey" => shift("c_custkey", i, s.cust)
        case "c_acctbal" => jittered("c_acctbal", "customer", i, "c_custkey")
      }),
      "orders" -> replicate(orders)(i => {
        case "o_orderkey" => shift("o_orderkey", i, s.order)
        case "o_custkey" => shift("o_custkey", i, s.cust)
        case "o_totalprice" => jittered("o_totalprice", "orders", i, "o_orderkey")
      }),
      "lineitem" -> replicate(lineitem)(i => {
        case "l_orderkey" => shift("l_orderkey", i, s.order)
        case "l_extendedprice" =>
          jittered("l_extendedprice", "lineitem", i, "l_orderkey", "l_linenumber")
      }))
  }
}
