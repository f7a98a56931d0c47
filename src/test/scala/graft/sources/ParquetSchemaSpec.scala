package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, LongType, StructType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Steal, Tables}

/** [[Tables.parquet]] reads a table's schema from one footer on the
  * driver; the DataFrame it returns must carry exactly the schema
  * `spark.read.parquet` infers, and take Spark's own path wherever that
  * inference would look past one footer. */
class ParquetSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def sameAsSpark(path: String): StructType = {
    val want = spark.read.parquet(path).schema
    val got = Tables.parquet(spark, path).schema
    assert(got == want, s"$path:\n  footer: ${got.treeString}\n  spark: ${want.treeString}")
    got
  }

  test("every testdata table: the footer schema equals Spark's inferred schema") {
    for (dir <- dirs; t <- Tables.all) {
      val path = s"$dir/$t.parquet"
      assert(Tables.footerSchema(spark, path).isDefined, s"$path fell back")
      sameAsSpark(path)
    }
    // the covered types include the embeddings arrays and the events
    // timestamps; the testdata's money columns are doubles, so decimals
    // are covered by the Spark-written directory below
    def typeOf(t: String, c: String) =
      Tables.parquet(spark, s"${dirs.head}/$t.parquet").schema(c).dataType
    assert(typeOf("embeddings", "embedding").isInstanceOf[ArrayType])
    assert(Seq(TimestampType, TimestampNTZType, LongType).contains(typeOf("events", "ts")))
  }

  test("a Spark-written multi-file directory reads its first part file's footer") {
    val dir = s"${tmp("graft_footer_multi")}/t.parquet"
    val df = spark.range(0, 200, 1, 4)
      .withColumn("amount", (col("id") / 7).cast(DecimalType(12, 2)))
      .withColumn("at", timestamp_seconds(col("id")))
      .withColumn("vec", array(col("id").cast("float"), lit(1.5f)))
      .withColumn("tags", map(lit("k"), col("id").cast("string")))
      .withColumn("nested", struct(col("id").as("a"), lit("x").as("b")))
    df.write.parquet(dir)
    val parts = new java.io.File(dir).list().filter(_.startsWith("part-"))
    assert(parts.count(_.endsWith(".parquet")) == 4)
    assert(Tables.footerSchema(spark, dir).isDefined)
    sameAsSpark(dir)
    // set operations take no map column
    val got = Tables.parquet(spark, dir).drop("tags")
    assert(got.exceptAll(spark.read.parquet(dir).drop("tags")).isEmpty && got.count() == 200)
  }

  test("a Hive-partitioned directory falls back and keeps its partition column") {
    val dir = s"${tmp("graft_footer_part")}/t.parquet"
    spark.range(40).withColumn("p", col("id") % 3).write.partitionBy("p").parquet(dir)
    assert(Tables.footerSchema(spark, dir).isEmpty)
    assert(sameAsSpark(dir).fieldNames.toSeq == Seq("id", "p"))
  }

  test("summary files and mergeSchema leave inference to Spark") {
    val dir = s"${tmp("graft_footer_summary")}/t.parquet"
    spark.range(10).write.parquet(dir)
    assert(Tables.footerSchema(spark, dir).isDefined)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(Tables.footerSchema(spark, dir).isEmpty)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    Files.copy(
      java.nio.file.Paths.get(dir, new java.io.File(dir).list().filter(_.endsWith(".parquet")).head),
      java.nio.file.Paths.get(dir, "_common_metadata"))
    assert(Tables.footerSchema(spark, dir).isEmpty)
    sameAsSpark(dir)
  }

  test("an empty or missing directory raises Spark's own exception class") {
    def failure(read: String => DataFrame, path: String): Class[_] =
      intercept[Exception](read(path).schema).getClass
    val empty = tmp("graft_footer_empty")
    val missing = s"$empty/no_such.parquet"
    for (path <- Seq(empty, missing))
      assert(failure(Tables.parquet(spark, _), path) == failure(spark.read.parquet(_), path), path)
  }

  test("file DSN reads and listings agree with the directory helpers") {
    val dir = dirs.head
    val dsn = Steal.dirDsn(dir)
    assert(Drivers.listTables(spark, dsn) == Tables.all.sorted)
    for (t <- Tables.all)
      assert(Drivers.read(spark, dsn, t).schema == Tables.load(spark, dir, t).schema, t)
  }
}
