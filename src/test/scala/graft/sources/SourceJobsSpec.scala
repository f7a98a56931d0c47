package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Steal, Tables}

/** Resolving a source table runs no Spark job: the parquet schema comes
  * from a footer read on the driver, and a steal resolves each table once.
  * A reintroduced per-load job (schema inference, a re-load per child
  * table) shows here as a job count. */
class SourceJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Jobs `body` submits, counted by job group. The status tracker is fed
    * by the asynchronous listener bus, in event order, so a marker job
    * runs after `body` in a group of its own: once the marker is visible,
    * so is every job `body` ran. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID()
    val (group, marker) = (s"graft-jobs-$id", s"graft-marker-$id")
    sc.setJobGroup(group, "counted")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(marker, "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, "marker job never seen")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("file-DSN reads and Tables.load submit no Spark job") {
    val dsn = Steal.dirDsn(sf)
    assert(jobsOf(Tables.all.foreach(t => Drivers.read(spark, dsn, t).schema)) == 0)
    assert(jobsOf(Tables.all.foreach(t => Tables.load(spark, sf, t).schema)) == 0)
  }

  test("a config-less steal over sf0.001 runs one job per catalog table") {
    val dir = Files.createTempDirectory("graft_steal_jobs").toString
    val catalog = Drivers.listTables(spark, Steal.dirDsn(sf))
    var reports = Seq.empty[Steal.StealReport]
    val jobs = jobsOf {
      reports = Steal.runDsn(spark, Steal.dirDsn(sf), Steal.dirDsn(dir),
        tables = Nil, concurrency = 2)
    }
    assert(reports.size == catalog.size && reports.forall(_.ok))
    assert(jobs == catalog.size)
  }
}
