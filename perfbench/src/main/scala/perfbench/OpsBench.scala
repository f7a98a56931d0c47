package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** The operator workload: a closed loop with one client runs passes over
  * a fixed list of `SparkEntry.queries`, each materialized through the
  * `noop` sink, in a seeded visit order. */
object OpsBench {

  /** The ROADMAP's stage-job-floor targets: the registered queries that
    * run the most Spark jobs per call (17 to 38 each at sf0.01). */
  val Queries: Seq[String] = Seq(
    "ns18_dedup_index_update", "ns110_thread_paths", "ns113_fk_orphans",
    "ns136_ivm_dupmass")

  /** Timed passes a run makes at the least, so each query's time is a
    * median and not a single sample. */
  val MinPasses = 3

  /** Output digest of every query, from one untimed pass. Queries that
    * throw are reported in `failed` with their error. */
  def digests(env: Env, order: Seq[String]): (Map[String, (Long, String)], Map[String, String]) = {
    val ok = mutable.LinkedHashMap.empty[String, (Long, String)]
    val failed = mutable.LinkedHashMap.empty[String, String]
    order.foreach { q =>
      try ok(q) = Env.digests(Seq(q -> SparkEntry.queries(q)(env.spark, env.data)))(q)
      catch { case e: Exception => failed(q) = String.valueOf(e.getMessage) }
      release(env)
    }
    (ok.toMap, failed.toMap)
  }

  /** Drops the blocks a finished query pinned, as the Bench harness does,
    * so later queries do not pay for earlier ones' checkpoints. */
  private def release(env: Env): Unit =
    env.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  def run(env: Env, recorded: Map[String, String]): Result = {
    val checks = new Tally
    val order = new scala.util.Random(env.seed).shuffle(Queries)
    env.log(s"visit order: ${order.mkString(" ")}")

    // the untimed digest pass doubles as the warm-up
    var rowsPerPass = 0L
    val warmS = Env.time {
      val (ok, failed) = digests(env, order)
      failed.foreach { case (q, e) => checks.add(s"query.$q", ok = false, e) }
      ok.foreach { case (q, (rows, d)) =>
        rowsPerPass += rows
        checks.add(s"digest.$q", recorded.get(q).contains(d),
          s"$d != recorded ${recorded.getOrElse(q, "none")}")
      }
    }
    val setupS = env.sessionS + warmS
    env.log(f"setup: session ${env.sessionS}%.2f s, digest pass $warmS%.2f s")

    val probe = if (env.trace) Some(new Probe(env.spark)) else None
    val times = mutable.LinkedHashMap(order.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val counts = mutable.LinkedHashMap(order.map(_ -> mutable.ArrayBuffer.empty[Probe.Counts]): _*)
    val passes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < env.seconds) {
      var pass = 0.0
      order.foreach { q =>
        probe.foreach(_.take())
        try {
          val s = Env.time(SparkEntry.queries(q)(env.spark, env.data)
            .write.mode("overwrite").format("noop").save())
          times(q) += s
          pass += s
          checks.add(s"query.$q", ok = true, "")
        } catch { case e: Exception => checks.add(s"query.$q", ok = false, String.valueOf(e.getMessage)) }
        probe.foreach(p => counts(q) += p.take())
        release(env)
      }
      passes += pass
    }
    env.log(s"passes: ${passes.map(x => f"$x%.3f").mkString(" ")} s")

    // a pass is the sum of its queries; with several passes, summing the
    // per-query medians keeps one slow query in one pass from setting it
    val medians = times.collect { case (q, ts) if ts.nonEmpty => q -> Stats.median(ts.toSeq) }
    val suiteS = medians.values.sum
    val geomeanS = Stats.geomean(medians.values.toSeq)
    val rowsPerS = rowsPerPass / suiteS
    medians.foreach { case (q, m) => env.log(f"  $q%-26s p50 $m%.4f s") }

    val layers = probe.map { p =>
      p.close()
      env.log(f"${"query"}%-26s ${"p50_s"}%8s ${"jobs"}%5s ${"stages"}%6s ${"catalyst_ms"}%11s ${"run_s"}%7s ${"shuffle_b"}%10s")
      val perQuery = order.filter(q => counts(q).nonEmpty).map { q =>
        def med(f: Probe.Counts => Double) = Stats.median(counts(q).toSeq.map(f))
        val row = (med(_.jobs.toDouble), med(_.stages.toDouble), med(_.catalystMs.toDouble),
          med(_.runMs / 1e3), med(_.shuffleBytes.toDouble), med(_.spillBytes.toDouble))
        env.log(f"$q%-26s ${medians.getOrElse(q, 0.0)}%8.3f ${row._1}%5.0f ${row._2}%6.0f ${row._3}%11.0f ${row._4}%7.3f ${row._5}%10.0f")
        row
      }
      val runS = perQuery.map(_._4).sum
      Map(
        "ops.jobs" -> perQuery.map(_._1).sum,
        "ops.stages" -> perQuery.map(_._2).sum,
        "ops.catalyst_ms" -> perQuery.map(_._3).sum,
        "ops.executor_run_s" -> runS,
        "ops.shuffle_bytes" -> perQuery.map(_._5).sum,
        "ops.spill_bytes" -> perQuery.map(_._6).sum,
        "ops.core_util" -> runS / (medians.values.sum * env.cpus))
    }
    Result(setupS, suiteS, rowsPerS, passes.toSeq, checks, layers.getOrElse(Map.empty),
      Seq(("suite_s", suiteS, "s"), ("query_geomean_s", geomeanS, "s")))
  }
}
