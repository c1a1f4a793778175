package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Measurement tool (optimization guide §1, §2.4/§7.3): run named contract
  * queries under a SparkListener and report, per query, the JOB / STAGE /
  * TASK counts alongside the wall seconds — the fixed-cost decomposition
  * the sf0.1 bench can't show (sub-second queries are dominated by
  * jobs x stages x plan analysis, the same per-operation overheads that
  * multiply at 100 TB). Usage:
  *
  *   sbt "runMain graft.JobStats <sfDir> [q49,q155,... | all]"
  *
  * Names match by [[SparkEntry.queryFilter]] (`all` selects every query).
  * Two samples per query (cache cleared between queries, never between
  * samples — Bench's convention); counts and seconds are reported for
  * BOTH samples, because a first-touch job (codegen, persist build) that
  * disappears in the warm sample is itself a finding. Output: one JSON line
  * per query plus a sorted summary of (jobs+stages)/sec offenders.
  */
object JobStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spec = args.drop(1).headOption.getOrElse("all")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "2000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)

    def drain(): Unit = {
      // listener events are queued (the bus API is private) — poll the
      // counters until stable across consecutive looks, bounded, so counts
      // attribute to the query that produced them
      val deadline = System.nanoTime() + 10L * 1000000000L
      var last = (-1, -1, -1L)
      var stable = 0
      while (stable < 3 && System.nanoTime() < deadline) {
        val now = (jobs.get(), stages.get(), tasks.get())
        if (now == last) stable += 1 else { stable = 0; last = now }
        if (stable < 3) Thread.sleep(30)
      }
    }
    def releaseCaches(): Unit = {
      try spark.catalog.clearCache() catch { case scala.util.control.NonFatal(_) => () }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(r => try r.unpersist(blocking = false) catch { case scala.util.control.NonFatal(_) => () })
    }
    case class Sample(sec: Double, jobs: Int, stages: Int, tasks: Long)
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Sample] = {
      drain()
      val (j0, s0, t0) = (jobs.get(), stages.get(), tasks.get())
      val w0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - w0) / 1e9
        try df.unpersist() catch { case scala.util.control.NonFatal(_) => () }
        drain()
        Some(Sample(sec, jobs.get() - j0, stages.get() - s0, tasks.get() - t0))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[jobstats] FAILED: ${e.getMessage}")
        None
      }
    }

    val only: String => Boolean =
      if (spec.split(',').contains("all")) _ => true else SparkEntry.queryFilter(spec)
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(only)
    val rows = names.flatMap { name =>
      val fn = SparkEntry.queries(name)
      val s1 = once(fn)
      val s2 = once(fn)
      releaseCaches()
      (s1, s2) match {
        case (Some(a), Some(b)) =>
          println(s"""{"query":"$name","sec":[${f"${a.sec}%.3f"},${f"${b.sec}%.3f"}],"jobs":[${a.jobs},${b.jobs}],"stages":[${a.stages},${b.stages}],"tasks":[${a.tasks},${b.tasks}]}""")
          Some((name, b))
        case _ =>
          println(s"""{"query":"$name","failed":true}""")
          None
      }
    }
    // offenders: fixed-cost density of the WARM sample — jobs+stages per
    // second, weighted by the seconds themselves so a 10-job 0.1s query
    // ranks below a 40-job 3s one: the sortable quantity is just
    // (jobs + stages), the removable driver-side work
    val top = rows.sortBy { case (_, s) => -(s.jobs + s.stages) }.take(25)
    System.err.println("[jobstats] top by warm (jobs+stages):")
    top.foreach { case (n, s) =>
      System.err.println(f"[jobstats]   ${s.jobs + s.stages}%5d  (${s.jobs}%3d jobs, ${s.stages}%4d stages, ${s.tasks}%6d tasks, ${s.sec}%6.2f s)  $n")
    }
    SparkEntry.cleanupScratch(spark, sfDir)
    spark.stop()
  }
}
