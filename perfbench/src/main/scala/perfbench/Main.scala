package perfbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.{lit, to_date}

import graft.{PlatformProvider, SparkEntry}
import graft.domain.{BackfillConfig, OnlineSyncConfig, PointInTimeJoinConfig, TrainingData}
import graft.operators.{BackfillPipeline, OnlineSyncPipeline, PointInTimeJoinPipeline}
import graft.serving.FeatureServer
import graft.sources.{InMemoryKVStore, ProdFetcher, ProdWriter}

/** One benchmark run in one JVM: `perfbench.Main <workload> <seed>
  * <seconds> <trace 0|1> <input dir> <composite data dir> <out dir>`.
  * It sets up, measures for `seconds`, dumps what the output checks need and
  * writes `result.json` (and `trace.jsonl` when tracing) into the out dir.
  * Set-up and output dumps sit outside the timed region.
  */
object Main {

  // feature_refresh: the backfill window is the last 30 of the 60 generated
  // days; the incremental run redoes the last 3; the sync keeps rows from
  // the last week (a fixed cutoff, so outputs do not depend on the clock)
  val WindowStart = "2024-01-01"
  val WindowEnd = "2024-01-30"
  val IncrementalStart = "2024-01-28"
  val SyncCutoff = "2024-01-24"
  val FeaturesTable = "features_daily"

  /** Contract queries a traced feature_refresh run adds once each, so the
    * trace also covers driver-bound iterative plans and a streaming query.
    */
  val CompositeQueries = Seq("q155_host_pagerank", "q161_hits", "q188_streaming_interval_join")

  /** online_serving: the rate ladder (requests/s), the p-tail limit, and
    * the share of requested ids that have no features.
    */
  val Ladder = Seq(30, 60, 120, 240, 480, 960, 1920, 3840, 7680)
  val LatencyLimitMs = 100.0
  val RungSeconds = 0.5
  val WarmupSeconds = 2.0
  val QuietMillis = 1000L
  val MissShare = 0.1

  private val mapper = new ObjectMapper()

  final class Run(val workload: String, val seed: Long, val seconds: Double,
      val trace: Boolean, val input: String, val data: String, val out: String) {
    val result = mutable.LinkedHashMap.empty[String, Any]
    val heap = new HeapWatch
    val checks = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    /** Runs one operation; a failure is counted, never timed. */
    def attempt[T](body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"perfbench: operation failed: $e")
          None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.head == "init") return init(args(1))
    val Array(workload, seed, seconds, trace, input, data, out) = args
    val run = new Run(workload, seed.toLong, seconds.toDouble, trace == "1", input, data, out)
    val t0 = System.nanoTime()
    val platform = session(out)
    val spark = platform.spark
    spark.sparkContext.setLogLevel("ERROR")
    run.result("session_s") = (System.nanoTime() - t0) / 1e9
    run.result("box") = Map(
      "spark" -> spark.version,
      "jvm" -> System.getProperty("java.runtime.version"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    val tracer = new Tracer(spark)
    val runStart = Clock.nowUs
    val gc0 = gcSeconds()
    try workload match {
      case "feature_refresh" => featureRefresh(spark, run, tracer)
      case "online_serving" => onlineServing(spark, run, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally tracer.disable()
    if (run.trace) {
      run.result("gc_s") = gcSeconds() - gc0
      tracer.write(s"$out/trace.jsonl", workload, runStart, Clock.nowUs)
    }
    run.result("heap_live_mb") = run.heap.liveMb
    run.result("attempted") = run.attempted
    run.result("failed") = run.failed
    run.result("checks") = run.checks.toMap
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(s"$out/result.json"), toJava(run.result.toMap))
    platform.stop()
  }

  private def session(out: String) = PlatformProvider.createLocal("perfbench", Map(
    "spark.sql.warehouse.dir" -> s"$out/warehouse",
    "spark.local.dir" -> s"$out/tmp",
    "spark.hadoop.hive.exec.scratchdir" -> s"$out/tmp/hive",
    "spark.hadoop.hive.exec.local.scratchdir" -> s"$out/tmp/hive-local"))

  /** Creates the Hive metastore schema in `out` (the working directory). A
    * deployed feature store opens an existing metastore; run.py copies this
    * one into every run, so set-up time does not count the schema build.
    */
  private def init(out: String): Unit = {
    val platform = session(out)
    platform.spark.catalog.listTables().collect()
    platform.stop()
  }

  /** Times `body` in seconds, or None when it failed. */
  private def timed(run: Run)(body: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    run.attempt(body).map(_ => (System.nanoTime() - t0) / 1e9)
  }

  /** Measures units until `seconds` have passed (at least `min` units).
    * A full collection follows every unit, outside its time: it samples the
    * live heap and leaves each unit the same clean heap to start from.
    * When tracing, every other unit runs with the listeners on: the traced
    * units give the per-layer numbers, and traced against untraced units
    * gives the tracing overhead.
    */
  private def measure(run: Run, tracer: Tracer, min: Int)(unit: () => Option[Double]): Unit = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      val on = run.trace && i % 2 == 1
      if (on) tracer.enable() else tracer.disable()
      val c0 = cpuSeconds()
      unit().foreach { s =>
        if (on) traced += s
        else { plain += s; cpu += cpuSeconds() - c0 }
      }
      run.heap.sample()
      i += 1
    }
    tracer.disable()
    run.result("unit_s") = plain.toSeq
    run.result("unit_cpu_s") = cpu.toSeq
    if (run.trace) {
      run.result("traced_unit_s") = traced.toSeq
      if (plain.nonEmpty && traced.nonEmpty)
        run.result("overhead_pct") = (median(traced.toSeq) / median(plain.toSeq) - 1) * 100
    }
  }

  // ---- feature_refresh ------------------------------------------------

  private def featureRefresh(spark: SparkSession, run: Run, tracer: Tracer): Unit = {
    val events = s"${run.input}/events.parquet"
    val training = s"${run.out}/training"
    val ops = mutable.LinkedHashMap(
      "backfill" -> mutable.ArrayBuffer.empty[Double],
      "pit_join" -> mutable.ArrayBuffer.empty[Double],
      "online_sync" -> mutable.ArrayBuffer.empty[Double],
      "incremental_backfill" -> mutable.ArrayBuffer.empty[Double])
    var synced = 0L
    val outputs = Seq(s"${run.out}/warehouse", training)
    def step(name: String)(body: => Unit): Option[Double] = {
      val since = System.currentTimeMillis()
      val s = timed(run)(tracer.phase(name)(body))
      tracer.countWrites(name, outputs, since)
      s.foreach(ops(name) += _)
      s
    }
    def cycle(): Option[Double] = {
      InMemoryKVStore.clear()
      CountingKV.reset()
      CountingKV.timed = tracer.isEnabled
      var pit: Option[org.apache.spark.sql.Dataset[TrainingData]] = None
      val steps = Seq(
        step("backfill")(BackfillPipeline.run(spark, ProdFetcher, ProdWriter,
          BackfillConfig(events, FeaturesTable, WindowStart, WindowEnd))),
        step("pit_join") { pit = PointInTimeJoinPipeline.run(spark, ProdFetcher, ProdWriter,
          PointInTimeJoinConfig(s"${run.input}/labels.parquet", FeaturesTable, training)) },
        step("online_sync") { synced = OnlineSyncPipeline.run(spark, ProdFetcher,
          OnlineSyncConfig(FeaturesTable), () => CountingKV,
          Some(to_date(lit(SyncCutoff)))) },
        step("incremental_backfill")(BackfillPipeline.runIncremental(spark, ProdFetcher,
          ProdWriter, BackfillConfig(events, FeaturesTable, IncrementalStart, WindowEnd))))
      pit.foreach(_.unpersist())
      if (tracer.isEnabled) {
        run.result("kv_sets") = CountingKV.sets.sum.toDouble
        run.result("kv_set_s") = CountingKV.setNs.sum / 1e9
      }
      CountingKV.timed = false
      if (steps.forall(_.isDefined)) Some(steps.flatten.sum) else None
    }
    // two untimed cycles; the JIT is still compiling through the next ones,
    // so the timed cycles are at least four and report their median
    val c0 = System.nanoTime()
    cycle()
    cycle()
    run.heap.sample()
    run.result("cold_s") = (System.nanoTime() - c0) / 1e9
    run.result("cold_ops_s") = ops.map { case (k, v) => k -> v.sum }.toMap
    ops.values.foreach(_.clear())
    measure(run, tracer, min = 4)(() => cycle())
    run.result("ops_s") = ops.map { case (k, v) => k -> v.toSeq }.toMap
    if (run.trace) compositeQueries(spark, run, tracer)
    if (run.trace) run.result("layers") = tracer.layers(
      Set("backfill", "pit_join", "incremental_backfill"),
      CompositeQueries.filter(_.contains("streaming")).toSet) ++
      run.result.get("kv_sets").map(v => "online_sync.kv_sets" -> v) ++
      run.result.get("kv_set_s").map(v => "online_sync.kv_set_s" -> v)

    // outputs of the last cycle, for the DuckDB checks
    writeJson(s"${run.out}/check/oracle_sql.json",
      Seq("q14_backfill", "q15_pit_join", "q17_online_payload")
        .map(q => q -> SparkEntry.oracleSql(q)).toMap)
    run.attempt {
      spark.table(FeaturesTable).write.mode("overwrite").parquet(s"${run.out}/check/features")
      spark.read.schema(Encoders.product[TrainingData].schema).parquet(training)
        .write.mode("overwrite").parquet(s"${run.out}/check/training")
      import spark.implicits._
      InMemoryKVStore.snapshot.toSeq.toDF("key", "value")
        .write.mode("overwrite").parquet(s"${run.out}/check/kv")
      run.checks("kv_sets_equal_synced_rows") =
        if (CountingKV.sets.sum == synced && synced == InMemoryKVStore.snapshot.size) "ok"
        else s"sets ${CountingKV.sets.sum}, synced rows $synced, keys ${InMemoryKVStore.snapshot.size}"
    }
  }

  // ---- composite queries (traced runs) -------------------------------

  /** Runs each composite query once under tracing, writing its output for
    * the oracle compare; caches are released afterwards, as graft.Bench does.
    */
  private def compositeQueries(spark: SparkSession, run: Run, tracer: Tracer): Unit = {
    writeJson(s"${run.out}/composite/oracle_sql.json",
      CompositeQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    tracer.enable()
    CompositeQueries.foreach { q =>
      run.attempt(tracer.phase(q) {
        SparkEntry.queries(q)(spark, run.data)
          .write.mode("overwrite").parquet(s"${run.out}/composite/$q")
      })
      try spark.catalog.clearCache() catch { case NonFatal(_) => () }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(r => try r.unpersist(blocking = false) catch { case NonFatal(_) => () })
    }
    tracer.disable()
  }

  // ---- online_serving -------------------------------------------------

  private def onlineServing(spark: SparkSession, run: Run, tracer: Tracer): Unit = {
    val events = s"${run.input}/events.parquet"
    // cold pass: build the online store the way production does
    val c0 = System.nanoTime()
    InMemoryKVStore.clear()
    run.attempt {
      BackfillPipeline.run(spark, ProdFetcher, ProdWriter,
        BackfillConfig(events, FeaturesTable, WindowStart, WindowEnd))
      OnlineSyncPipeline.run(spark, ProdFetcher, OnlineSyncConfig(FeaturesTable),
        () => CountingKV, Some(to_date(lit(SyncCutoff))))
    }
    val kv = InMemoryKVStore.snapshot
    // the request path needs no Spark: stop it, so its background threads
    // and a collector or JIT backlog from the sync do not share the cores
    // with the measured requests
    spark.stop()
    System.gc()
    Thread.sleep(QuietMillis)
    val server = FeatureServer.start(0, CountingKV)
    val conns = Runtime.getRuntime.availableProcessors
    val ids = requestIds(kv.keys.map(_.stripPrefix("features:")).toIndexedSeq.sorted, run.seed)
    val limitNs = LatencyLimitMs * 1e6
    val all = mutable.ArrayBuffer.empty[Load.Result]
    // `ids` is consumed in order across rungs, so each rung sees fresh keys
    var offset = 0
    def rung(rate: Int, seconds: Double): Load.Result = {
      val r = Load.run(server.port, ids.drop(offset) ++ ids.take(offset), rate, seconds, conns)
      offset = (offset + r.outcomes.length) % ids.size
      all += r
      run.attempted += r.outcomes.length
      run.failed += r.outcomes.count(_.status < 0)
      r
    }
    def ok(o: Outcome) = o.status > 0
    def latMs(r: Load.Result) = r.outcomes.filter(ok).map(_.latencyNs / 1e6).toSeq
    def passes(r: Load.Result): Boolean = {
      val (_, tail) = tailOf(latMs(r))
      r.outcomes.forall(ok) && tail <= LatencyLimitMs && r.backlogAtEnd <= conns
    }
    def achieved(r: Load.Result): Double = {
      val good = r.outcomes.filter(o => ok(o) && o.latencyNs <= limitNs)
      val span = (r.outcomes.map(_.doneNs).max - r.outcomes.head.dueNs) / 1e9
      good.length / span
    }
    try {
      val low = Ladder.head
      // warm the request path (JIT, connections) before anything is timed;
      // these answers are checked like the rest
      rung(Ladder(1), WarmupSeconds)
      run.result("cold_s") = (System.nanoTime() - c0) / 1e9
      if (!run.trace) {
        val base = rung(low, run.seconds)
        run.heap.sample()
        val lat = latMs(base)
        val (pct, tail) = tailOf(lat)
        run.result("unit_s") = lat.map(_ / 1e3)
        run.result("p50_ms") = median(lat)
        run.result("tail_ms") = tail
        run.result("tail_pct") = pct
        // climb, half a second a rung, while the limit holds
        var best = if (passes(base)) Some(base) else None
        val climbed = Ladder.tail.iterator.map(rate => rung(rate, RungSeconds)).takeWhile(passes).toSeq
        best = climbed.lastOption.orElse(best)
        run.result("max_rate") = achieved(best.getOrElse(base))
        run.result("max_rung") = best.map(_.rate).getOrElse(0)
        run.result("rungs") = all.map(r => Map("rate" -> r.rate, "passed" -> passes(r),
          "tail_ms" -> tailOf(latMs(r))._2, "backlog" -> r.backlogAtEnd)).toSeq
      } else {
        // traced run: the lowest rung untraced, then traced
        val plain = rung(low, run.seconds / 2)
        CountingKV.reset()
        CountingKV.timed = true
        val traced = rung(low, run.seconds / 2)
        CountingKV.timed = false
        run.heap.sample()
        val gets = CountingKV.getSpans.asScala.toSeq.groupBy(_._1)
        traced.outcomes.zipWithIndex.foreach { case (o, i) =>
          val id = tracer.newId()
          val start = Clock.nowUs - (System.nanoTime() - o.dueNs) / 1000
          val end = start + o.latencyNs / 1000
          tracer.add(Span(id, tracer.workloadSpan, "lookup", start, end, i))
          gets.getOrElse("features:" + o.userId, Nil)
            .filter { case (_, s, e) => s >= start && e <= end }
            .foreach { case (_, s, e) => tracer.add(Span(tracer.newId(), id, "kv.get", s, e, i)) }
        }
        val good = traced.outcomes.filter(ok)
        val kvUs = CountingKV.getNs.sum / 1e3 / math.max(1L, CountingKV.gets.sum)
        run.result("unit_s") = latMs(plain).map(_ / 1e3)
        run.result("traced_unit_s") = latMs(traced).map(_ / 1e3)
        run.result("overhead_pct") = (median(latMs(traced)) / median(latMs(plain)) - 1) * 100
        run.result("layers") = Map(
          "lookup.tail_ms" -> tailOf(latMs(plain))._2,
          "lookup.kv_get_us" -> kvUs,
          "lookup.http_us" -> (good.map(o => (o.doneNs - o.sentNs) / 1e3).sum / good.length - kvUs),
          "lookup.hit_ratio" -> good.count(_.status == 200).toDouble / good.length,
          "lookup.generator_late_ms" -> percentile(traced.outcomes.map(_.lateNs / 1e6).toSeq, 99))
      }
    } finally server.stop()
    // every answer against the store: 200 with the stored payload for a
    // present id, 404 for an absent one
    var wrong = 0L
    var firstWrong = ""
    all.iterator.flatMap(_.outcomes).filter(ok).foreach { o =>
      val stored = kv.get("features:" + o.userId)
      val good = stored match {
        case None => o.status == 404
        case Some(v) => o.status == 200 && {
          val b = mapper.readTree(o.body)
          b.get("user_id").asText == o.userId && b.get("source").asText == "online" &&
            b.get("features") == mapper.readTree(v)
        }
      }
      if (!good) { wrong += 1; if (firstWrong.isEmpty) firstWrong = s"${o.userId}: ${o.status} ${o.body}" }
    }
    run.checks("responses_match_store") = if (wrong == 0) "ok" else s"$wrong wrong, first $firstWrong"
    run.result("keys") = kv.size
    run.result("requests") = all.map(_.outcomes.length).sum
  }

  /** The request stream: Zipf(s=1) popularity over the present ids in a
    * seeded order, with a `MissShare` of ids that no user has.
    */
  private def requestIds(present: IndexedSeq[String], seed: Long): IndexedSeq[String] = {
    val rnd = new SplittableRandom(seed)
    val order = present.toArray
    for (i <- order.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val cdf = order.indices.scanLeft(0.0)((acc, r) => acc + 1.0 / (r + 1)).tail.toArray
    val total = cdf.last
    IndexedSeq.fill(200000) {
      if (rnd.nextDouble() < MissShare) f"x${rnd.nextInt(10000000)}%07d"
      else {
        val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * total)
        order(if (i >= 0) i else -i - 1)
      }
    }
  }

  // ---- helpers ----------------------------------------------------------

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = p / 100 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }

  /** The highest of p99, p95, p90 with at least ten samples beyond it, else
    * the maximum.
    */
  def tailOf(xs: Seq[Double]): (Double, Double) =
    Seq(99.0, 95.0, 90.0).find(p => xs.size * (100 - p) / 100 >= 10)
      .map(p => (p, percentile(xs, p))).getOrElse((100.0, if (xs.isEmpty) Double.NaN else xs.max))

  /** CPU time of the whole JVM, every thread (with the JIT and collector). */
  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def writeJson(path: String, v: Any): Unit = {
    new java.io.File(path).getParentFile.mkdirs()
    mapper.writeValue(new java.io.File(path), toJava(v))
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }
}

/** The heap in use right after a full collection, as the median over the
  * points the workload samples it: the live set between units of work.
  * A median, because Spark's cleaner frees unreferenced broadcasts and
  * shuffles on its own thread, some time after the collection found them.
  */
final class HeapWatch {
  private val samples = mutable.ArrayBuffer.empty[Double]
  def sample(): Unit = {
    System.gc()
    samples += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def liveMb: Double = Main.median(samples.toSeq)
}
