package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkTestBase

/** Determinism of the oracle-gated streaming contracts (q186-q189).
  *
  * Every contract runs through one replay harness whose flush barrier is
  * the engine's: q186-q188 add all their input (data, replays, the
  * far-future sentinel) before the query starts and run it with
  * `Trigger.AvailableNow`, which terminates only after the no-data batch
  * that acts on the sentinel's watermark; q189 drives its two contractual
  * batches with `processAllAvailable`, and its plan schedules no no-data
  * batch. The stress tests run each contract many times in one session
  * while varying everything the harness is supposed to be invariant to —
  * state-store partition count, the session's shuffle-partition setting,
  * and prior-query session state — and assert the emitted rows are
  * bit-identical every time AND equal to the batch formulation. A
  * listener test pins the barrier itself: a replay commits a fixed number
  * of micro-batches and runs the same Spark jobs on every call.
  */
class StreamingDeterminismSpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic synthetic event log: ~600 rows over 3 days at second
    * grain (timestamp collisions guaranteed), NULL values sprinkled in,
    * and content-duplicate rows (distinct event ids, identical
    * user/type/ts/value) so the dedup stage has real work.
    */
  private lazy val events: DataFrame = {
    val base = 1704067200000000L // 2024-01-01T00:00Z in micros
    val generated = (0 until 600).map { i =>
      val user = (i * 37 % 23).toLong
      val etype = Seq("click", "view", "purchase")(i % 3)
      val us = base + (i.toLong * 7919L % 259200L) * 1000000L
      val value = if (i % 11 == 0) None else Some((i * 31 % 997).toDouble / 10.0)
      (i.toLong, user, etype, new Timestamp(us / 1000L), value)
    }
    // Session-gap boundary pins (no generated pair lands exactly on the
    // 30-min gap, so these make the boundary load-bearing): user 100 has
    // two events exactly gap apart (MUST merge into one session — Spark
    // session_window's `>` break, same as q54); user 101 has two events
    // gap+1s apart (MUST split into two sessions).
    val gapUs = 1800000000L
    val boundary = Seq(
      (600L, 100L, "click", new Timestamp(base / 1000L), Some(1.5)),
      (601L, 100L, "view", new Timestamp((base + gapUs) / 1000L), Some(2.5)),
      (602L, 101L, "click", new Timestamp(base / 1000L), Some(3.5)),
      (603L, 101L, "view",
        new Timestamp((base + gapUs + 1000000L) / 1000L), Some(4.5)))
    (generated ++ boundary)
      .toDF("event_id", "user_id", "event_type", "ts", "value")
  }

  /** The q186 batch formulation (distinct quantized rows -> floor-hour
    * windows), computed without any streaming machinery.
    */
  private def batchWindows(e: DataFrame): DataFrame =
    e.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        expr("CAST(floor(value * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("value_fp"))
      .distinct()
      .withColumn("window_start_us", expr("(us div 3600000000) * 3600000000"))
      .groupBy(col("window_start_us"), col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_fp")).as("sum_value_fp"))

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  /** What one replay call runs: the number of distinct micro-batch ids
    * each replay query it starts reports, and the Spark jobs it starts —
    * from this thread (input and sink collects) and from its queries'
    * stream threads.
    */
  private def observe(body: => DataFrame): (Seq[Int], Int) = {
    val group = s"replay-${System.nanoTime()}"
    val started = ConcurrentHashMap.newKeySet[String]()
    val batchIds = new ConcurrentHashMap[String, java.util.Set[Long]]()
    val jobs = new AtomicInteger(0)
    // QueryStartedEvent reaches the session's listeners synchronously on
    // the stream thread, before the query runs any job
    val queries = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith("graft_stream_"))) started.add(e.id.toString)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (started.contains(e.progress.id.toString))
          batchIds.computeIfAbsent(e.progress.id.toString,
            _ => ConcurrentHashMap.newKeySet[Long]()).add(e.progress.batchId)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("spark.jobGroup.id") == group ||
              Option(p.getProperty(StreamExecution.QUERY_ID_KEY)).exists(started.contains))
            jobs.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    spark.streams.addListener(queries)
    sc.addSparkListener(probe)
    try {
      sc.setJobGroup(group, "replay")
      body
      GraftColumnBridge.waitForListeners(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(probe)
      spark.streams.removeListener(queries)
    }
    (batchIds.values.asScala.map(_.size).toSeq, jobs.get)
  }

  test("a replay commits two micro-batches and runs the same jobs on every call") {
    val replays = Seq[(String, () => DataFrame)](
      "q186" -> (() => EventStream.windowedIngestReplay(spark, events, replayMod = 5L)),
      "q187" -> (() => EventStream.sessionIngestReplay(spark, events)),
      "q188" -> (() => EventStream.intervalJoinReplay(spark, events)),
      "q189" -> (() => EventStream.statefulSnapshotReplay(spark, events)))
    replays.foreach { case (tag, run) =>
      val (firstBatches, firstJobs) = observe(run())
      val (secondBatches, secondJobs) = observe(run())
      withClue(s"$tag: ") {
        firstBatches shouldBe Seq(2)
        secondBatches shouldBe Seq(2)
        secondJobs shouldBe firstJobs
      }
    }
  }

  test("windowed ingest replay is bit-identical across 20 runs, partition counts, and session noise") {
    val expected = canon(batchWindows(events)
      .select("window_start_us", "user_id", "event_type", "n_events", "sum_value_fp"))
    expected should not be empty
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val stateParts = Seq(1, 2, 3, 4, 5, 7, 8)
      (0 until 20).foreach { i =>
        // vary the SESSION shuffle setting too: the harness pins its own
        // stream partitions and must restore this afterwards
        spark.conf.set("spark.sql.shuffle.partitions", Seq("2", "4", "11")(i % 3))
        if (i % 4 == 3) {
          // perturb prior-query session state between runs: an unrelated
          // aggregation + a batch dedup, the kind of neighbor a full
          // Verify/Bench session runs before q186
          events.groupBy("event_type").agg(sum("value")).collect()
          events.dropDuplicates("user_id").count()
        }
        val got = canon(EventStream.windowedIngestReplay(
          spark, events, replayMod = 5L,
          statePartitions = stateParts(i % stateParts.length))
          .select("window_start_us", "user_id", "event_type", "n_events", "sum_value_fp"))
        withClue(s"run $i (statePartitions=${stateParts(i % stateParts.length)}): ") {
          got shouldBe expected
        }
        spark.conf.get("spark.sql.shuffle.partitions") shouldBe Seq("2", "4", "11")(i % 3)
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("session ingest replay is bit-identical across runs and equals the gaps-and-islands twin") {
    // gaps-and-islands in batch Spark with session_window's exact
    // semantics: break only on diff > gap (an exactly-gap successor
    // merges — the fixture's user 100 pins this), end = last + gap
    val gapUs = 1800000000L
    val e = events.select(col("user_id"),
      unix_micros(col("ts")).as("us"),
      expr("CAST(floor(value * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
        .as("value_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us")
    val twin = e
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("brk", when(col("prev_us").isNull ||
        col("us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("session_start_us"),
        (max(col("us")) + gapUs).as("session_end_us"),
        count(lit(1)).as("n_events"), sum(col("value_fp")).as("sum_value_fp"))
      .select("session_start_us", "session_end_us", "user_id", "n_events", "sum_value_fp")
    // boundary pin: exactly-gap pair (user 100) merges into ONE session,
    // gap+1s pair (user 101) splits into TWO — the semantics Spark
    // session_window exhibits empirically (batch + streaming, 4.1.2)
    twin.filter(col("user_id") === 100L).count() shouldBe 1L
    twin.filter(col("user_id") === 101L).count() shouldBe 2L
    val expected = canon(twin)
    expected should not be empty
    (0 until 5).foreach { i =>
      val got = canon(EventStream.sessionIngestReplay(
        spark, events, statePartitions = Seq(1, 3, 4, 5, 8)(i))
        .select("session_start_us", "session_end_us", "user_id", "n_events", "sum_value_fp"))
      withClue(s"run $i: ") { got shouldBe expected }
    }
  }

  test("interval-join replay is bit-identical across runs and equals the batch interval join") {
    val lookbackUs = 3600000000L
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"),
      expr("CAST(floor(value * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
        .as("value_fp"))
    val l = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("l_user"), col("us").as("as_of_us"),
        col("value_fp").as("label_fp"))
    val expected = canon(e.join(l,
        col("user_id") === col("l_user") &&
          col("us") <= col("as_of_us") &&
          col("us") >= col("as_of_us") - lookbackUs)
      .select(col("user_id"), col("as_of_us"), col("label_fp"),
        col("event_type"), col("us").as("event_ts_us"), col("value_fp")))
    expected should not be empty
    (0 until 3).foreach { i =>
      val got = canon(EventStream.intervalJoinReplay(
        spark, events, statePartitions = Seq(2, 4, 7)(i))
        .select("user_id", "as_of_us", "label_fp", "event_type",
          "event_ts_us", "value_fp"))
      withClue(s"run $i: ") { got shouldBe expected }
    }
  }

  test("stateful-snapshot replay is bit-identical across runs and equals the two-batch fold") {
    val e = events.select(col("user_id").cast("string").as("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val r = e.agg(min(col("us")), max(col("us"))).head()
    val cut = Math.floorDiv(r.getLong(0) + r.getLong(1), 2L)
    def aggOf(d: DataFrame) = d.groupBy("user_id")
      .agg(count(lit(1)).as("event_count"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchase_count"),
        max(col("us")).as("last_event_us"))
    val b1 = aggOf(e.filter(col("us") <= cut))
    val b2 = aggOf(e).join(
      e.filter(col("us") > cut).select("user_id").distinct(),
      Seq("user_id"), "left_semi")
    val expected = canon(b1.unionByName(b2)
      .select("user_id", "event_count", "purchase_count", "last_event_us"))
    expected should not be empty
    (0 until 3).foreach { i =>
      val got = canon(EventStream.statefulSnapshotReplay(
        spark, events, statePartitions = Seq(2, 4, 7)(i))
        .select("user_id", "event_count", "purchase_count", "last_event_us"))
      withClue(s"run $i: ") { got shouldBe expected }
    }
  }
}
