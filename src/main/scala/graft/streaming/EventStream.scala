package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

import graft.sources.{KVClient, KVSink}

/** Structured-Streaming ingest of the event log — the streaming extension of
  * the reference's batch-only pipelines (reference has no streaming at all:
  * SURVEY.md §2.10). Batch backfill computes daily features from history;
  * this path keeps the online view fresh between backfills from the same
  * event schema.
  *
  * Design: event-time processing with watermarks (late data bounded, state
  * GC'd), tumbling-window aggregation for windowed counts, and
  * `flatMapGroupsWithState` for running per-user feature state — the
  * streaming mirror of the backfill's 7d/30d counters. At scale, state lives
  * in the state store partitioned by user_id (same key the batch pipelines
  * shuffle on), so a streaming job shares cluster layout with batch.
  */
object EventStream {

  /** Read a state table, or the caller's empty frame when the path has
    * never been written — the stateful gates' shared first-trigger shape. */
  private def tableOr(spark: org.apache.spark.sql.SparkSession, path: String,
                      empty: => DataFrame): DataFrame =
    try spark.read.parquet(path)
    catch { case e: org.apache.spark.sql.AnalysisException
      if e.getMessage.contains("PATH_NOT_FOUND") || e.getMessage.contains("Path does not exist") =>
      empty }

  /** Apply the event-time watermark unless the plan already carries one:
    * Spark disallows REDEFINING a watermark once multiple stateful
    * operators are chained, so every entry point here is idempotent about
    * it — `dedupedEvents(...)` composes into `windowedCounts(...)` with
    * the ingest stage's watermark winning.
    */
  private def ensureWatermark(events: DataFrame, watermark: String): DataFrame = {
    val hasWatermark = events.queryExecution.analyzed.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => e
    }.isDefined
    if (hasWatermark) events else events.withWatermark("ts", watermark)
  }

  /** Exactly-once-ish ingest dedup: drop events whose `idCols` key was
    * already seen within the watermark window. At-least-once sources
    * (replayed Kafka offsets, retried producers) make duplicate event ids
    * the NORM at ingest; `dropDuplicatesWithinWatermark` keeps one row per
    * key while the watermark bounds the dedup state (a plain
    * dropDuplicates on a stream would grow state forever). Place this
    * FIRST in a streaming pipeline — the aggregations downstream then
    * count each event once.
    */
  def dedupedEvents(events: DataFrame,
                    idCols: Seq[String] = Seq("user_id", "event_type", "ts"),
                    watermark: String = "2 hours"): DataFrame =
    ensureWatermark(events, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Tumbling event-time window counts per (user, event_type), late rows
    * beyond the watermark dropped and window state garbage-collected.
    */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    ensureWatermark(events, watermark)
      .groupBy(window(col("ts"), windowLen), col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("user_id"), col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming approximate distinct counting — the relational HLL
    * ([[graft.operators.Sketches]]) composed with a streaming aggregate.
    * Register maxes are exactly the shape Structured Streaming can hold
    * as state: one monotone `max(rho)` per (group, register), so state is
    * bounded by groups × 2^logM short rows FOREVER, no watermark needed
    * (a distinct-count over all history never needs eviction — registers
    * only ratchet upward). Downstream, [[graft.operators.Sketches
    * .estimateSparse]] reads the estimate off the sink's register table —
    * Spark cannot chain a second streaming aggregate, and the estimator
    * is a batch-side read anyway. Because max-merge is associative and
    * insensitive to batch boundaries, the streaming registers equal the
    * batch registers over the same rows EXACTLY (EventStreamSpec pins the
    * estimate bit-for-bit).
    */
  def approxDistinctRegisters(events: DataFrame, groupCol: String, valueCol: String,
                              logM: Int = graft.operators.Sketches.DefaultLogRegisters): DataFrame =
    graft.operators.Sketches.registers(events, Seq(groupCol), valueCol, logM)

  /** Streaming count-min sketch: the frequency twin of
    * [[approxDistinctRegisters]]. One streaming aggregate whose state is
    * bounded at depth x width cells FOREVER (counts only grow — no
    * watermark needed); per-batch increments sum into the cells, and
    * because count addition is associative and batch-boundary-blind, the
    * streamed cells equal [[graft.operators.FrequencySketch.sketch]] over
    * the same rows EXACTLY (EventStreamSpec pins it). Estimates are a
    * batch-side read of the sink table via
    * [[graft.operators.FrequencySketch.estimate]] — same division of
    * labor as the HLL's estimator.
    */
  def freqSketchCells(events: DataFrame, valueCol: String): DataFrame =
    graft.operators.FrequencySketch.sketch(events, valueCol)

  /** Streaming histogram: the quantile sketch as a streaming aggregate,
    * completing the mergeable-sketch trilogy's streaming face (HLL
    * registers ratchet by max, CMS cells and histogram BINS grow by sum).
    * State is bounded by the value domain (~10^precision bins), no
    * watermark needed; streamed bins equal [[graft.operators.Quantiles
    * .histogram]] over the same rows exactly, and any quantile reads off
    * the sink table batch-side via [[graft.operators.Quantiles
    * .thresholdFromHistogram]] / [[graft.operators.Quantiles
    * .mergeHistograms]].
    */
  def histogramBins(events: DataFrame, valueCol: String, precision: Int): DataFrame =
    graft.operators.Quantiles.histogram(events, valueCol, precision)

  /** Session-window aggregation: events gapped less than `gap` apart merge
    * into one session per user; a session closes when the watermark passes
    * its end + gap. The standard sessionization primitive (visit metrics,
    * session-level training features); state is bounded by the watermark.
    */
  def sessionStats(events: DataFrame,
                   gap: String = "30 minutes",
                   watermark: String = "2 hours"): DataFrame =
    ensureWatermark(events, watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** The ORACLE-GATED streaming contract (q186): run the real watermarked
    * ingest — [[dedupedEvents]] into [[windowedCounts]], Append mode —
    * over the batch event table through [[replay]], and return the
    * emitted windows as a batch frame the DuckDB twin can hash-match. The
    * stream holds every event, then REPLAYED duplicates (each `event_id %
    * replayMod == 0` row re-added — the at-least-once-source norm the
    * dedup stage exists for), then the far-future sentinel whose
    * watermark flushes every real window; the sentinel's own window stays
    * in state and never emits.
    *
    * Cross-engine discipline ([[quantizedEvents]]): the windowed sum is
    * exact BIGINT arithmetic, order- and engine-independent; a NULL value
    * stays NULL (both engines' sums skip it). The dedup key is the FULL
    * row (user, type, ts, value_fp) — a replay is a byte-identical
    * redelivery — so the twin's DISTINCT is exact even if distinct events
    * ever shared (user, type, ts). The result equals the batch
    * formulation — distinct rows bucketed to tumbling windows — which is
    * what the oracle SQL computes. windowLen/watermark must stay under
    * the sentinel's 30-day horizon or the last real windows would never
    * flush.
    */
  def windowedIngestReplay(spark: org.apache.spark.sql.SparkSession,
                           events: DataFrame,
                           replayMod: Long = 97L,
                           windowLen: String = "1 hour",
                           watermark: String = "2 hours",
                           statePartitions: Int = 4): DataFrame = {
    val rows = quantizedEvents(spark, events, Some(replayMod))
    replay(spark, "q186", statePartitions)(
      windowedCounts(
        dedupedEvents(eventStream(spark, rows),
          idCols = Seq("user_id", "event_type", "ts", "value"),
          watermark = watermark),
        windowLen, watermark),
      sink => sink.select(
        unix_micros(col("window_start")).as("window_start_us"),
        col("user_id"), col("event_type"), col("n_events"),
        col("sum_value").as("sum_value_fp")))
  }

  /** The SESSION-WINDOW streaming oracle contract (q187 —
    * [[windowedIngestReplay]]'s twin for the other stateful-window
    * family): run the real [[sessionStats]] (30-min-gap session windows,
    * Append mode) over the batch event table plus the watermark-advancing
    * sentinel through [[replay]], and return the emitted sessions as a
    * batch frame. The DuckDB twin is the gaps-and-islands formulation
    * (lag + running sum per user) with Spark's session semantics: an
    * event exactly `gap` after its predecessor MERGES into the session
    * (session_window treats the touching [ts+gap, …) start as part of the
    * [ts, ts+gap] extent — verified empirically on Spark 4.1.2, batch and
    * streaming; the break is strictly `> gap`, identical to q54's batch
    * sessionizer), and session_end = last event + gap. No replayed
    * duplicates here — ingest dedup is q186's contract; this one isolates
    * session merge/flush. Every output column is exact integer
    * arithmetic ([[quantizedEvents]]).
    */
  def sessionIngestReplay(spark: org.apache.spark.sql.SparkSession,
                          events: DataFrame,
                          gap: String = "30 minutes",
                          watermark: String = "2 hours",
                          statePartitions: Int = 4): DataFrame = {
    val rows = quantizedEvents(spark, events, None)
    replay(spark, "q187", statePartitions)(
      sessionStats(eventStream(spark, rows), gap, watermark),
      sink => sink.select(
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("user_id"), col("n_events"),
        col("sum_value").as("sum_value_fp")))
  }

  /** The STREAM-STREAM INTERVAL JOIN oracle contract (q188 — the third
    * stateful family under the oracle after q186's windows and q187's
    * sessions): run the real [[attributedLabels]] join — every purchase
    * label against the SAME user's events in the `lookback` window
    * before it, both sides unbounded streams with watermarks — through
    * TWO MemoryStreams under [[replay]], and return the attributed rows
    * as a batch frame the DuckDB twin (a plain interval self-join) can
    * hash-match.
    *
    * Inner stream-stream joins emit each matched pair exactly once, when
    * the later side arrives — no watermark-gated flush holds rows back
    * (watermarks only bound the join STATE here) — and both sides get the
    * far-future sentinel so state GC exercises the production path. The
    * labels side is derived batch-side from the same event table
    * (purchase rows), exactly like the batch point-in-time pipelines
    * derive theirs; every output column is exact ([[quantizedEvents]]).
    */
  def intervalJoinReplay(spark: org.apache.spark.sql.SparkSession,
                         events: DataFrame,
                         lookback: String = "1 hour",
                         watermark: String = "2 hours",
                         statePartitions: Int = 4): DataFrame = {
    import spark.implicits._
    val rows = quantizedEvents(spark, events, None)
    val labels = rows.filter(_._2 == "purchase").map(r => (r._1, r._3, r._4)) :+
      ((-1L, sentinelUs(rows), Some(0L)))
    replay(spark, "q188", statePartitions)(
      attributedLabels(eventStream(spark, rows),
        memoryStream(spark, labels).toDF("user_id", "as_of_us", "label")
          .withColumn("as_of_ts", timestamp_micros(col("as_of_us"))).drop("as_of_us"),
        lookback, watermark, watermark),
      sink => sink
        // the sentinel label matches its own sentinel event (same user,
        // zero distance) — harness plumbing, not contract output
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"), unix_micros(col("as_of_ts")).as("as_of_us"),
          col("label").as("label_fp"), col("event_type"),
          unix_micros(col("event_ts")).as("event_ts_us"),
          col("value").as("value_fp")))
  }

  /** The ARBITRARY-STATE oracle contract (q189 — the fourth stateful
    * family after q186 windows, q187 sessions, q188 join state):
    * [[runningUserFeatures]] (flatMapGroupsWithState) driven through
    * [[replay]] in TWO micro-batches split at the event-time midpoint
    * `(min_us + max_us) div 2`, so the emitted rows are each user's
    * snapshot AFTER BATCH 1 (users active in the prefix) and after batch
    * 2 (users active in the suffix, folded ON TOP of their batch-1
    * state) — cross-batch state continuation is therefore itself under
    * the hash, not just the final answer. The DuckDB twin is the
    * prefix-aggregate UNION the full-history aggregate restricted to
    * suffix-active users (flatMapGroupsWithState only emits for groups
    * with input rows in the trigger). Every output column is an exact
    * integer: counts and max-of-micros; within-batch fold order is
    * irrelevant (count/max are order-free).
    *
    * The two batches are the contract, so this replay runs on the default
    * trigger: each half is added and then `processAllAvailable`d. That is
    * the whole barrier here — the plan has no watermark and no timeout, so
    * the engine never schedules a no-data batch after the data.
    */
  def statefulSnapshotReplay(spark: org.apache.spark.sql.SparkSession,
                             events: DataFrame,
                             statePartitions: Int = 4): DataFrame = {
    import spark.implicits._
    val rows = events.select(col("user_id").cast("string"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(String, String, Long)].collect()
    require(rows.nonEmpty, "streaming contract needs a non-empty event table")
    val cut = Math.floorDiv(rows.iterator.map(_._3).min + rows.iterator.map(_._3).max, 2L)
    val (prefix, suffix) = rows.toSeq.partition(_._3 <= cut)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Long)](spark)
    replay(spark, "q189", statePartitions, Trigger.ProcessingTime(0L), q =>
      Seq(prefix, suffix).foreach { half => input.addData(half); q.processAllAvailable() })(
      runningUserFeatures(input.toDF().toDF("user_id", "event_type", "us")
        .withColumn("ts", timestamp_micros(col("us")))
        .withColumn("value", lit(0.0)) // unused by the state fold
        .drop("us")
        .as[Event]).toDF(),
      sink => sink.select(col("user_id"), col("event_count"), col("purchase_count"),
        unix_micros(col("last_event_ts")).as("last_event_us")))
  }

  /** The one replay harness behind the oracle-gated streaming contracts
    * (q186-q189): start `plan` on a memory sink in Append mode, let
    * `drive` run it to its end, stop it, and return the sink through
    * `project` as a batch frame of local rows.
    *
    * The flush barrier is the engine's own: by default the contract has
    * added ALL its input — data, replays and the far-future sentinel —
    * before the query starts, and the query runs with
    * `Trigger.AvailableNow`, which processes everything available at
    * start and then runs the no-data micro-batch that ACTS on the
    * watermark the sentinel set (the batch that flushes the last
    * Append-mode windows) before it terminates. `awaitTermination`
    * returns after that batch, or throws the batch's failure as a
    * `StreamingQueryException`. A replay is therefore a fixed number of
    * micro-batches (two: data, then flush) whatever the thread timing.
    *
    * `statePartitions` pins the stream's shuffle-partition count (a
    * state-store instance per partition per stateful operator is the
    * harness's fixed cost; the determinism stress spec varies it to prove
    * the emitted rows don't depend on it). The session setting is
    * restored once the query has started. Every micro-batch's (id, input
    * rows, watermark, state rows) prints to stderr after the run, so a
    * failing oracle row carries its emission pattern.
    */
  private def replay(spark: org.apache.spark.sql.SparkSession, tag: String,
                     statePartitions: Int,
                     trigger: Trigger = Trigger.AvailableNow(),
                     drive: StreamingQuery => Unit = _.awaitTermination())(
      plan: => DataFrame,
      project: DataFrame => DataFrame): DataFrame = {
    require(statePartitions >= 1, "statePartitions must be positive")
    val name = s"graft_stream_${tag}_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val q =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
        plan.writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).trigger(trigger).start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    try drive(q) finally q.stop()
    // materialize and DROP the memory-sink view: repeated replays in one
    // session (Bench samples x2-3 + Verify) would otherwise each leave a
    // driver-held sink table behind
    val out = project(spark.table(name))
    val collected = out.collect()
    logReplayProgress(tag, q, collected.length.toLong)
    spark.catalog.dropTempView(name)
    spark.createDataFrame(
      spark.sparkContext.parallelize(collected.toIndexedSeq, 4), out.schema)
  }

  /** The event log as the q186-q188 replays stream it, collected to the
    * driver: (user_id, event_type, ts in micros, value in 1e6 fixed
    * point). `value` quantizes BEFORE the stream (floor(v·1e6 + 0.5),
    * single IEEE ops — the q65 rule), so sums downstream are exact BIGINT
    * arithmetic; a NULL value stays NULL. With `replayMod`, every
    * `event_id % replayMod == 0` row follows once more — the at-least-once
    * redelivery. The driver-side collect feeding MemoryStream is the
    * harness contract of the in-memory source (a production job reads
    * Kafka/files), not a pipeline pattern.
    */
  private def quantizedEvents(spark: org.apache.spark.sql.SparkSession,
                              events: DataFrame, replayMod: Option[Long])
      : Seq[(Long, String, Long, Option[Long])] = {
    import spark.implicits._
    val rows = events.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        expr("CAST(floor(value * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("value_fp"),
        col("event_id"))
      .as[(Long, String, Long, Option[Long], Long)].collect()
    require(rows.nonEmpty, "streaming contract needs a non-empty event table")
    val replays = replayMod.map(m => rows.filter(_._5 % m == 0L)).getOrElse(Array.empty)
    (rows ++ replays).toSeq.map(r => (r._1, r._2, r._3, r._4))
  }

  /** Event time of the far-future sentinel: 30 days past the last event,
    * so the watermark it sets passes every real window and session. */
  private def sentinelUs(rows: Seq[(Long, String, Long, Option[Long])]): Long =
    rows.iterator.map(_._3).max + 30L * 86400000000L

  /** A MemoryStream already holding `rows` — the input of an AvailableNow
    * replay. */
  private def memoryStream[A: Encoder](spark: org.apache.spark.sql.SparkSession,
                                       rows: Seq[A]): DataFrame = {
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A](spark)
    in.addData(rows)
    in.toDF()
  }

  /** The event stream of the q186-q188 replays: `rows` and then one
    * sentinel event of user -1 at [[sentinelUs]]. */
  private def eventStream(spark: org.apache.spark.sql.SparkSession,
                          rows: Seq[(Long, String, Long, Option[Long])]): DataFrame = {
    import spark.implicits._
    memoryStream(spark, rows :+ ((-1L, "__sentinel", sentinelUs(rows), Some(0L))))
      .toDF("user_id", "event_type", "us", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
  }

  /** Per-micro-batch breadcrumbs for the replay contracts — printed AFTER
    * the run so a red driver row carries its emission pattern (batch
    * boundaries, watermark advance, state rows) in the captured log.
    */
  private def logReplayProgress(tag: String,
      q: StreamingQuery, sinkRows: Long): Unit =
    try {
      q.recentProgress.foreach { p =>
        val wm = Option(p.eventTime).flatMap(e => Option(e.get("watermark"))).getOrElse("-")
        val st = p.stateOperators.map(s =>
          s"${s.operatorName}:total=${s.numRowsTotal},updated=${s.numRowsUpdated}")
          .mkString("[", " ", "]")
        System.err.println(
          s"[$tag] batch=${p.batchId} rows_in=${p.numInputRows} watermark=$wm state=$st")
      }
      System.err.println(s"[$tag] emitted sink rows: $sinkRows")
    } catch { case scala.util.control.NonFatal(_) => () }

  case class Event(user_id: String, event_type: String, ts: Timestamp, value: Double)

  /** Running per-user feature snapshot (streaming twin of the online-sync
    * "latest features per user" view).
    */
  case class UserFeatureState(
      user_id: String,
      event_count: Long,
      purchase_count: Long,
      last_event_ts: Timestamp)

  /** Incremental per-user feature state via flatMapGroupsWithState: emits an
    * updated snapshot per user per micro-batch. Pass an `idleTimeout` to
    * expire idle users' state via a processing-time timeout (bounded state at
    * 100 TB event volume); note that enabling it makes the engine schedule
    * timeout-check micro-batches continuously, so tests using
    * `processAllAvailable` should leave it off.
    */
  def runningUserFeatures(events: Dataset[Event],
                          idleTimeout: Option[String] = None): Dataset[UserFeatureState] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserFeatureState, UserFeatureState](
        OutputMode.Append(), timeoutConf) {
        case (userId, rows, state: GroupState[UserFeatureState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserFeatureState(userId, 0L, 0L, new Timestamp(0L)))
            val next = foldEvents(prev, rows)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            Iterator.single(next)
          }
      }
  }

  /** single fold over the iterator — never materialize the micro-batch's
    * rows for one user as a Seq; shared by both stateful formulations
    */
  private def foldEvents(prev: UserFeatureState, rows: Iterator[Event]): UserFeatureState =
    rows.foldLeft(prev) { (acc, e) =>
      UserFeatureState(
        prev.user_id,
        acc.event_count + 1,
        acc.purchase_count + (if (e.event_type == "purchase") 1 else 0),
        if (e.ts.after(acc.last_event_ts)) e.ts else acc.last_event_ts)
    }

  /** The Spark-4 arbitrary-state processor behind
    * [[runningUserFeaturesTws]]: typed ValueState, with the TTL config
    * injected by the caller (declarative state expiry — no hand-rolled
    * timeout dance).
    */
  private class UserFeatureProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, Event, UserFeatureState] {
    @transient private var state: ValueState[UserFeatureState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState(
        "features", Encoders.product[UserFeatureState], ttl)

    override def handleInputRows(userId: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserFeatureState] = {
      // one state-store read: get() returns null when absent — exists()
      // first would double the RocksDB point lookups on the hot path
      val prev = Option(state.get())
        .getOrElse(UserFeatureState(userId, 0L, 0L, new Timestamp(0L)))
      val next = foldEvents(prev, rows)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** [[runningUserFeatures]] on the transformWithState API — Spark 4's
    * successor to flatMapGroupsWithState: typed state handles
    * (Value/List/MapState) with declarative TTL instead of hand-rolled
    * timeouts, timers, and RocksDB backing. `idleTtl` bounds an idle
    * user's state the declarative way (TTL requires processing-time mode,
    * so passing it switches the TimeMode accordingly — the twin of
    * [[runningUserFeatures]]'s `idleTimeout`). Requires the RocksDB state
    * store provider; set [[rocksdbStateStoreConf]] on the session.
    * EventStreamSpec runs BOTH formulations on identical input and asserts
    * snapshot-for-snapshot parity; new pipelines should prefer this one.
    */
  def runningUserFeaturesTws(events: Dataset[Event],
      idleTtl: Option[java.time.Duration] = None): Dataset[UserFeatureState] = {
    val spark = events.sparkSession
    import spark.implicits._
    val (ttl, timeMode) = idleTtl match {
      case Some(d) => (TTLConfig(d), TimeMode.ProcessingTime())
      case None => (TTLConfig.NONE, TimeMode.None())
    }
    events
      .groupByKey(_.user_id)
      .transformWithState(new UserFeatureProcessor(ttl), timeMode, OutputMode.Append())
  }

  /** Session conf required by [[runningUserFeaturesTws]] (transformWithState
    * is implemented on the RocksDB state store only).
    */
  val rocksdbStateStoreConf: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Stream-stream interval join: attribute each label to the SAME user's
    * events in the `lookback` window before its `as_of_ts` (the streaming
    * twin of the batch point-in-time join's leakage rule — an event after
    * the label's timestamp never matches). This is the click-attribution /
    * online-training-example shape: labels and events both arrive as
    * unbounded streams, and the result streams out attributed rows.
    *
    * Both sides carry watermarks and the join condition bounds BOTH
    * event-time columns, which is exactly what lets Spark garbage-collect
    * join state: a buffered event can be dropped once the label watermark
    * passes `ts + lookback`, a buffered label once the event watermark
    * passes its `as_of_ts`. Without the interval bound the state would
    * grow forever — the streaming analogue of the unbounded as-of fan-out
    * the batch union plan avoids. State is keyed by user_id like every
    * other pipeline here.
    */
  def attributedLabels(events: DataFrame, labels: DataFrame,
                       lookback: String = "1 hour",
                       eventsWatermark: String = "2 hours",
                       labelsWatermark: String = "2 hours"): DataFrame = {
    val e = ensureWatermark(events, eventsWatermark).alias("e")
    val l = labels.withWatermark("as_of_ts", labelsWatermark).alias("l")
    e.join(l, expr(
      s"""e.user_id = l.user_id AND
         |e.ts <= l.as_of_ts AND
         |e.ts >= l.as_of_ts - INTERVAL '$lookback'""".stripMargin))
      .select(
        col("l.user_id").as("user_id"), col("l.as_of_ts").as("as_of_ts"),
        col("l.label").as("label"), col("e.event_type").as("event_type"),
        col("e.ts").as("event_ts"), col("e.value").as("value"))
  }

  /** Streaming online-sync: push each micro-batch's per-user snapshots to
    * the KV store — the streaming twin of
    * [[graft.operators.OnlineSyncPipeline]] (same JSON string-quoting
    * convention). `foreachBatch` hands every micro-batch to the same
    * distributed [[KVSink]] the batch pipeline uses: one KV connection per
    * partition, no driver round-trip, so freshness scales with executors
    * rather than one TCP pipe. Start with `.trigger(...)` and checkpoint
    * location of the caller's choosing.
    *
    * Keyspace contract: the default `features_rt:` prefix is DELIBERATELY
    * disjoint from the batch sync's `features:` — the payloads carry
    * different features (running counters vs daily snapshot), so sharing a
    * key would let a streaming write clobber a batch row with a
    * differently-shaped value mid-read. A serving tier reads both:
    * [[graft.serving.FeatureLookup.online]] for the batch row,
    * [[graft.serving.FeatureLookup.onlineRealtime]] for this one
    * (EventStreamSpec drives the full stream -> KV -> serving-read path).
    */
  /** Streaming ingestion gate: verbatim-substring contamination check of
    * every arriving document against a FIXED benchmark corpus — the
    * streaming twin of [[graft.operators.Contamination
    * .substringContamination]], the audit a training pipeline runs at
    * INGEST time so a leaked eval answer never reaches the corpus at all
    * (the batch form audits after the fact).
    *
    * Shape: the gate is per-document (no cross-document, no cross-batch
    * state), so the correct streaming plan is `foreachBatch` running THE
    * BATCH OPERATOR on each micro-batch — one code path, so streamed and
    * batch verdicts cannot drift, and parity is bit-for-bit by
    * construction (EventStreamSpec still proves it end-to-end). The
    * benchmark side is the caller-provided [[graft.operators.Contamination
    * .benchmarkAnchors]] STATE table — fingerprinted once, persisted,
    * reused by every micro-batch; only the arriving docs fingerprint per
    * batch. A streaming aggregation would instead force update-mode
    * state keyed by doc_id that never expires — per-batch independence
    * is the memory-safe plan, same argument as the batch operator's
    * broadcast-reference knob.
    *
    * `sink` receives each micro-batch's contaminated-doc rows (the batch
    * operator's output schema: idCol, n_bench_docs, n_anchors,
    * max_extent) with the micro-batch id — write to a table, alert, or
    * divert to quarantine. `minLen`/`k` must match the values the anchor
    * state was built with.
    */
  def contaminationGateWriter(docs: DataFrame, beAnchors: DataFrame,
                              sink: (DataFrame, Long) => Unit,
                              minLen: Int = 48, k: Int = 16,
                              idCol: String = "doc_id", textCol: String = "text")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Contamination.substringContaminationAgainst(
          batch.toDF(), beAnchors, minLen, k, idCol, textCol), batchId)
      }

  /** Streaming LM-surprisal ingestion gate: score each arriving
    * micro-batch of documents against a FROZEN
    * [[graft.operators.LmScore.UnigramLm]] model — trained once on a
    * reference corpus (train on clean data, gate the firehose), persisted,
    * reused by every batch; only the arriving docs tokenize per batch.
    * Same one-code-path argument as [[contaminationGateWriter]]: the
    * foreachBatch body IS the batch operator
    * ([[graft.operators.LmScore.surprisalWithModel]]), so streamed and
    * batch scores cannot drift — and the integer fixed-point design makes
    * the parity bit-for-bit, not approximate (EventStreamSpec proves it).
    * Per-batch independence keeps this stateless on the streaming side:
    * no update-mode score state keyed by doc_id that never expires.
    *
    * `sink` receives each micro-batch's scored rows (idCol, n_tokens,
    * surprisal_fp, mean_surprisal) with the micro-batch id — quantile-gate
    * downstream, divert to quarantine, or append to a scores table.
    */
  def surprisalGateWriter(docs: DataFrame, model: graft.operators.LmScore.UnigramLm,
                          sink: (DataFrame, Long) => Unit,
                          idCol: String = "doc_id", textCol: String = "text")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.LmScore.surprisalWithModel(
          batch.toDF(), model, idCol, textCol), batchId)
      }

  /** Streaming profile-drift monitor: each arriving micro-batch is
    * profiled ([[graft.operators.Profile.tableProfile]] over `columns`)
    * and diffed against a PINNED baseline profile (profiled once from a
    * known-good corpus, persisted, reused every trigger — the
    * [[surprisalGateWriter]] frozen-reference shape, stateless on the
    * streaming side). The sink receives the per-column drift report
    * ([[graft.operators.Profile.diffProfiles]] columns: status, null-ppm
    * deltas, distinct ratio, min/max/mode flags, mean-length delta) with
    * the micro-batch id — alert when a shard's schema or data departs
    * from the corpus it is supposed to extend. One code path with batch
    * q154: the foreachBatch body IS the batch diff, so streamed and
    * batch reports cannot drift. NOTE a micro-batch is a SAMPLE of the
    * corpus: expect distinct_ratio/min/max moves proportional to batch
    * size; the load-bearing signals per trigger are `status`
    * (added/removed columns = schema drift), null_ppm_delta, and
    * mode/mean-length shifts.
    */
  def profileDriftGateWriter(docs: DataFrame, baseline: DataFrame,
                             columns: Seq[String],
                             sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // persist: tableProfile's two passes (combinable aggregate +
        // value posting) would otherwise read the batch source twice
        val b = batch.toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try sink(graft.operators.Profile.diffProfiles(baseline,
          graft.operators.Profile.tableProfile(b, columns)), batchId)
        finally { b.unpersist(); () }
      }

  /** Streaming EXPECTATIONS gate: each arriving micro-batch is checked
    * against a FROZEN rule list ([[graft.operators.Expectations.check]]
    * — the batch q185 operator, one code path), emitting the per-batch
    * verdict table. Stateless like [[profileDriftGateWriter]]: the rules
    * assert properties of each shard in isolation (a batch with null
    * ids, duplicate keys within the shard, broken references is the
    * thing ingest-time validation exists to catch); CROSS-batch
    * uniqueness is [[urlDedupGateWriter]]-family territory, not a rule
    * here. `failOnViolation` turns the gate into a circuit breaker: a
    * failing batch throws inside foreachBatch, stopping the query
    * instead of ingesting bad data.
    */
  def expectationsGateWriter(docs: DataFrame,
                             rules: Seq[graft.operators.Expectations.Rule],
                             sink: (DataFrame, Long) => Unit,
                             failOnViolation: Boolean = false)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // persist: every row-local rule shares one scan by design, but
        // unique/fk rules re-read the batch — pin it for the trigger
        val b = batch.toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val verdicts = graft.operators.Expectations.check(b, rules)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            sink(verdicts, batchId)
            if (failOnViolation) {
              val failed = verdicts.filter(col("passed") === 0).count()
              if (failed > 0) throw new IllegalStateException(
                s"expectations gate: $failed rule(s) failed on batch $batchId " +
                  "— refusing to ingest")
            }
          } finally { verdicts.unpersist(); () }
        } finally { b.unpersist(); () }
      }

  /** Streaming trigram-LM gate with a GROWING model: each arriving
    * micro-batch scores against the trigram stupid-backoff model of
    * EVERYTHING ingested so far INCLUDING the batch itself (the as-of-
    * ingest semantics of [[urlDedupGateWriter]]'s group_size), then the
    * batch's own gram-count partial lands in the state. One code path
    * with batch q152/q153: the foreachBatch body is
    * [[graft.operators.LmScore.trigramSurprisalFromState]] over
    * [[graft.operators.LmScore.mergeTrigramStates]], so after N triggers
    * the accumulated state IS the q153 incremental model bit-for-bit
    * (EventStreamSpec pins it) — in-flight per-trigger scores reflect the
    * model as of that ingest, exactly like a self-trained corpus model
    * that keeps training.
    *
    * State layout: `counts/batch=<id>/` — one partial per trigger,
    * written with OVERWRITE into its batch-scoped dir, so a crash-replayed
    * batch rewrites the same partial instead of double-counting (counts
    * are sum-merged, the one state family where a blind re-append would
    * NOT be idempotent); reads collapse partials through the merge's
    * groupBy-sum, and a trigger excludes its OWN batch id from the stored
    * side so a replay whose partial already landed scores against the
    * same as-of-ingest model it originally emitted. Unlike [[surprisalGateWriter]]'s frozen unigram model,
    * this gate needs no pre-trained reference — it bootstraps from the
    * stream itself (batch 1 scores against its own counts alone).
    * `sink` receives (idCol, n_trigrams, surprisal_fp, mean_surprisal)
    * with the micro-batch id.
    */
  def trigramGateWriter(docs: DataFrame, statePath: String,
                        sink: (DataFrame, Long) => Unit,
                        idCol: String = "doc_id", textCol: String = "text")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF()
        val countsPath = s"$statePath/counts"
        // persist: the scoring chain filters the merged state once per gram
        // order and the batch tokenizes for both its state and its
        // postings — without these the stored partials re-aggregate 3x and
        // the batch tokenizes 4x per trigger (the mediaDedupGate rule)
        val bState = graft.operators.LmScore.trigramState(b, textCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val storedRaw = tableOr(spark, countsPath, null)
        val merged = (
          if (storedRaw == null) {
            // first trigger: still collapse (ord, gram) in case the batch
            // state is read back later next to appended partials
            graft.operators.LmScore.mergeTrigramStates(bState, bState.limit(0))
          } else graft.operators.LmScore.mergeTrigramStates(
            // a crash AFTER the partial write but BEFORE the checkpoint
            // commit replays this batchId with its own partial already on
            // disk — drop it, or the replayed trigger's scores would
            // double-count the batch (the state itself stays correct via
            // the overwrite; this keeps the SINK emission as-of-ingest too)
            storedRaw.filter(col("batch") =!= batchId)
              .select(col("ord"), col("gram"), col("cnt")), bState)
          ).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(graft.operators.LmScore.trigramSurprisalFromState(
            b, merged, idCol, textCol,
            // NONE: merged is persisted above; the operator's internal
            // (doc, trigram) persist would leak one entry per trigger
            storage = org.apache.spark.storage.StorageLevel.NONE), batchId)
          // batch-scoped OVERWRITE after the sink: replayed batches rewrite
          // their own partial (idempotent), never double-count
          bState.write.mode("overwrite").parquet(s"$countsPath/batch=$batchId")
        } finally { merged.unpersist(); bState.unpersist(); () }
      }

  /** Streaming FUZZY (near-duplicate) contamination gate: each arriving
    * micro-batch of documents is MinHash-checked against a FROZEN
    * benchmark signature table ([[graft.operators.Dedup.signatures]] —
    * signed once, persisted, reused every trigger) with the batch
    * operator ([[graft.operators.Contamination.fuzzyContaminationAgainst]]).
    * The paraphrase-grade complement to [[contaminationGateWriter]]'s
    * verbatim gate at the TOKEN-SET level — same one-code-path /
    * zero-streaming-state argument; `storage = NONE` because every
    * micro-batch is a new plan and the operator's default persist would
    * leak one cache entry per trigger. `sink` receives the flagged
    * (idCol, n_bench_docs, max_jaccard, best_bench_id) rows with the
    * micro-batch id.
    */
  def fuzzyContaminationGateWriter(docs: DataFrame, beSigs: DataFrame,
                                   threshold: Double = 0.5,
                                   sink: (DataFrame, Long) => Unit,
                                   n: Int = 3,
                                   idCol: String = "doc_id", textCol: String = "text")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Contamination.fuzzyContaminationAgainst(
          batch.toDF(), beSigs, n, threshold, idCol, textCol,
          storage = org.apache.spark.storage.StorageLevel.NONE), batchId)
      }

  /** Streaming SELF-dedup ingest gate: each arriving micro-batch of
    * documents is checked for verbatim >= `minLen`-char passage overlap
    * against EVERYTHING INGESTED SO FAR, then folded into the state —
    * ingest-time dedup, the streaming form of
    * `substring-dedup --state-path`. Unlike the contamination gates this
    * one is legitimately STATEFUL (the reference corpus is the stream's
    * own past), so state lives as two append-mode parquet tables under
    * `statePath`: `anchors/` ((id, h, pos) winnowing fingerprints — text
    * never re-fingerprints) and `texts/` ((idCol, textCol) — kept because
    * extent VERIFICATION must read both sides' text). Each trigger runs
    * [[graft.operators.Dedup.substringPairsIncremental]] (batch ==
    * streaming, one code path; chained eras equal the one-shot recompute
    * — the q100 property), sinks the pairs touching the batch, then
    * appends the batch's anchors and texts.
    *
    * foreachBatch gives exactly-once sinks only if `sink` is idempotent;
    * a REPLAYED batch here also re-appends its state rows, so on restart
    * recovery dedupe state by (id) — or point `statePath` at a fresh dir
    * per run, the simple dev posture. `sink` receives (id_a, id_b,
    * n_anchors) pairs with the micro-batch id.
    */
  def substringDedupGateWriter(docs: DataFrame, statePath: String,
                               sink: (DataFrame, Long) => Unit,
                               minLen: Int = 48, k: Int = 16,
                               idCol: String = "doc_id", textCol: String = "text")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF()
        val (anchorsPath, textsPath) = (s"$statePath/anchors", s"$statePath/texts")
        def tableOr(path: String, empty: => DataFrame): DataFrame =
          EventStream.tableOr(spark, path, empty)
        val stored = tableOr(anchorsPath,
          graft.operators.Dedup.substringState(b.limit(0), minLen, k, idCol, textCol))
        val storedTexts = tableOr(textsPath, b.select(col(idCol), col(textCol)).limit(0))
        val pairs = graft.operators.Dedup.substringPairsIncremental(
          stored, b, storedTexts.unionByName(b.select(col(idCol), col(textCol))),
          minLen, k, idCol, textCol,
          storage = org.apache.spark.storage.StorageLevel.NONE)
        sink(pairs, batchId)
        // state append AFTER the sink: a crash between the two replays the
        // batch without half-ingested state shadowing its own pairs
        graft.operators.Dedup.substringState(b, minLen, k, idCol, textCol)
          .write.mode("append").parquet(anchorsPath)
        b.select(col(idCol), col(textCol)).write.mode("append").parquet(textsPath)
      }

  /** Streaming URL-dedup ingest gate: each arriving micro-batch of
    * documents is grouped by canonical URL against EVERY page ingested so
    * far, then folded into the page state — re-crawl dropping at ingest,
    * the streaming form of `url-dedup --state-path` and the cheapest gate
    * in the chain (no text read at all; one (canonical-url, id) shuffle
    * per batch). One code path with batch q141: each trigger reads the
    * stored per-shard partials ([[graft.operators.Dedup.normalizeUrlState]]
    * collapses them, making a crashed append's replay idempotent), folds
    * the batch's own partial through the SAME dropDuplicates collapse
    * (so a replayed trigger whose partial already landed reports the
    * same as-of-ingest group_size, never a double-count), sinks
    * the batch's per-row report, then appends the batch's OWN
    * [[graft.operators.Dedup.urlState]] partial — append AFTER the sink,
    * the crash-replay rule every stateful gate here follows. The state
    * layout (`pages/` partials + `canon_version` marker) is exactly the
    * CLI's, so a stream-seeded state serves `App url-dedup` and vice
    * versa; the version marker makes a canonicalizer change a loud
    * up-front "re-seed" error instead of a mid-job join miss.
    *
    * Verdict stability: keeper_id and is_dup are FINAL at ingest (ids
    * only increase across batches, so the first crawl is never
    * displaced); group_size in a batch's report is the page's count as
    * of that ingest — chained batches therefore equal the one-shot
    * [[graft.operators.Dedup.urlDedup]] on everything but group_size's
    * in-flight reads (EventStreamSpec pins both).
    */
  def urlDedupGateWriter(docs: DataFrame, statePath: String,
                         sink: (DataFrame, Long) => Unit,
                         urlCol: String = "url", idCol: String = "doc_id")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF()
        val (pagesPath, versionPath) = (s"$statePath/pages", s"$statePath/canon_version")
        val vCur = graft.functions.TextFunctions.UrlCanonVersion
        val storedPagesRaw = tableOr(spark, pagesPath, null)
        // marker semantics MATCH the CLI's exactly: existing pages with no
        // marker = pre-v2 state whose keys this build no longer produces —
        // loud re-seed, never a silent default-to-current (which would
        // fold v1-keyed state AND stamp it v2, defeating the CLI's guard)
        val vStored = tableOr(spark, versionPath, null) match {
          case null if storedPagesRaw == null => vCur // fresh state
          case null => throw new IllegalArgumentException(
            s"urlDedupGate: state at $statePath has no canon_version marker " +
              "(written by a pre-v2 build, whose trailing-slash rule differs " +
              s"from this build's v$vCur) — re-seed the state from the full corpus")
          case m => m.head().getInt(0)
        }
        require(vStored == vCur,
          s"urlDedupGate: state at $statePath was written with URL-canonicalizer " +
            s"v$vStored but this build is v$vCur — re-seed the state")
        val bPartial = graft.operators.Dedup.urlState(b, urlCol, idCol)
        // fold the batch THROUGH normalizeUrlState's dropDuplicates rather
        // than incrementUrlState on the already-normalized state: on a
        // crash replay (pages append landed, checkpoint commit did not)
        // the stored partials ALREADY contain this batch's rows —
        // bit-identical, because urlState is a pure function of the batch
        // and disjoint shard ids mean no OTHER shard can produce them —
        // so the dedup collapses the re-delivered fold and the replayed
        // trigger's group_size report matches the original emission
        // instead of double-counting the batch's pages.
        val merged = graft.operators.Dedup.normalizeUrlState(
          (if (storedPagesRaw == null) bPartial.limit(0) else storedPagesRaw)
            .unionByName(bPartial))
        sink(graft.operators.Dedup.urlDedupFromState(b, merged, urlCol, idCol), batchId)
        // state append AFTER the sink: a crash between the two replays the
        // batch without half-ingested state shadowing its own report
        locally {
          import spark.implicits._
          // mode("ignore") = write once, no-op when the marker exists —
          // FS-agnostic, unlike a java.io existence probe
          Seq(vCur).toDF("canon_version").write.mode("ignore").parquet(versionPath)
        }
        graft.operators.Dedup.urlState(b, urlCol, idCol)
          .write.mode("append").parquet(pagesPath)
      }

  /** Streaming MEDIA-dedup ingest gate: each arriving micro-batch of
    * payloads fingerprints ONCE into appendable (id, hash) state
    * ([[graft.operators.Multimodal.imageHashState]] or its audio/video
    * twins — `fingerprint` picks the modality and freezes its knobs, the
    * video-stride rule), near-dup pairs TOUCHING the batch sink per
    * trigger via [[graft.operators.Multimodal.perceptualPairsIncremental]]
    * (batch postings × merged state — stored×stored never recomputes),
    * then the batch's state partial appends. Payload bytes are read
    * exactly once, at their own trigger: later batches join 64-bit
    * signatures only. Union of every trigger's pairs == the one-shot
    * pair recompute over everything ingested (every pair touches the
    * later of its two eras); state append AFTER the sink, the
    * crash-replay rule; `normalizeMediaState` at read makes a replayed
    * append idempotent.
    */
  def mediaDedupGateWriter(media: DataFrame, statePath: String,
                           fingerprint: DataFrame => DataFrame,
                           fpConfig: String,
                           sink: (DataFrame, Long) => Unit,
                           maxHamming: Int = 3)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val (hashesPath, configPath) = (s"$statePath/hashes", s"$statePath/fp_config")
        val storedRaw = tableOr(spark, hashesPath, null)
        // fp_config marker, the CLI's exact semantics: `fpConfig` names
        // what `fingerprint` computes (the CLI writes "image" / "audio" /
        // "video:stride=N") — modality and stride DEFINE the stored
        // signatures, and existing hashes with no marker are of unknown
        // configuration: loud re-seed, never a silent mixed-signature fold
        tableOr(spark, configPath, null) match {
          case null if storedRaw == null => () // fresh state
          case null => throw new IllegalArgumentException(
            s"mediaDedupGate: state at $statePath has no fp_config marker — " +
              "its fingerprint configuration is unknown; re-seed the state")
          case m =>
            val stored0 = m.head().getString(0)
            require(stored0 == fpConfig,
              s"mediaDedupGate: state at $statePath holds '$stored0' " +
                s"fingerprints but this gate computes '$fpConfig' — " +
                "modality/stride define the signature; use a separate " +
                "state path per configuration")
        }
        // persist the batch's fingerprints: pairs read them twice and the
        // state append once — without this the payloads decode 3x
        val bState = fingerprint(batch.toDF())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val stored = graft.operators.Multimodal.normalizeMediaState(
            if (storedRaw == null) bState.limit(0) else storedRaw)
          sink(graft.operators.Multimodal.perceptualPairsIncremental(
            stored, bState, maxHamming,
            storage = org.apache.spark.storage.StorageLevel.NONE), batchId)
          // state append AFTER the sink: a crash between the two replays
          // the batch without half-ingested state shadowing its own pairs
          locally {
            import spark.implicits._
            Seq(fpConfig).toDF("fp_config").write.mode("ignore").parquet(configPath)
          }
          bState.write.mode("append").parquet(hashesPath)
        } finally { bState.unpersist(); () }
      }

  /** Streaming BLOCKLIST gate: each arriving micro-batch of documents is
    * screened against the category word/phrase lists with the batch
    * operator ([[graft.operators.Blocklist.screenRollup]]) — matching is
    * entirely row-local against a broadcast list, so per-batch
    * independence is trivially exact and there is no state to freeze.
    * `sink` receives every batch doc's (idCol, total_hits, n_categories,
    * worst_category, keep) row with the micro-batch id — route keep=0 to
    * quarantine at ingest instead of scrubbing after the fact.
    */
  def blocklistGateWriter(docs: DataFrame, blocklist: Seq[(String, String)],
                          sink: (DataFrame, Long) => Unit,
                          idCol: String = "doc_id", textCol: String = "text")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Blocklist.screenRollup(
          batch.toDF(), blocklist, idCol, textCol), batchId)
      }

  /** Streaming TOKENIZE gate: each arriving micro-batch encodes to
    * token-id sequences against a FROZEN merge table with the batch
    * operator ([[graft.operators.Packing.encodeToIds]]) — tokenize at
    * ingest, the last streaming step before shards pack into training
    * rows. Same one-code-path / zero-streaming-state argument as every
    * gate here: encoding is a pure per-doc function of (text, merges),
    * so per-batch independence needs no update-mode state and streamed
    * union == batch encode bit-for-bit (EventStreamSpec). The merge
    * table is the frozen tokenizer artifact (`App bpe-train`); per-batch
    * re-encoding against a CHANGED table would silently mix id schemes —
    * freeze it like every incremental consumer does.
    */
  def tokenizeGateWriter(docs: DataFrame, mergeTable: DataFrame,
                         sink: (DataFrame, Long) => Unit,
                         idCol: String = "doc_id", textCol: String = "text",
                         maxWordLen: Int = 24)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.Packing.encodeToIds(
          batch.toDF(), mergeTable, idCol, textCol, maxWordLen), batchId)
      }

  /** Streaming PACK gate — the tokenizer chain's last streaming step:
    * each micro-batch encodes against the FROZEN merge table
    * ([[tokenizeGateWriter]]'s contract) and folds into a persisted
    * packed-row corpus, so training rows are ready the moment ingest
    * stops. State is an APPEND-ONLY packed-row log at `statePath/packed`:
    * the first batch appends its full [[graft.operators.Packing
    * .packTokenRows]] output, every later batch appends only its
    * REPLACEMENT TAIL ([[graft.operators.Packing.packTokenRowsIncremental]]
    * — rows from the re-opened tail on, O(batch) rows per trigger, never
    * an O(corpus) rewrite) tagged with the batch id as its era;
    * [[graft.operators.Packing.latestPackedRows]] collapses the log at
    * read (latest era wins per row_id, crash-replayed appends collapse
    * to the same winner). Chained batches == the one-shot pack of the
    * full corpus bit-for-bit (the q140/PackingSpec property, pinned
    * again here). Caller contract, as with `App pack --packed-path`:
    * batch doc ids must exceed every already-packed id, merges frozen.
    * `sink` receives each trigger's newly-written rows (the replacement
    * tail) — exactly what a downstream shard exporter must rewrite.
    */
  def packGateWriter(docs: DataFrame, mergeTable: DataFrame, statePath: String,
                     sink: (DataFrame, Long) => Unit,
                     seqLen: Int = 64,
                     idCol: String = "doc_id", textCol: String = "text",
                     maxWordLen: Int = 24)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val packedPath = s"$statePath/packed"
        val enc = graft.operators.Packing.encodeToIds(
          batch.toDF(), mergeTable, idCol, textCol, maxWordLen)
        // "initialized" means the state HAS ROWS, not that the path
        // exists: an all-filtered first micro-batch appends a schema-only
        // parquet, and path-existence alone would then route every later
        // batch into packTokenRowsIncremental's non-empty require —
        // wedging the query permanently, across restarts
        val stored = tableOr(spark, packedPath, null) match {
          case null => null
          case raw =>
            // crash-replay: a crash between the era-tagged append and the
            // checkpoint commit replays this batchId with its own
            // replacement tail already on disk. Unlike a same-row_id
            // re-append (which max_by collapses), a replayed trigger that
            // reads its OWN tail back would pack the batch's tokens a
            // SECOND time at FRESH row_ids — rows latest-era-wins can
            // never collapse. Exclude the current era from the stored
            // read (trigramGateWriter's storedRaw filter), so the replay
            // recomputes the identical tail and its re-append collapses
            // era-on-era at read.
            val collapsed = graft.operators.Packing.latestPackedRows(
              raw.filter(col("era") =!= lit(batchId)))
            if (collapsed.limit(1).isEmpty) null else collapsed
        }
        // StorageLevel.NONE: the per-trigger persist below covers the
        // double consumption; the operators' internal default persist
        // would leak one cache entry per trigger
        val newRows =
          if (stored == null)
            graft.operators.Packing.packTokenRows(enc, seqLen, idCol,
              storage = org.apache.spark.storage.StorageLevel.NONE)
          else
            graft.operators.Packing.packTokenRowsIncremental(stored, enc, seqLen, idCol,
              storage = org.apache.spark.storage.StorageLevel.NONE)
        // persist: the sink and the state append both consume the rows —
        // without it the batch re-encodes and re-packs twice
        val rows = newRows.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(rows, batchId)
          // state append AFTER the sink (the crash-replay rule); the era
          // tag makes the replayed append collapse at read
          rows.withColumn("era", lit(batchId))
            .write.mode("append").parquet(packedPath)
        } finally { rows.unpersist(); () }
      }

  /** Streaming SEMANTIC contamination gate: each arriving micro-batch of
    * embedded documents is checked against a FROZEN benchmark embedding
    * table with the batch operator
    * ([[graft.operators.SimilaritySearch.crossNearDup]]) — the
    * paraphrase-leak complement to [[contaminationGateWriter]]'s verbatim
    * gate, with the same one-code-path / zero-streaming-state argument:
    * the benchmark side bands once (persist it), only the batch's vectors
    * hash per trigger, and per-batch independence needs no update-mode
    * state. `sink` receives the flagged (idCol, ref_id, cos_sim) pairs
    * with the micro-batch id.
    */
  def embedContaminationGateWriter(vectors: DataFrame, benchEmb: DataFrame,
                                   threshold: Double,
                                   sink: (DataFrame, Long) => Unit,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // StorageLevel.NONE: every micro-batch is a NEW logical plan, so
        // the operator's default persist would add one never-evicted
        // cache entry per trigger for the stream's lifetime. Micro-batches
        // are small and each side is read at most twice — recompute is the
        // memory-safe plan; callers persist the (plan-stable) benchmark
        // side themselves.
        sink(graft.operators.SimilaritySearch.crossNearDup(
          batch.toDF(), benchEmb, threshold, idCol = idCol, vecCol = vecCol,
          storage = org.apache.spark.storage.StorageLevel.NONE), batchId)
      }

  /** Streaming EWMA feature gate: each micro-batch of events folds into
    * per-user exponentially-decayed value state
    * ([[graft.operators.DecayFeatures.incrementEwma]] — the EWMA
    * recurrence continues exactly from the stored accumulator, so stored
    * events are never re-read and chained triggers equal the one-shot
    * [[graft.operators.DecayFeatures.ewmaState]] bit-for-bit;
    * EventStreamSpec pins it). State is an append-only era-tagged log at
    * `statePath/ewma` holding only the users each trigger TOUCHED
    * (O(batch) rows per era, never an O(users) snapshot rewrite);
    * latest-era-wins per user reconstructs the snapshot at read, and a
    * trigger excludes its OWN era before folding — the packGateWriter
    * crash-replay rule, applied here from day one: a replayed batch
    * recomputes the identical rows and its re-append collapses at read.
    * `sink` receives the batch's updated user states (exactly what an
    * online feature push must write) with the micro-batch id. Caller
    * contract: event time only moves forward across triggers (the
    * incrementEwma per-row guard raises otherwise); `decayPpm` frozen
    * with the state.
    */
  def ewmaGateWriter(events: DataFrame, statePath: String,
                     sink: (DataFrame, Long) => Unit,
                     decayPpm: Long = 850000L,
                     userCol: String = "user_id")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF()
        val ewmaPath = s"$statePath/ewma"
        val stored = tableOr(spark, ewmaPath, null) match {
          case null => null
          case raw =>
            val latest = raw.filter(col("era") =!= lit(batchId))
              .groupBy(col(userCol))
              .agg(max_by(struct(col("n_events"), col("ewma_fp"),
                col("last_ts_us"), col("last_event_id")), col("era")).as("__v"))
              .select(col(userCol), col("__v.n_events").as("n_events"),
                col("__v.ewma_fp").as("ewma_fp"),
                col("__v.last_ts_us").as("last_ts_us"),
                col("__v.last_event_id").as("last_event_id"))
            if (latest.limit(1).isEmpty) null else latest
        }
        val next =
          if (stored == null)
            graft.operators.DecayFeatures.ewmaState(b, decayPpm, userCol)
          else graft.operators.DecayFeatures.incrementEwma(stored, b, decayPpm, userCol)
        // only the TOUCHED users append (incrementEwma passes untouched
        // users through unchanged — appending them would grow each era to
        // the full user set); persist: the sink and the append both read
        val touched = next
          .join(b.select(col(userCol)).distinct(), Seq(userCol), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(touched, batchId)
          // state append AFTER the sink (the crash-replay rule); the era
          // tag + own-era exclusion make a replayed append collapse at read
          touched.withColumn("era", lit(batchId))
            .write.mode("append").parquet(ewmaPath)
        } finally { touched.unpersist(); () }
      }

  /** Streaming TRAFFIC-ANOMALY gate: each arriving micro-batch's events
    * fold into the day-grain volume state, then the WHOLE merged day
    * domain re-scores — verdicts are as-of-ingest and may legitimately
    * flip when late data re-opens a day (the honest semantics of a
    * volume monitor). One code path with batch q182:
    * [[graft.operators.Anomaly.trafficAnomalyFromCounts]] over
    * [[graft.operators.Anomaly.mergeDailyCounts]], so after N triggers
    * the state equals the one-shot [[graft.operators.Anomaly.dailyCounts]]
    * of everything ingested, bit-for-bit.
    *
    * State layout: `counts/batch=<id>/` — the [[trigramGateWriter]]
    * discipline for sum-merged partials: batch-scoped OVERWRITE makes a
    * crash-replayed batch rewrite its own partial instead of
    * double-counting, and a trigger excludes its OWN batch id from the
    * stored side so the replayed sink emission matches the original.
    * `sink` receives the full scored day table per trigger (bounded by
    * the day domain — thousands of rows, never the corpus).
    */
  def trafficAnomalyGateWriter(events: DataFrame, statePath: String,
                               sink: (DataFrame, Long) => Unit,
                               windowDays: Int = 7,
                               kNum: Long = 3L, kDen: Long = 1L,
                               tsCol: String = "ts")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val countsPath = s"$statePath/counts"
        // persist: the scoring windows and the state write both read the
        // batch partial (and the batch aggregate is the expensive pass)
        val bCounts = graft.operators.Anomaly.dailyCounts(batch.toDF(), tsCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val merged = tableOr(spark, countsPath, null) match {
          case null => graft.operators.Anomaly.mergeDailyCounts(
            bCounts, bCounts.limit(0))
          case raw => graft.operators.Anomaly.mergeDailyCounts(
            raw.filter(col("batch") =!= batchId), bCounts)
        }
        try {
          sink(graft.operators.Anomaly.trafficAnomalyFromCounts(
            merged, windowDays, kNum, kDen), batchId)
          // batch-scoped OVERWRITE after the sink: replays rewrite their
          // own partial, never double-count
          bCounts.write.mode("overwrite").parquet(s"$countsPath/batch=$batchId")
        } finally { bCounts.unpersist(); () }
      }

  /** Streaming ATTRIBUTION ingest gate: each arriving micro-batch's
    * conversions are credited against everything ingested so far (stored
    * in-window touches + the batch's own), then the batch folds into the
    * touch state — ingest-time attribution, the streaming form of
    * `attribution --state-path`. One code path with batch:
    * [[graft.operators.Attribution.incrementAttribution]] emits the
    * shard's credits (already-attributed conversions are IMMUTABLE — a
    * conversion is credited exactly once, by the trigger that carries
    * it), [[graft.operators.Attribution.incrementAttributionState]]
    * advances the window-bounded touch state. State lives era-tagged
    * under `statePath/touch_state` (the ewmaGateWriter layout for
    * multi-row-per-user state): latest-era-wins per user reconstructs
    * the snapshot at read, a trigger excludes its OWN era before
    * folding, and `dropDuplicates` collapses a crashed append's
    * re-delivered identical rows — so a replayed batch emits identical
    * credits and the state holds one copy. Only TOUCHED users append
    * (eras stay O(batch)). Caller contract: event time only moves
    * forward across triggers (the per-row order guard raises otherwise);
    * `windowDays`/`scheme` are frozen with the state.
    */
  def attributionGateWriter(events: DataFrame, statePath: String,
                            sink: (DataFrame, Long) => Unit,
                            windowDays: Int = 7,
                            scheme: graft.operators.Attribution.Scheme =
                              graft.operators.Attribution.Linear,
                            convType: String = "purchase",
                            touchType: String = "click",
                            userCol: String = "user_id")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF()
        val path = s"$statePath/touch_state"
        val empty = graft.operators.Attribution.attributionState(
          b.limit(0), windowDays, convType, touchType, userCol)
        val stored = tableOr(spark, path, null) match {
          case null => empty
          case raw => graft.operators.Attribution.latestState(
            raw, userCol, excludeEra = Some(batchId))
        }
        sink(graft.operators.Attribution.incrementAttribution(
          stored, b, windowDays, scheme, convType, touchType, userCol,
          // NONE: every trigger is a new plan — the default persist would
          // leak one cache entry per micro-batch for the stream's lifetime
          storage = org.apache.spark.storage.StorageLevel.NONE), batchId)
        // state append AFTER the sink (the crash-replay rule); only the
        // batch's users append — untouched users' latest era still wins
        graft.operators.Attribution.incrementAttributionState(
            stored, b, windowDays, convType, touchType, userCol)
          .join(b.filter(col("event_type").isin(convType, touchType))
            .select(col(userCol)).distinct(), Seq(userCol), "left_semi")
          .withColumn("era", lit(batchId))
          .write.mode("append").parquet(path)
      }

  /** Streaming RELEASE gate — `App release`'s ingest-time form: each
    * arriving micro-batch of documents runs the SAME two verdict
    * composites the batch capstone gates on — curation
    * ([[graft.operators.Verdicts.curationVerdictAgainst]]: the q132
    * bitmask with the duplicate gate widened to everything already
    * ingested) and contamination against the FROZEN benchmark
    * ([[graft.operators.Verdicts.contaminationVerdict]], the q134 mask,
    * over the curation-kept docs like the batch release) — and only docs
    * passing BOTH append to the released-docs state. Per trigger the
    * sink receives one row per batch doc: (idCol, fail_mask, keep,
    * method_mask, clean, released) — fail_mask/method_mask are
    * bit-identical to the batch verdicts (EventStreamSpec pins it);
    * method_mask/clean are NULL for docs curation already dropped
    * (contamination never ran on them, the release semantics).
    *
    * State layout under `statePath`: `seen_hashes` (every ingested
    * doc's md5 content hash, era-tagged — a duplicate of a DROPPED doc
    * is still a duplicate), `released_docs` (the released rows,
    * era-tagged), and `manifest` (one row, OVERWRITTEN LAST each
    * trigger, recomputed off the MERGED state — after any completed
    * trigger it describes exactly the docs released so far; a crash
    * mid-trigger leaves it one trigger stale until the replay).
    *
    * Frozen-reference contract: `positive`/`negative` (the NB seed
    * frames) and `bench` are STATIC frames frozen with the state, so
    * every gate is a pure per-doc function given the stored hashes — a
    * crash-replayed batch emits identical verdicts, the seen-hash read
    * excludes the batch's OWN era (replayed docs never read as
    * duplicates of themselves), and the re-appended rows are identical
    * (the merged-state reads dropDuplicates). Caller contract: doc ids
    * are unique and ascend with the stream (the incremental family's
    * shard discipline) — that is what makes streamed == one-shot exact.
    */
  def releaseGateWriter(docs: DataFrame, statePath: String,
                        positive: DataFrame, negative: DataFrame,
                        bench: DataFrame,
                        sink: (DataFrame, Long) => Unit,
                        idCol: String = "doc_id", textCol: String = "text")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF()
        val hashPath = s"$statePath/seen_hashes"
        val relPath = s"$statePath/released_docs"
        val seen = tableOr(spark, hashPath, null) match {
          case null => b.limit(0)
            .select(md5(col(textCol).cast("binary")).as("content_hash"))
          case raw => raw.filter(col("era") =!= lit(batchId))
            .select(col("content_hash"))
        }
        val cur = graft.operators.Verdicts.curationVerdictAgainst(
          b, positive, negative, seen, idCol, textCol)
        val kept = b.join(cur.filter(col("keep") === 1).select(col(idCol)),
          Seq(idCol), "left_semi")
        val con = graft.operators.Verdicts.contaminationVerdict(
          kept, bench, idCol = idCol, textCol = textCol)
        val verdicts = cur.select(col(idCol), col("fail_mask"), col("keep"))
          .join(con.select(col(idCol), col("method_mask"), col("clean")),
            Seq(idCol), "left")
          .withColumn("released",
            (col("keep") === 1 && coalesce(col("clean"), lit(0)) === 1).cast("int"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          sink(verdicts, batchId)
          // state appends AFTER the sink (the crash-replay rule)
          b.join(verdicts.filter(col("released") === 1).select(col(idCol)),
              Seq(idCol), "left_semi")
            .withColumn("era", lit(batchId))
            .write.mode("append").parquet(relPath)
          b.select(md5(col(textCol).cast("binary")).as("content_hash"))
            .distinct()
            .withColumn("era", lit(batchId))
            .write.mode("append").parquet(hashPath)
          // the manifest writes LAST, recomputed off the merged state
          val released = spark.read.parquet(relPath)
            .dropDuplicates(idCol).count()
          val seenHashes = spark.read.parquet(hashPath)
            .select(col("content_hash")).distinct().count()
          locally {
            import spark.implicits._
            Seq((released, seenHashes, batchId))
              .toDF("released_docs", "distinct_hashes_seen", "last_era")
              .coalesce(1).write.mode("overwrite").json(s"$statePath/manifest")
          }
        } finally { verdicts.unpersist(); () }
      }

  def kvSyncWriter(states: Dataset[UserFeatureState],
                   clientFactory: () => KVClient,
                   keyPrefix: String = "features_rt:"): DataStreamWriter[UserFeatureState] =
    states.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[UserFeatureState], _: Long) =>
        val payload = batch.toDF().select(
          concat(lit(keyPrefix), col("user_id")).as("key"),
          to_json(struct(
            col("event_count").cast("string").as("event_count"),
            col("purchase_count").cast("string").as("purchase_count"),
            col("last_event_ts").cast("string").as("last_event_ts")),
            Map("ignoreNullFields" -> "false")).as("value"))
        KVSink.write(payload, clientFactory)
        ()
      }
}
