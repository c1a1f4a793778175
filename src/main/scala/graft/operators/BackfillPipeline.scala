package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.{BackfillConfig, FeaturesDaily, Schemas}
import graft.sources.{Fetcher, Writer}

/** Backfill: raw event log -> one feature row per (user, day) over an
  * inclusive [start, end] date range (reference: BackfillPipeline.scala:99-172).
  *
  * Output semantics (the parity contract, SURVEY §2.4):
  *  - user universe = users appearing anywhere in `events_raw`;
  *  - every user gets a row for EVERY day in the range, including
  *    event-free days (cross join densification);
  *  - event_count_7d / _30d: events with 0 <= day - event_date <= 7 / 30;
  *  - last_event_days_ago: min day-distance in the 30d window, null if none;
  *  - event_type_counts: distinct event types in the 30d window, as string
  *    ("0" on event-free days).
  *
  * Physical design — deliberately NOT the reference's plan. The reference
  * band-joins RAW events to user-days, fanning every event out to <=31
  * rows before aggregating (O(|events| * 31) shuffle). We pre-aggregate to
  * (user, event_date, event_type) daily counts FIRST — a map-side-combinable
  * hash aggregate that collapses the event log (100 TB) to at most
  * |users| * |active days| * |event types| rows — and band-join the compact
  * daily summary instead. Join fan-out then depends on active days, not raw
  * event volume; results are bit-identical because every aggregate in the
  * final step is distributive over the daily pre-aggregation:
  * count -> sum of daily counts, min(datediff) over days, countDistinct type
  * over (day, type) pairs.
  */
object BackfillPipeline {

  /** Pure transformation: events (user_id, event_type, ts) -> features. */
  def transform(events: DataFrame, startDate: String, endDate: String): DataFrame = {
    val spark = events.sparkSession
    val start = to_date(lit(startDate))
    val end = to_date(lit(endDate))

    // Inclusive calendar spine [start, end] (reference builds this with a
    // posexplode(split(space(n))) trick, BackfillPipeline.scala:110-115;
    // sequence() is the idiomatic generator). Tiny -> broadcast.
    val dateRange = spark.range(1).select(
      explode(sequence(start, end)).as("day"))

    // Prune the scan before anything else: only events inside
    // [start - 30d, end] can influence any output row. This is the filter
    // that must reach the parquet scan (partition pruning on a
    // date-partitioned event log at scale).
    val relevant = events
      .withColumn("event_date", to_date(col("ts")))
      .filter(col("event_date") >= date_sub(start, 30) && col("event_date") <= end)

    // Map-side-combinable pre-aggregation: the scale lever (see scaladoc).
    val daily = relevant
      .groupBy(col("user_id"), col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))

    // User universe × calendar spine. The spine is tiny — broadcast it so
    // densification never shuffles the user list.
    val users = events.select(col("user_id")).distinct()
    val userDays = users.crossJoin(broadcast(dateRange))

    // Band join: each (user, day) picks up that user's daily summaries in
    // the trailing 30-day window (inclusive both ends).
    val joined = userDays.alias("ud").join(daily.alias("ev"),
      col("ud.user_id") === col("ev.user_id") &&
        col("ev.event_date") <= col("ud.day") &&
        col("ev.event_date") >= date_sub(col("ud.day"), 30),
      "left")

    val dd = datediff(col("ud.day"), col("ev.event_date"))
    joined
      .groupBy(col("ud.user_id").as("user_id"), col("ud.day").as("day"))
      .agg(
        coalesce(sum(when(dd.between(0, 7), col("ev.cnt")).otherwise(0L)), lit(0L))
          .as("event_count_7d"),
        coalesce(sum(when(dd.between(0, 30), col("ev.cnt")).otherwise(0L)), lit(0L))
          .as("event_count_30d"),
        min(when(col("ev.event_date").isNotNull && dd >= 0, dd)).cast("int")
          .as("last_event_days_ago"),
        countDistinct(col("ev.event_type")).cast("string")
          .as("event_type_counts"))
  }

  /** Read the raw event log with `ts` normalized to TimestampType. No
    * explicit schema on this read: event logs in the wild carry ts as
    * TIMESTAMP(MICROS), TIMESTAMP_NTZ or TIMESTAMP(NANOS); the legacy conf
    * lets the nanos variant load (as a raw long), and normalizeEventTs
    * converges all three to TimestampType. Schemas.eventsRaw documents the
    * logical contract. The schema comes from one driver-side footer read
    * inside readParquet, so planning runs no job; the conf is restored
    * after it, and later actions on the returned frame still decode nanos
    * (ParquetFooterSchemaSpec reads all three encodings back), so no
    * session-global state leaks into later unrelated reads.
    */
  private[graft] def readEvents(spark: SparkSession, fetcher: Fetcher, path: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try Schemas.normalizeEventTs(fetcher.readParquet(spark, path))
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def runWith(spark: SparkSession, fetcher: Fetcher, config: BackfillConfig)(
      write: DataFrame => Unit): Dataset[FeaturesDaily] = {
    import spark.implicits._
    val events = readEvents(spark, fetcher, config.eventsRawPath)
    val features = transform(events, config.startDate, config.endDate).as[FeaturesDaily]
    write(features.toDF())
    features
  }

  /** Full pipeline: read events, transform, insert-overwrite the features
    * table partitioned by day (reference: BackfillPipeline.scala:81-90).
    */
  def run(spark: SparkSession, fetcher: Fetcher, writer: Writer,
      config: BackfillConfig): Dataset[FeaturesDaily] =
    runWith(spark, fetcher, config) { out =>
      config.buckets match {
        case Some(n) => writer.insertOverwriteBucketedTable(
          out, config.outputTable, n, "user_id", config.partitionBy)
        case None => writer.insertOverwriteTable(
          out, config.outputTable, config.partitionBy)
      }
    }

  /** Incremental backfill: compute features ONLY for [startDate, endDate]
    * and replace exactly those day partitions, leaving history untouched
    * (dynamic partition overwrite). Equivalent to a full recompute restricted
    * to the range — each day's features depend only on events in
    * [day - 30d, day], so day partitions are independent — but the event
    * scan prunes to a ~(range + 30d) window and the write touches only the
    * new day directories. The reference recomputes and rewrites the whole
    * table every run (ProdWriter.scala:57-70); at 100 TB that is the
    * difference between touching a month and rewriting years.
    */
  def runIncremental(spark: SparkSession, fetcher: Fetcher, writer: Writer,
      config: BackfillConfig): Dataset[FeaturesDaily] =
    runWith(spark, fetcher, config) { out =>
      // A fresh table honors config.buckets so `--incremental --buckets N`
      // doesn't silently create an unbucketed table; an EXISTING table's
      // layout (bucketed or not) is preserved by the partition-level insert.
      if (config.buckets.isDefined && !spark.catalog.tableExists(config.outputTable))
        writer.insertOverwriteBucketedTable(
          out, config.outputTable, config.buckets.get, "user_id", config.partitionBy)
      else
        writer.overwritePartitions(out, config.outputTable, config.partitionBy)
    }
}
