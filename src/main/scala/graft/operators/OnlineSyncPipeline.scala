package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.domain.OnlineSyncConfig
import graft.sources.{Fetcher, KVClient, KVSink}

/** Online sync: push each user's LATEST feature row inside a freshness
  * window to the online KV store as `features:{user_id}` -> JSON
  * (reference: OnlineSyncPipeline.scala:41-100).
  *
  * JSON parity quirk (reference: OnlineSyncPipeline.scala:81-93,
  * README.md:158-169): numeric feature values are serialized as JSON
  * *strings* ("event_count_7d":"5"), missing values as unquoted null. We
  * reproduce that exactly with a cast-to-string struct + to_json.
  *
  * Physical design: the freshness filter `day >= cutoff` prunes partitions
  * of the day-partitioned features table, the per-user top-1 is one
  * hash-partitioned window, and the sink is a distributed foreachPartition
  * (one KV connection per partition) instead of the reference's
  * driver-side collect()+loop — the part of the reference that would die
  * first at 100 TB.
  */
object OnlineSyncPipeline {

  /** Latest row per user with day >= cutoff. `cutoff` is injected rather
    * than read from the wall clock (reference hardcodes
    * date_sub(current_date(), hoursBack/24) — integer division, so
    * hoursBack=36 means 1 day; compute that in [[cutoffFor]]).
    *
    * Formulated as `max_by(struct(cols), day)` — an aggregate, not a
    * window: the partial (map-side) aggregate combines before the shuffle
    * and AQE can split a hot user's partial rows across tasks, whereas a
    * `row_number() over (partition by user_id)` window is un-splittable —
    * one pathological user serializes into one task at 100 TB. `day` is
    * unique per (user, day) feature row, so max_by has no ties and the two
    * forms agree row-for-row (OnlineSyncSpec asserts it).
    */
  def latestPerUser(features: DataFrame, cutoff: Column): DataFrame = {
    val others = features.columns.filterNot(_ == "user_id").toIndexedSeq
    features
      .filter(col("day") >= cutoff)
      .groupBy(col("user_id"))
      .agg(max_by(struct(others.map(col): _*), col("day")).as("__latest"))
      .select(col("user_id") +: others.map(c => col("__latest").getField(c).as(c)): _*)
  }

  /** The window formulation, kept ONLY as the parity witness for
    * [[latestPerUser]] (and as the plan-shape foil in BucketedTableSpec:
    * bucketing eliminates its exchange; skew still can't split it).
    */
  def latestPerUserWindow(features: DataFrame, cutoff: Column): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("day").desc)
    features
      .filter(col("day") >= cutoff)
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") === 1)
      .drop("__rank")
  }

  /** Reference cutoff arithmetic (OnlineSyncPipeline.scala:54). */
  def cutoffFor(hoursBack: Int): Column =
    date_sub(current_date(), hoursBack / 24)

  /** (key, value) payload rows: features:{user_id} -> JSON string. */
  def payload(latest: DataFrame, keyPrefix: String = "features:"): DataFrame =
    latest.select(
      concat(lit(keyPrefix), col("user_id")).as("key"),
      to_json(struct(
        col("day").cast("string").as("day"),
        col("event_count_7d").cast("string").as("event_count_7d"),
        col("event_count_30d").cast("string").as("event_count_30d"),
        col("last_event_days_ago").cast("string").as("last_event_days_ago"),
        col("event_type_counts").cast("string").as("event_type_counts")),
        Map("ignoreNullFields" -> "false")).as("value"))

  /** Full pipeline: table scan -> freshness filter -> latest per user ->
    * JSON -> distributed KV write. Returns the number of keys written.
    */
  def run(spark: SparkSession, fetcher: Fetcher, config: OnlineSyncConfig,
      clientFactory: () => KVClient,
      cutoffOverride: Option[Column] = None): Long = {
    val features = fetcher.readTable(spark, config.featuresTable)
    val cutoff = cutoffOverride.getOrElse(cutoffFor(config.hoursBack))
    KVSink.write(payload(latestPerUser(features, cutoff), config.keyPrefix), clientFactory)
  }
}
