package graft.operators

import org.apache.spark.sql.functions.lit

import graft.{InMemoryStorage, SparkTestBase, TestFetcher}
import graft.domain.{FeaturesDaily, OnlineSyncConfig}
import graft.sources.{InMemoryKVStore, KVClient, KVSink}

/** Online-sync semantics (reference: OnlineSyncPipeline.scala:41-100):
  * freshness filter, latest-row-per-user, string-quoted JSON quirk,
  * distributed KV write.
  */
class OnlineSyncSpec extends SparkTestBase {
  import spark.implicits._

  private val feats = Seq(
    FeaturesDaily("user1", d("2024-01-05"), Some(3L), Some(7L), Some(1), Some("2")),
    FeaturesDaily("user1", d("2024-01-06"), Some(4L), Some(8L), Some(0), Some("3")),
    FeaturesDaily("user2", d("2024-01-03"), Some(1L), Some(1L), None, Some("0")),
    FeaturesDaily("user3", d("2024-01-01"), Some(0L), Some(0L), None, Some("0")))

  test("latest row per user within the freshness window; stale users dropped") {
    val latest = OnlineSyncPipeline
      .latestPerUser(feats.toDF(), lit("2024-01-03").cast("date"))
      .as[FeaturesDaily].collect().map(f => f.user_id -> f).toMap

    latest.keySet shouldBe Set("user1", "user2")     // user3 older than cutoff
    latest("user1").day shouldBe d("2024-01-06")     // latest of the two
    latest("user1").event_count_7d shouldBe Some(4L)
  }

  test("max_by aggregate form == window form (parity witness)") {
    val cutoff = lit("2024-01-01").cast("date")
    val agg = OnlineSyncPipeline.latestPerUser(feats.toDF(), cutoff)
      .as[FeaturesDaily].collect().sortBy(_.user_id).toSeq
    val win = OnlineSyncPipeline.latestPerUserWindow(feats.toDF(), cutoff)
      .as[FeaturesDaily].collect().sortBy(_.user_id).toSeq
    agg shouldBe win
    // and the aggregate form's plan combines map-side BEFORE the shuffle
    // (partial_max_by; struct-valued buffers plan as SortAggregate) with no
    // un-splittable Window operator
    val plan = OnlineSyncPipeline.latestPerUser(feats.toDF(), cutoff)
      .queryExecution.executedPlan.toString
    plan should include("partial_max_by")
    plan should not include "Window"
  }

  test("JSON payload: counts quoted as strings, missing values unquoted null") {
    val latest = OnlineSyncPipeline.latestPerUser(feats.toDF(), lit("2024-01-01").cast("date"))
    val payload = OnlineSyncPipeline.payload(latest)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    payload("features:user1") shouldBe
      """{"day":"2024-01-06","event_count_7d":"4","event_count_30d":"8","last_event_days_ago":"0","event_type_counts":"3"}"""
    // user2: null recency must render as unquoted null
    payload("features:user2") shouldBe
      """{"day":"2024-01-03","event_count_7d":"1","event_count_30d":"1","last_event_days_ago":null,"event_type_counts":"0"}"""
  }

  test("full sync run writes one key per fresh user through the KV sink") {
    InMemoryKVStore.clear()
    val storage = new InMemoryStorage
    storage.write("features_daily", feats.toDF(), "overwrite")
    val n = OnlineSyncPipeline.run(spark, new TestFetcher(storage),
      OnlineSyncConfig("features_daily"), () => InMemoryKVStore,
      cutoffOverride = Some(lit("2024-01-01").cast("date")))

    n shouldBe 3
    InMemoryKVStore.snapshot.keySet shouldBe
      Set("features:user1", "features:user2", "features:user3")
    InMemoryKVStore.snapshot("features:user3") should include("\"event_count_7d\":\"0\"")
  }

  test("the sync's count is the SETs its one write job issued: keys written == payload rows") {
    val storage = new InMemoryStorage
    storage.write("features_daily", feats.toDF(), "overwrite")
    val cutoff = lit("2024-01-03").cast("date")
    val payloadRows = OnlineSyncPipeline.payload(
      OnlineSyncPipeline.latestPerUser(feats.toDF(), cutoff)).count()
    OnlineSyncSpec.Store.clear()
    val n = OnlineSyncPipeline.run(spark, new TestFetcher(storage),
      OnlineSyncConfig("features_daily"), () => OnlineSyncSpec.Store,
      cutoffOverride = Some(cutoff))
    n shouldBe payloadRows
    n shouldBe OnlineSyncSpec.Store.size.toLong
    n shouldBe 2L

    // the sink's own count, over more partitions than rows
    OnlineSyncSpec.Store.clear()
    val kv = (1 to 25).map(i => (s"k$i", s"v$i")).toDF("key", "value").repartition(8)
    KVSink.write(kv, () => OnlineSyncSpec.Store) shouldBe 25L
    OnlineSyncSpec.Store.size shouldBe 25
  }

  test("hoursBack/24 integer division matches the reference quirk") {
    // 36 hours -> 1 day, 168 -> 7 days, 23 -> 0 days (same-day only)
    import org.apache.spark.sql.functions.{current_date, date_sub}
    val expect = Map(36 -> 1, 168 -> 7, 23 -> 0)
    expect.foreach { case (hours, days) =>
      val got = spark.range(1)
        .select(OnlineSyncPipeline.cutoffFor(hours).as("c"),
          date_sub(current_date(), days).as("e"))
        .head()
      got.getDate(0) shouldBe got.getDate(1)
    }
  }
}

object OnlineSyncSpec {
  /** This suite's own store: suites running alongside share InMemoryKVStore.
    * An object, so executor-side closures reach this instance, not a copy.
    */
  object Store extends KVClient {
    private val map = new java.util.concurrent.ConcurrentHashMap[String, String]()
    override def set(key: String, value: String): Unit = map.put(key, value)
    override def get(key: String): Option[String] = Option(map.get(key))
    def size: Int = map.size
    def clear(): Unit = map.clear()
  }
}
