package graft.operators

import graft.{InMemoryStorage, SparkTestBase, TestFetcher, TestWriter}
import graft.domain._
import graft.sources.InMemoryKVStore

/** Full pipeline chain through the platform traits: backfill writes the
  * features table, PIT join reads it back, online sync pushes to the KV
  * store — the reference's three-pipeline lifecycle end-to-end
  * (reference: App.scala:78-110) with in-memory storage doubles.
  */
class PipelineE2ESpec extends SparkTestBase {
  import spark.implicits._

  test("backfill -> point-in-time join -> online sync, chained through storage") {
    val storage = new InMemoryStorage
    val fetcher = new TestFetcher(storage)
    val writer = new TestWriter(storage)
    InMemoryKVStore.clear()

    // arrange: raw events + labels in "storage"
    val events = Seq(
      EventRaw("user1", "click", ts("2024-01-01 10:00:00")),
      EventRaw("user1", "purchase", ts("2024-01-03 14:30:00")),
      EventRaw("user2", "view", ts("2024-01-02 09:00:00")))
    val labels = Seq(
      Label("user1", 1.0, ts("2024-01-02 12:00:00")),
      Label("user2", 0.0, ts("2024-01-03 12:00:00")))
    storage.write("events_raw", events.toDF(), "overwrite")
    storage.write("labels", labels.toDF(), "overwrite")

    // act 1: backfill
    BackfillPipeline.run(spark, fetcher, writer,
      BackfillConfig("events_raw", "features_daily", "2024-01-01", "2024-01-05"))
    storage.rows("features_daily") should have size 10   // 2 users x 5 days

    // act 2: PIT join against the table backfill just wrote
    val training = PointInTimeJoinPipeline.run(spark, fetcher, writer,
      PointInTimeJoinConfig("labels", "features_daily", "training_data"))
    training shouldBe defined
    val byUser = training.get.collect().map(t => t.user_id -> t).toMap
    byUser("user1").day shouldBe Some(d("2024-01-02"))
    byUser("user1").event_count_7d shouldBe Some(1L)     // only the Jan-1 click
    byUser("user2").event_count_7d shouldBe Some(1L)
    storage.rows should contain key "training_data"

    // act 3: online sync with a cutoff covering the range
    import org.apache.spark.sql.functions.lit
    val n = OnlineSyncPipeline.run(spark, fetcher,
      OnlineSyncConfig("features_daily"), () => InMemoryKVStore,
      cutoffOverride = Some(lit("2024-01-01").cast("date")))
    n shouldBe 2
    InMemoryKVStore.snapshot("features:user1") should include("\"day\":\"2024-01-05\"")
  }

  test("PIT join returns None and skips the write when the join is empty") {
    val storage = new InMemoryStorage
    storage.write("labels", Seq.empty[Label].toDF(), "overwrite")
    storage.write("features_daily",
      Seq(FeaturesDaily("u", d("2024-01-01"), Some(1L), Some(1L), Some(0), Some("1"))).toDF(),
      "overwrite")
    val out = PointInTimeJoinPipeline.run(spark, new TestFetcher(storage),
      new TestWriter(storage),
      PointInTimeJoinConfig("labels", "features_daily", "training_data"))
    out shouldBe None
    storage.rows should not contain key("training_data")
  }

  test("PIT join writes one row per label and returns the uncached plan") {
    val storage = new InMemoryStorage
    val labels = Seq(
      Label("user1", 1.0, ts("2024-01-02 12:00:00")),
      Label("user1", 1.0, ts("2024-01-02 12:00:00")),  // duplicate: kept
      Label("user1", 0.0, ts("2024-01-03 08:00:00")),
      Label("ghost", 0.0, ts("2024-01-02 00:00:00")))  // no features: kept, nulls
    storage.write("labels", labels.toDF(), "overwrite")
    storage.write("features_daily",
      Seq(FeaturesDaily("user1", d("2024-01-01"), Some(1L), Some(1L), Some(0), Some("1"))).toDF(),
      "overwrite")
    val out = PointInTimeJoinPipeline.run(spark, new TestFetcher(storage),
      new TestWriter(storage),
      PointInTimeJoinConfig("labels", "features_daily", "training_data"))
    out shouldBe defined
    out.get.storageLevel shouldBe org.apache.spark.storage.StorageLevel.NONE
    storage.rows("training_data") should have size labels.size.toLong
  }

  test("storage modes: append accumulates, ignore keeps first write") {
    val storage = new InMemoryStorage
    val df1 = Seq(("a", 1)).toDF("k", "v")
    val df2 = Seq(("b", 2)).toDF("k", "v")
    storage.write("t", df1, "overwrite")
    storage.write("t", df2, "append")
    storage.rows("t") should have size 2
    storage.write("t", df1, "ignore")
    storage.rows("t") should have size 2
    storage.write("t", df1, "overwrite")
    storage.rows("t") should have size 1
  }
}
