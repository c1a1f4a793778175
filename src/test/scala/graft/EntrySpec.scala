package graft

/** The driver smoke-checks `SparkEntry.entry` returns rows — guard it here
  * so a refactor can't break the flagship path silently.
  */
class EntrySpec extends SparkTestBase {

  test("flagship entry query returns feature rows on sf0.001") {
    val out = SparkEntry.entry(spark)
    out.columns should contain allOf ("user_id", "day", "event_count_7d",
      "event_count_30d", "last_event_days_ago", "event_type_counts")
    out.count() should be > 0L
  }

  test("every query has either an oracle twin or a documented omission") {
    // the driver records a weaker rows-only check for queries missing
    // oracleSql — every omission must be listed here WITH its reason
    // empty since round 10: q96 (the last omission) gained a full SQL
    // oracle — the deterministic fixture makes even the ImageIO decode
    // replayable as integer math on doc_id
    val sanctionedOmissions = Set.empty[String]
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    missing shouldBe sanctionedOmissions
    // and no orphaned oracle entries for queries that don't exist
    (SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet) shouldBe empty
  }

  test("tools' query filter: a prefix selects up to the underscore, an exact name itself") {
    val names = SparkEntry.queries.keys.toSeq
    // q90-q99 and q150-q159 exist: a bare startsWith would select them
    names.count(_.startsWith("q9")) should be > 1
    names.count(_.startsWith("q15")) should be > 1
    names.filter(SparkEntry.queryFilter("q9")).forall(_.startsWith("q9_")) shouldBe true
    SparkEntry.queryFilter("q9")("q90_source_drift") shouldBe false
    names.filter(SparkEntry.queryFilter("q15")) shouldBe Seq("q15_pit_join")
    names.filter(SparkEntry.queryFilter("q155_host_pagerank")) shouldBe Seq("q155_host_pagerank")
    names.filter(SparkEntry.queryFilter("q15,q09")).toSet shouldBe
      Set("q15_pit_join", "q09_conditional_agg")
  }

  test("ScaleBench's rows take the same filter: a prefix selects up to the underscore") {
    val rows = ScaleBench.rowNames
    rows.distinct shouldBe rows
    rows should contain allOf ("corpus_pipeline", "attribution", "audio_state_pairs")
    // a bare startsWith would select corpus_pipeline
    rows.filter(SparkEntry.queryFilter("corp")) shouldBe empty
    rows.filter(SparkEntry.queryFilter("attribution")) shouldBe
      Seq("attribution", "attribution_history", "attribution_increment_vs_full")
    rows.filter(SparkEntry.queryFilter("planted_recall@10")) shouldBe
      Seq("planted_recall@10_ivf", "planted_recall@10_pq", "planted_recall@10_ivfpq")
  }
}
