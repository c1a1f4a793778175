package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, BackfillPipeline, OnlineSyncPipeline, PointInTimeJoinPipeline}

/** Driver contract — one entry per operator in SURVEY.md §2, each paired
  * with ANSI SQL the DuckDB oracle runs on the same parquet tables.
  *
  * Conventions:
  *  - every computed column is aliased identically in the DataFrame code
  *    and the oracle SQL (the driver's compare is column-name keyed);
  *  - DuckDB `sum(BIGINT)` returns HUGEINT — always cast back to BIGINT;
  *  - doubles that aggregate are rounded on both sides so engine-order
  *    float summation can't flip a hash.
  */
object SparkEntry {

  /** A contract table, its schema read from one parquet footer on the
    * driver ([[graft.sources.Fetcher.readParquet]]) — no inference job.
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.ProdFetcher.readParquet(s, s"$dir/$name.parquet")

  /** The event table with `ts` normalized to TimestampType, read as the
    * backfill reads its event log ([[BackfillPipeline.readEvents]]): the
    * testdata has carried `ts` as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS)
    * across regenerations, so no encoding is hardcoded.
    */
  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    BackfillPipeline.readEvents(s, graft.sources.ProdFetcher, s"$dir/events.parquet")

  /** Per-run scratch tag for the I/O round-trip queries: two concurrent
    * driver runs (e.g. a verify racing a bench) must not stomp each other's
    * scratch paths or catalog tables. The Spark application id is unique per
    * JVM/run and contains no wall-clock the oracle could see; the sf dir
    * disambiguates back-to-back runs against different scales in one app.
    */
  private def scratchTag(s: SparkSession, dir: String): String =
    (s.sparkContext.applicationId + "_" + dir).replaceAll("[^a-zA-Z0-9]", "_")

  /** Delete THIS run's I/O-query scratch outputs — the q32/q33 dirs and the
    * q34 catalog table. The Verify/Bench mains call this after their last
    * query: per-run names stop concurrent runs from stomping each other,
    * and this stops the run-scoped names from accumulating one table + two
    * dirs per run forever. Concurrent runs only ever delete their own tag.
    */
  def cleanupScratch(s: SparkSession, dir: String): Unit = {
    val tag = scratchTag(s, dir)
    Seq(s"/tmp/graft_io/q32_csv_$tag", s"/tmp/graft_io/q33_json_$tag",
        s"/tmp/graft_io/q151_orc_$tag")
      .foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    graft.sources.ProdWriter.dropTable(s, s"graft_q34_supplier_$tag")
  }

  /** The query filter every dev tool (Bench, Verify, PlanDump, ScaleBench —
    * through [[ToolHarness]]) applies to its comma-separated pattern list: a
    * pattern selects the exact name, or the names it prefixes up to the
    * underscore — `q9` selects q9_*, never q90-q99.
    */
  def queryFilter(spec: String): String => Boolean = {
    val pats = spec.split(',').toSeq
    name => pats.exists(p => name == p || name.startsWith(p + "_"))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    BackfillPipeline.transform(
      events(spark, "/root/testdata/sf0.001"),
      "2024-01-01", "2024-01-30")

  // ---- backfill fragments shared by q14/q15/q16 ----------------------
  private val BackfillStart = "2024-01-01"
  private val BackfillEnd = "2024-01-30"

  private def backfill(s: SparkSession, dir: String): DataFrame =
    BackfillPipeline.transform(events(s, dir), BackfillStart, BackfillEnd)

  private def labels(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value").as("label"), col("ts").as("as_of_ts"))

  /** Backfill as a DuckDB CTE body (the oracle twin of
    * [[BackfillPipeline.transform]]).
    */
  private val backfillSql: String =
    s"""WITH spine AS (
       |  SELECT unnest(generate_series(DATE '$BackfillStart', DATE '$BackfillEnd', INTERVAL 1 DAY))::DATE AS day),
       |ev AS (
       |  SELECT user_id, CAST(ts AS DATE) AS event_date, event_type, count(*) AS cnt
       |  FROM events GROUP BY 1, 2, 3),
       |ud AS (
       |  SELECT u.user_id, s.day FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN spine s)
       |SELECT ud.user_id, ud.day,
       |  CAST(coalesce(sum(CASE WHEN ev.event_date BETWEEN ud.day - 7 AND ud.day THEN ev.cnt ELSE 0 END), 0) AS BIGINT) AS event_count_7d,
       |  CAST(coalesce(sum(CASE WHEN ev.event_date BETWEEN ud.day - 30 AND ud.day THEN ev.cnt ELSE 0 END), 0) AS BIGINT) AS event_count_30d,
       |  CAST(min(CASE WHEN ev.event_date IS NOT NULL THEN datediff('day', ev.event_date, ud.day) END) AS INTEGER) AS last_event_days_ago,
       |  CAST(count(DISTINCT ev.event_type) AS VARCHAR) AS event_type_counts
       |FROM ud LEFT JOIN ev
       |  ON ud.user_id = ev.user_id
       |  AND ev.event_date <= ud.day AND ev.event_date >= ud.day - 30
       |GROUP BY ud.user_id, ud.day""".stripMargin

  private val labelsSql =
    "SELECT user_id, value AS label, ts AS as_of_ts FROM events WHERE event_type = 'purchase'"

  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ TrainingDataQueries.queries ++ AnalyticsQueries.queries ++ CurationQueries.queries

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/P1: parquet scan + projection
    "q01_scan_project" -> ((s, dir) =>
      t(s, dir, "region").select(col("r_regionkey"), col("r_name"))),

    // P6/P2: range predicate + derived column (filter must push to scan)
    "q02_filter_range" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          to_date(col("l_shipdate")).as("ship_day"))),

    // A1-A5 shape: TPC-H Q1-style hash aggregate
    "q03_agg_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))),

    // P8: distinct
    "q04_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_mktsegment")).distinct()),

    // J1: cross join (small dims; Catalyst broadcasts)
    "q05_cross_join" -> ((s, dir) =>
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))),

    // J4: left equi join + aggregate
    "q06_left_join_agg" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(c("c_custkey").as("c_custkey"))
        .agg(count(o("o_orderkey")).as("n_orders"),
          round(coalesce(sum(o("o_totalprice")), lit(0.0)), 2).as("total_spend"))
    }),

    // W2/O2: latest row per group via row_number
    "q07_latest_per_key" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    }),

    // O1/O3: global sort + limit with deterministic tie-break
    "q08_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),

    // P7/A2-A4: conditional aggregates over events
    "q09_conditional_agg" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"),
          round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 2).as("purchase_value"))),

    // A5/P4: exact distinct count + cast to string
    "q10_count_distinct" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).cast("string").as("n_types"))),

    // F1-F4: date scalar functions
    "q11_date_functions" -> ((s, dir) =>
      events(s, dir)
        .select(
          col("event_id"),
          to_date(col("ts")).as("event_date"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("days_since_start"),
          date_add(to_date(col("ts")), 7).as("week_later"),
          date_sub(to_date(col("ts")), 30).as("month_before"))),

    // F6: date-range generator (sequence + explode)
    "q12_date_spine" -> ((s, _) =>
      s.range(1).select(explode(sequence(
        to_date(lit(BackfillStart)), to_date(lit(BackfillEnd)))).as("day"))),

    // J2: band join micro (events in trailing 7d window per user-day)
    "q13_band_join" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("event_date", to_date(col("ts")))
      val daily = ev.groupBy(col("user_id").as("ev_user_id"), col("event_date"))
        .agg(count(lit(1)).as("cnt"))
      val spine = s.range(1).select(explode(sequence(
        to_date(lit("2024-01-08")), to_date(lit("2024-01-14")))).as("day"))
      val users = ev.select(col("user_id")).distinct()
      AsOfJoin.bandJoin(users.crossJoin(broadcast(spine)), daily,
        "user_id", "ev_user_id", "day", "event_date", 7)
        .groupBy(col("user_id"), col("day"))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("events_7d"))
    }),

    // Q1 composite: full backfill pipeline
    "q14_backfill" -> ((s, dir) => backfill(s, dir)),

    // Q2 composite: point-in-time join (single-shuffle union plan)
    "q15_pit_join" -> ((s, dir) =>
      PointInTimeJoinPipeline.transform(labels(s, dir), backfill(s, dir))),

    // Q2 composite: same semantics through the join+rank plan
    "q16_pit_join_rank" -> ((s, dir) =>
      PointInTimeJoinPipeline.transform(labels(s, dir), backfill(s, dir),
        useUnionPlan = false)),

    // Q3 composite: online-sync KV payload (fixed cutoff for determinism)
    "q17_online_payload" -> ((s, dir) =>
      OnlineSyncPipeline.payload(
        OnlineSyncPipeline.latestPerUser(backfill(s, dir), lit("2024-01-24").cast("date")))),

    // set ops at (user, day) granularity — every user has every event type
    // in this corpus, so user-level except is vacuously empty; day-level
    // except AND intersect both return thousands of rows at sf0.01+
    "q18_set_ops" -> ((s, dir) => {
      val ev = events(s, dir)
      def days(tpe: String) = ev.filter(col("event_type") === tpe)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val clicks = days("click")
      val purchases = days("purchase")
      clicks.except(purchases).withColumn("src", lit("click_only"))
        .unionByName(clicks.intersect(purchases).withColumn("src", lit("both")))
    }),

    // semi-structured: JSON field extraction from event props
    "q19_json_extract" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))),

    // S3+S7: CSV sink -> CSV scan round trip through the platform traits;
    // lossless, so the oracle is the source table itself
    "q32_csv_roundtrip" -> ((s, dir) => {
      val region = t(s, dir, "region")
      val tmp = s"/tmp/graft_io/q32_csv_${scratchTag(s, dir)}"
      graft.sources.ProdWriter.writeCsv(region, tmp)
      graft.sources.ProdFetcher.readCsv(s, tmp, Some(region.schema))
        .select(col("r_regionkey"), col("r_name"))
    }),

    // S2+S6: JSON sink -> JSON scan round trip
    "q33_json_roundtrip" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val tmp = s"/tmp/graft_io/q33_json_${scratchTag(s, dir)}"
      graft.sources.ProdWriter.writeJson(nation, tmp)
      graft.sources.ProdFetcher.readJson(s, tmp, Some(nation.schema))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    }),

    // skew-resilient exact distinct: two-phase (dedup on (key, value),
    // then count) — identical result to countDistinct, but the wide phase
    // shuffles on both columns so one dominant key can't pack its whole
    // distinct set into a single task
    "q36_distinct_two_phase" -> ((s, dir) =>
      graft.operators.Skew.distinctCountTwoPhase(
        events(s, dir), Seq(col("event_type")), col("user_id"), "n_users")),

    // skew tool: salted inner equi-join — row-identical to the plain join
    // (the oracle IS the plain join), but a hot key spreads across salts
    "q41_salted_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      graft.operators.Skew.saltedJoin(o, c, "c_custkey", numSalts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
    }),

    // S8+S4: insert-overwrite catalog table (partitioned) -> table scan
    // round trip. Partition values come back via directory inference, so
    // the final select pins the type to the oracle's.
    "q34_table_roundtrip" -> ((s, dir) => {
      val supplier = t(s, dir, "supplier")
      val tbl = s"graft_q34_supplier_${scratchTag(s, dir)}"
      graft.sources.ProdWriter.insertOverwriteTable(
        supplier, tbl, Seq("s_nationkey"))
      graft.sources.ProdFetcher.readTable(s, tbl)
        .select(col("s_suppkey"), col("s_name"),
          col("s_nationkey").cast("int").as("s_nationkey"),
          round(col("s_acctbal"), 2).as("s_acctbal"))
    }),

    // ORC sink -> ORC scan round trip (beyond the reference's format set);
    // lossless typed columnar round trip, so the oracle is the source table
    "q151_orc_roundtrip" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val tmp = s"/tmp/graft_io/q151_orc_${scratchTag(s, dir)}"
      graft.sources.ProdWriter.writeOrc(part, tmp)
      graft.sources.ProdFetcher.readOrc(s, tmp, Some(part.schema))
        .select(col("p_partkey"), col("p_name"), col("p_size"),
          round(col("p_retailprice"), 2).as("p_retailprice"))
    })
  )

  // ---- bench-only attribution twins -----------------------------------

  /** Materialize the backfill output once (parquet at `path`) so the
    * attribution twins below can time their own operator in isolation.
    */
  def materializeFeatures(s: SparkSession, dir: String, path: String): Unit = {
    backfill(s, dir).write.mode("overwrite").parquet(path)
    CurationQueries.materializeTokenizerArtifacts(s, dir, path + "_tok")
    CurationQueries.materializeMediaFixtures(s, dir, path + "_media")
    CurationQueries.materializeLmState(s, dir, path + "_lm")
    CurationQueries.materializeNbModel(s, dir, path + "_nb")
    TrainingDataQueries.materializePageRank(s, dir, path + "_pr")
  }

  /** Bench-only twins of q15/q16/q17: those contract queries recompute the
    * FULL backfill inside their own timing (a backfill regression shows up
    * 4x; a PIT-only regression is diluted). These read the features from a
    * pre-materialized parquet table instead, so BENCH attributes cost to
    * the operator itself. NOT part of the oracle contract — correctness of
    * the same operators is already gated by q15-q17; Bench reports these
    * under separate b-keys excluded from the headline total.
    */
  def attributionQueries(featuresPath: String): Map[String, (SparkSession, String) => DataFrame] = {
    def feats(s: SparkSession) = s.read.parquet(featuresPath)
    val base: Map[String, (SparkSession, String) => DataFrame] = Map(
      "b15_pit_join_only" -> ((s, dir) =>
        PointInTimeJoinPipeline.transform(labels(s, dir), feats(s))),
      "b16_pit_rank_only" -> ((s, dir) =>
        PointInTimeJoinPipeline.transform(labels(s, dir), feats(s), useUnionPlan = false)),
      "b17_online_only" -> ((s, _) =>
        OnlineSyncPipeline.payload(
          OnlineSyncPipeline.latestPerUser(feats(s), lit("2024-01-24").cast("date"))))
    )
    base ++ CurationQueries.tokenizerAttribution(featuresPath + "_tok") ++
      CurationQueries.mediaAttribution(featuresPath + "_media") ++
      CurationQueries.lmAttribution(featuresPath + "_lm") ++
      CurationQueries.nbAttribution(featuresPath + "_nb") ++
      TrainingDataQueries.pagerankAttribution(featuresPath + "_pr") ++
      CurationQueries.fusionAttribution(featuresPath + "_nb", featuresPath + "_pr")
  }

  def oracleSql: Map[String, String] = Map(
    "q01_scan_project" ->
      "SELECT r_regionkey, r_name FROM region",
    "q02_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS DATE) AS ship_day
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_discount > 0.05""".stripMargin,
    "q03_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q04_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer",
    "q05_cross_join" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation",
    "q06_left_join_agg" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,
    "q07_latest_per_key" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1""".stripMargin,
    "q08_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10",
    "q09_conditional_agg" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS purchase_value
        |FROM events GROUP BY user_id""".stripMargin,
    "q10_count_distinct" ->
      "SELECT user_id, CAST(count(DISTINCT event_type) AS VARCHAR) AS n_types FROM events GROUP BY user_id",
    "q11_date_functions" ->
      """SELECT event_id, CAST(ts AS DATE) AS event_date,
        |  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INTEGER) AS days_since_start,
        |  CAST(ts AS DATE) + 7 AS week_later,
        |  CAST(ts AS DATE) - 30 AS month_before
        |FROM events""".stripMargin,
    "q12_date_spine" ->
      "SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY))::DATE AS day",
    "q13_band_join" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS event_date, count(*) AS cnt FROM events GROUP BY 1, 2),
        |spine AS (SELECT unnest(generate_series(DATE '2024-01-08', DATE '2024-01-14', INTERVAL 1 DAY))::DATE AS day),
        |ud AS (SELECT u.user_id, s.day FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN spine s)
        |SELECT ud.user_id, ud.day, CAST(coalesce(sum(ev.cnt), 0) AS BIGINT) AS events_7d
        |FROM ud LEFT JOIN ev ON ud.user_id = ev.user_id
        |  AND ev.event_date <= ud.day AND ev.event_date >= ud.day - 7
        |GROUP BY ud.user_id, ud.day""".stripMargin,
    "q14_backfill" -> backfillSql,
    "q15_pit_join" ->
      s"""WITH feats AS ($backfillSql),
         |lab AS ($labelsSql)
         |SELECT lab.user_id, lab.label, lab.as_of_ts, feats.day,
         |  feats.event_count_7d, feats.event_count_30d,
         |  feats.last_event_days_ago, feats.event_type_counts
         |FROM lab ASOF LEFT JOIN feats
         |  ON lab.user_id = feats.user_id AND feats.day <= CAST(lab.as_of_ts AS DATE)""".stripMargin,
    "q16_pit_join_rank" ->
      s"""WITH feats AS ($backfillSql),
         |lab AS ($labelsSql)
         |SELECT lab.user_id, lab.label, lab.as_of_ts, feats.day,
         |  feats.event_count_7d, feats.event_count_30d,
         |  feats.last_event_days_ago, feats.event_type_counts
         |FROM lab ASOF LEFT JOIN feats
         |  ON lab.user_id = feats.user_id AND feats.day <= CAST(lab.as_of_ts AS DATE)""".stripMargin,
    "q17_online_payload" ->
      s"""WITH feats AS ($backfillSql),
         |latest AS (
         |  SELECT * FROM feats WHERE day >= DATE '2024-01-24'
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY day DESC) = 1)
         |SELECT 'features:' || CAST(user_id AS VARCHAR) AS key,
         |  '{"day":' || CASE WHEN day IS NULL THEN 'null' ELSE '"' || strftime(day, '%Y-%m-%d') || '"' END ||
         |  ',"event_count_7d":' || CASE WHEN event_count_7d IS NULL THEN 'null' ELSE '"' || CAST(event_count_7d AS VARCHAR) || '"' END ||
         |  ',"event_count_30d":' || CASE WHEN event_count_30d IS NULL THEN 'null' ELSE '"' || CAST(event_count_30d AS VARCHAR) || '"' END ||
         |  ',"last_event_days_ago":' || CASE WHEN last_event_days_ago IS NULL THEN 'null' ELSE '"' || CAST(last_event_days_ago AS VARCHAR) || '"' END ||
         |  ',"event_type_counts":' || CASE WHEN event_type_counts IS NULL THEN 'null' ELSE '"' || event_type_counts || '"' END || '}' AS value
         |FROM latest""".stripMargin,
    "q18_set_ops" ->
      """WITH c AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'click'),
        |p AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'purchase')
        |SELECT user_id, day, 'click_only' AS src FROM (SELECT * FROM c EXCEPT SELECT * FROM p)
        |UNION ALL
        |SELECT user_id, day, 'both' AS src FROM (SELECT * FROM c INTERSECT SELECT * FROM p)""".stripMargin,
    "q19_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q36_distinct_two_phase" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,
    "q41_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q32_csv_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region",
    "q33_json_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q34_table_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS s_acctbal FROM supplier",
    "q151_orc_roundtrip" ->
      "SELECT p_partkey, p_name, p_size, round(p_retailprice, 2) AS p_retailprice FROM part"
  ) ++ TrainingDataQueries.oracleSql ++ AnalyticsQueries.oracleSql ++ CurationQueries.oracleSql
}
