package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{Fetcher, InProcessLocalFileSystem, ProdFetcher, ProdWriter, Writer}

/** A configured session plus the I/O boundary it reads/writes through —
  * the bundle every pipeline entry point takes (reference:
  * SparkPlatform.scala:33-37, trait SparkPlatformTrait.scala:28-41).
  * Pipelines never build sessions or name storage formats; they see only
  * this triple, which is what makes the in-memory test doubles a drop-in.
  */
final case class Platform(spark: SparkSession, fetcher: Fetcher, writer: Writer) {
  def stop(): Unit = spark.stop()
}

/** Session factory (reference: PlatformProvider.scala:31-136).
  *
  * Defaults every session to the settings the engine is designed around:
  * UTC (all date semantics in SURVEY §2 are timezone-sensitive), AQE on
  * (runtime shuffle re-planning, skew-join handling), and a shuffle
  * partition count sized for the deployment — callers on a real cluster
  * pass `spark.sql.shuffle.partitions` (and anything else: catalogs,
  * object-store creds) through `config`, which always wins over defaults.
  */
object PlatformProvider {

  private[graft] val defaults = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // generated-class cache (static conf, default 100 entries): the
    // iterative operators here (BPE merge loop, graph ranks, composite
    // pipelines) legitimately produce >100 distinct whole-stage spans in
    // ONE query, so the default LRU self-evicts mid-query and every run
    // re-pays Janino compilation (measured: q137 compiled 119 spans cold
    // and STILL re-compiled 79 on warm runs, ~1.8 s/run pure compile).
    // 2000 entries is a few tens of MB of driver memory — negligible
    // against any real driver, and the win grows with plan complexity,
    // not with data size.
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.ui.enabled" -> "false",
    // without libhadoop the stock local filesystem forks a `chmod` per
    // file (`.crc` files included) and directory it creates; this one sets
    // the same bits in-process. Local mode's executors share the driver's
    // Hadoop conf, so task-side writes get it too.
    "spark.hadoop.fs.file.impl" -> classOf[InProcessLocalFileSystem].getName)

  /** The one session builder: `defaults` plus `master`, `appName` and the
    * caller's `config` (which wins). `create` adds the Hive catalog; the dev
    * tools ([[ToolHarness]]) and the test session keep the in-memory one.
    */
  private[graft] def builder(appName: String, master: String,
      config: Map[String, String] = Map.empty): SparkSession.Builder = {
    val b = SparkSession.builder().appName(appName).master(master)
    (defaults ++ config).foreach { case (k, v) => b.config(k, v) }
    b
  }

  def create(appName: String, master: String,
      config: Map[String, String] = Map.empty,
      fetcher: Fetcher = ProdFetcher, writer: Writer = ProdWriter): Platform = {
    // Hive-backed catalog (embedded Derby metastore): table metadata
    // survives across CLI invocations, so `backfill` in one process and
    // `offline-lookup` in the next see the same features table — the same
    // durability the reference gets from its Iceberg hadoop catalog
    // (reference: App.scala:140-148). An in-memory catalog would forget
    // every table at JVM exit.
    val spark = builder(appName, master, config).enableHiveSupport().getOrCreate()
    // every platform session speaks the full native-function SQL surface
    // (poly_hash, vec_dot, text_stats, ... — SURVEY §2.8)
    graft.functions.SqlFunctions.registerAll(spark)
    Platform(spark, fetcher, writer)
  }

  /** Local-mode platform: all cores, shuffle partitions = core count (the
    * 200 default just manufactures tiny tasks on one machine).
    */
  def createLocal(appName: String,
      config: Map[String, String] = Map.empty): Platform = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    create(appName, s"local[$cores]",
      Map("spark.sql.shuffle.partitions" -> cores) ++ config)
  }
}
