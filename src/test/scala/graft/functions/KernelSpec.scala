package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions.{col, typedLit}
import org.apache.spark.sql.types._

/** The one native-kernel pattern ([[Kernel]]): every kernel gives the same
  * rows through the interpreted path (a reflective static call) as
  * through whole-stage codegen, and a struct kernel read field by field is
  * called once per row.
  */
class KernelSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("s", StringType),
    StructField("t", StringType),
    StructField("pa", IntegerType),
    StructField("pb", IntegerType),
    StructField("fa", ArrayType(FloatType)),
    StructField("da", ArrayType(DoubleType)),
    StructField("h1", ArrayType(LongType)),
    StructField("h2", ArrayType(LongType)),
    StructField("vn", ArrayType(DoubleType))))

  // null, the empty string and empty arrays, multi-byte UTF-8, token-less
  // text (simhash -> null), and vec_dot on unequal lengths (null)
  private val rows = Seq(
    Row(0L, null, null, null, null, null, null, null, null, null),
    Row(1L, "", "", 1, 1, Seq.empty[Float], Seq.empty[Double], Seq.empty[Long],
      Seq.empty[Long], Seq(0.0, 0.0, 0.0, 0.0)),
    Row(2L, "héllo wörld 日本語 🎉 héllo wörld", "xx héllo wörld 日本語", 1, 4,
      Seq(1.5f, -2.25f), Seq(0.1, 0.2), Seq(1L, 5L, 9L), Seq(5L, 9L, 12L),
      Seq(0.6, 0.8, -1.0, 0.0)),
    Row(3L, "!!! ... ??? ###", "... ???", 2, 1, Seq(1.0f, 2.0f, 3.0f), Seq(1.0, 2.0),
      Seq(3L), Seq.empty[Long], Seq(0.0, 1.0, 0.5, 0.5)),
    Row(4L, "The cat sat on the mat.\n- the cat sat\nthe cat sat on the mat...",
      "a cat sat on the mat", 5, 3, Seq(0.5f), Seq(4.0), Seq(2L, 4L, 6L, 8L),
      Seq(1L, 2L, 3L, 4L), Seq(-0.3, 0.3, 0.9, -0.9)))

  // an RDD source, so the optimizer cannot fold the projection into a
  // local relation and evaluate the kernels itself
  private def docs(session: SparkSession = spark): DataFrame =
    session.createDataFrame(session.sparkContext.parallelize(rows, 2), schema)

  private val codebook = typedLit(Seq(
    (0, 0L, Seq(1.0, 0.0), 1.0), (0, 1L, Seq(0.0, 1.0), 1.0),
    (1, 0L, Seq(1.0, 0.0), 1.0), (1, 1L, Seq(-1.0, 0.0), 1.0)))
  private val pieces = typedLit(Seq(("th", 1L), ("the", 2L), ("at", 3L), ("日本", 4L), ("cat", 5L)))

  private val kernels: Seq[(String, Column)] = Seq(
    "poly_hash" -> PolyHash.polyHash(col("s")),
    "poly_hash61" -> PolyHash61.polyHash61(col("s")),
    "vec_dot(float, double)" -> VecDotProduct.vecDot(col("fa"), col("da")),
    "vec_dot(float, float)" -> VecDotProduct.vecDot(col("fa"), col("fa")),
    "ewma_scan" -> EwmaScan.ewmaScan(col("h1"), 900000L),
    "shingle_hashes" -> ShingleHashes.shingleHashes(col("s"), 2),
    "pq_encode_codes" -> PqEncodeCodes.pqEncodeCodes(col("vn"), codebook, 2),
    "greedy_encode" -> GreedyEncode.greedyEncode(col("s"), pieces, 4),
    "minhash_signature" -> MinHashSignature.minhashSignature(col("h1")),
    "rep_stats" -> RepStats.repStats(col("s")),
    "simhash" -> SimHash.simhash(col("s")),
    "gopher_scan" -> GopherScan.gopherScan(col("s")),
    "char_ngram_hash_buckets" -> CharNgramHashBuckets.charNgramHashBuckets(col("s"), 3, 64),
    "sorted_intersect_count" -> SortedIntersectCount.sortedIntersectCount(col("h1"), col("h2")),
    "text_stats" -> TextStats.textStats(col("s")),
    "winnow_fingerprints" -> WinnowFingerprints.winnowFingerprints(col("s"), 3, 2),
    "common_extent" -> CommonExtent.commonExtent(col("s"), col("pa"), col("t"), col("pb"), 2),
    "common_extent_span" ->
      CommonExtent.commonExtentSpan(col("s"), col("pa"), col("t"), col("pb"), 2))

  private def run(k: Column, codegen: Boolean): Seq[Row] = {
    val session = spark.newSession()
    session.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    session.conf.set("spark.sql.codegen.factoryMode", if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    val df = docs(session).select(col("id"), k.as("out"))
    val fused = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    fused.nonEmpty shouldBe codegen
    df.collect().sortBy(_.getLong(0)).toSeq
  }

  for ((name, k) <- kernels)
    test(s"$name: interpreted == whole-stage codegen") {
      val interpreted = run(k, codegen = false)
      interpreted should have size rows.size
      interpreted.head.isNullAt(1) shouldBe true
      interpreted shouldBe run(k, codegen = true)
    }

  test("simhash of token-less text and vec_dot of unequal lengths are null") {
    val out = docs().select(col("id"), SimHash.simhash(col("s")),
      VecDotProduct.vecDot(col("fa"), col("da"))).collect().sortBy(_.getLong(0))
    out.map(r => (r.getLong(0), r.isNullAt(1), r.isNullAt(2))).toSeq shouldBe Seq(
      (0L, true, true), (1L, true, false), (2L, false, false), (3L, true, true), (4L, false, false))
  }

  test("a predicate over a kernel adds no isnotnull filter on its inputs") {
    // an inferred filter on one side of a self-join keeps Spark from
    // reusing the other side's identical broadcast
    val plan = docs()
      .filter(CommonExtent.commonExtent(col("s"), col("pa"), col("t"), col("pb"), 2) >= 2)
      .queryExecution.optimizedPlan.toString
    plan should not include "isnotnull("
  }

  /** Calls of `graft.functions.<kernel>.eval(` in the generated Java of
    * `cols` (the plan text printed above the code names the call too).
    */
  private def kernelCalls(cols: Seq[(String, Column)], kernel: String): Int = {
    val df = docs().select(cols.map { case (n, c) => c.as(n) }: _*)
    val code = codegenString(df.queryExecution.executedPlan).split("\n").filter(_.startsWith("/* "))
    code.mkString("\n").split(java.util.regex.Pattern.quote(s"graft.functions.$kernel.eval("), -1).length - 1
  }

  test("a struct kernel read field by field is called once per row") {
    kernelCalls(TextFunctions.gopherRules(col("s")), "GopherScan") shouldBe 1
    kernelCalls(TextFunctions.qualityMetrics(col("s")), "TextStats") shouldBe 1
  }
}
