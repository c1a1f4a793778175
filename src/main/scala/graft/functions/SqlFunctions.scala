package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, RegExpReplace}
import org.apache.spark.sql.types.IntegerType

/** One-call SQL registration — the §2.8 "SQL entry point" surface: a
  * `spark.sql` user gets the same codegen'd kernels the DataFrame
  * operators use, under stable lowercase names. [[graft.PlatformProvider]]
  * calls this for every session it builds, so the CLI and serving paths
  * can be driven entirely from SQL.
  *
  * The table registers ten native kernels — poly_hash, poly_hash61,
  * vec_dot, text_stats, rep_stats, minhash_signature,
  * sorted_intersect_count, shingle_hashes, simhash and
  * char_ngram_hash_buckets — plus redact_pii, the ordered regex chain of
  * [[TextFunctions.redactPii]]. The other kernels have no SQL name.
  *
  * Idempotent: re-registration just overwrites the same builder.
  */
object SqlFunctions {

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def c(e: Expression): Column = GraftColumnBridge.column(e)

  /** SQL name, accepted arities, builder; a builder reads each integer
    * parameter through `intLit`, which rejects all but an integer literal.
    */
  private val functions: Seq[(String, Set[Int], Seq[Expression] => Column)] = Seq(
    ("poly_hash", Set(1), es => PolyHash.polyHash(c(es(0)))),
    ("poly_hash61", Set(1), es => PolyHash61.polyHash61(c(es(0)))),
    ("vec_dot", Set(2), es => VecDotProduct.vecDot(c(es(0)), c(es(1)))),
    ("text_stats", Set(1), es => TextStats.textStats(c(es(0)))),
    ("rep_stats", Set(1), es => RepStats.repStats(c(es(0)))),
    ("minhash_signature", Set(1), es => MinHashSignature.minhashSignature(c(es(0)))),
    ("sorted_intersect_count", Set(2),
      es => SortedIntersectCount.sortedIntersectCount(c(es(0)), c(es(1)))),
    ("shingle_hashes", Set(2),
      es => ShingleHashes.shingleHashes(c(es(0)), intLit(es(1), "shingle_hashes", "n"))),
    ("simhash", Set(1, 2), es =>
      if (es.length == 1) SimHash.simhash(c(es(0)))
      else SimHash.simhash(c(es(0)), intLit(es(1), "simhash", "bits"))),
    ("char_ngram_hash_buckets", Set(3), es => CharNgramHashBuckets.charNgramHashBuckets(c(es(0)),
      intLit(es(1), "char_ngram_hash_buckets", "n"),
      intLit(es(2), "char_ngram_hash_buckets", "buckets"))),
    // redact_pii(s): the same ordered RegExpReplace chain
    // TextFunctions.redactPii composes — built directly as catalyst
    // expressions so the SQL surface shares one source of truth
    // (PiiPatterns) with the DataFrame operator
    ("redact_pii", Set(1), es => c(TextFunctions.PiiPatterns.foldLeft(es(0)) {
      case (acc, (_, re, tok)) => RegExpReplace(acc, Literal(re), Literal(tok))
    })))

  def registerAll(spark: SparkSession): Unit =
    for ((name, arity, build) <- functions)
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName.stripSuffix("$"), name),
        (es: Seq[Expression]) => {
          require(arity.contains(es.length),
            s"$name takes ${arity.toSeq.sorted.mkString(" or ")} arguments, got ${es.length}")
          GraftColumnBridge.expression(build(es))
        })
}
