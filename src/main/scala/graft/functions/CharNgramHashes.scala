package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd `char_ngram_hash_buckets(text, n, buckets)`: the hashed
  * char-n-gram feature stream of a document as `array<long>`, one element per
  * length-`n` character window of the normalized token stream.
  *
  * Replaces the composed HOF (`transform(sequence(1, length(norm) - n + 1),
  * i -> polyHash(norm.substr(i, n)) % buckets)` over
  * `norm = array_join(tokens(text), " ")` — kept as
  * [[graft.operators.QualityClassifier.charNgramBucketsHof]], the bit-parity
  * witness), whose interpreted lambda re-evaluates the full tokenize+join
  * `norm` expression once PER WINDOW — O(chars^2) per document. Round-13
  * probe at sf0.1: the composed form held the q149 scale row at ~30s/scale
  * point nearly independent of corpus multiplier (partition-parallelism
  * masking pure per-row cost); this loop is one O(chars * n) pass inside
  * whole-stage codegen.
  */
object CharNgramHashBuckets {

  /** text -> hashed buckets of every length-`n` CHARACTER window of the
    * normalized token stream, in stream order (NOT distinct — NB term
    * frequency counts every window). One pass, no intermediate strings:
    *
    *  1. lowercase via UTF8String.toLowerCase — the exact `lower()` kernel;
    *  2. tokens = maximal runs of ASCII [a-z0-9] bytes (identical to
    *     `split(lower(text), "[^a-z0-9]+")` + empty filter — multi-byte
    *     UTF-8 never matches [a-z0-9], see [[TokenScan]]);
    *  3. the normalized stream is the tokens joined by single spaces (the
    *     composed pipeline's `array_join(tokens(text), " ")`) — ASCII-only
    *     by construction, so character == byte and `length()`/`substr()`
    *     character arithmetic is byte arithmetic;
    *  4. window hash = the [[PolyHashImpl]] fold over the window's bytes
    *     (code point == byte on ASCII), then `% buckets` — non-negative
    *     because the fold stays in [0, 1e9+7).
    *
    * Fewer than `n` normalized characters -> empty array (the composed
    * `when(length < n, [])` guard, which also dodges `sequence` counting
    * down).
    */
  def eval(s: UTF8String, n: Int, buckets: Int): ArrayData = {
    val bytes = s.toLowerCase.getBytes
    // materialize the space-joined normalized stream once per row
    var total = 0
    var runs = 0
    TokenScan.foreachRun(bytes) { (st, en) => total += en - st; runs += 1 }
    if (runs > 0) total += runs - 1
    if (total < n) return new GenericArrayData(Array.empty[Long])
    val norm = new Array[Byte](total)
    var o = 0
    TokenScan.foreachRun(bytes) { (st, en) =>
      if (o > 0) { norm(o) = ' '; o += 1 }
      var j = st
      while (j < en) { norm(o) = bytes(j); o += 1; j += 1 }
    }
    val out = new Array[Long](total - n + 1)
    var w = 0
    while (w <= total - n) {
      var acc = 0L
      var k = w
      val e = w + n
      while (k < e) {
        acc = (acc * TextFunctions.HashBase + (norm(k) & 0xFF)) % TextFunctions.HashMod
        k += 1
      }
      out(w) = acc % buckets
      w += 1
    }
    new GenericArrayData(out)
  }

  def charNgramHashBuckets(text: Column, n: Int, buckets: Int): Column =
    Kernel.call("char_ngram_hash_buckets", this, "eval", ArrayType(LongType, containsNull = false),
        Seq(text)) {
      case Seq(StringType) if n < 1 => Left(s"window width must be >= 1, got $n")
      case Seq(StringType) if buckets < 1 => Left(s"buckets must be >= 1, got $buckets")
      case Seq(StringType) => Right(Seq(n, buckets))
      case Seq(other) => Left(
        s"char_ngram_hash_buckets requires a string input, got ${other.catalogString}")
    }
}
