package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd `simhash(text)`: the document's 30-bit SimHash computed
  * entirely row-local — map-side, inside whole-stage codegen, NO shuffle.
  *
  * The aggregation formulation this replaces
  * ([[graft.operators.Dedup.simhashViaAggregation]]) explodes tokens and
  * then 30 bit rows per (doc, token) — two wide shuffles whose volume is
  * 30x the token count. At 100 TB that is the difference between a
  * map-only signature stage and shuffling multiples of the corpus; the
  * only shuffle left in simhash dedup is the banded candidate join.
  */
object SimHash {

  /** text -> 30-bit SimHash, or null (boxed) when the text has no tokens.
    *
    * Per token occurrence: hash the token with the [[PolyHashImpl]] fold,
    * then for each bit b add +1 if bit b of the hash is set, else -1; the
    * final hash sets bit b iff its sum is positive. Summing per occurrence
    * is identical to the frequency-weighted form (sum over distinct tokens
    * of count * sign): addition is associative. Tokenization matches
    * [[ShingleHashes.eval]] exactly (lowercase, maximal ASCII [a-z0-9] runs).
    *
    * Token-less text returns null so callers can drop those docs — the
    * aggregation formulation never emits a row for them (explode of an
    * empty token array), and the two must agree.
    */
  def eval(s: UTF8String, bits: Int): java.lang.Long = {
    val bytes = s.toLowerCase.getBytes
    val sums = new Array[Long](bits)
    var sawToken = false
    TokenScan.foreachRun(bytes) { (start, end) =>
      sawToken = true
      var acc = 0L
      var j = start
      while (j < end) {
        acc = (acc * TextFunctions.HashBase + bytes(j)) % TextFunctions.HashMod
        j += 1
      }
      var bit = 0
      while (bit < bits) {
        sums(bit) += (if (((acc >> bit) & 1L) == 1L) 1L else -1L)
        bit += 1
      }
    }
    if (!sawToken) return null
    var out = 0L
    var bit = 0
    while (bit < bits) {
      if (sums(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    java.lang.Long.valueOf(out)
  }

  def simhash(text: Column, bits: Int = TextFunctions.SimhashBits): Column =
    Kernel.call("simhash", this, "eval", LongType, Seq(text), nullResult = true) {
      case Seq(StringType) if bits >= 1 && bits <= 62 => Right(Seq(bits))
      case Seq(StringType) => Left(s"bits must be in [1, 62], got $bits")
      case Seq(other) => Left(s"simhash requires a string input, got ${other.catalogString}")
    }
}
