package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Native codegen'd MinHash signature over a shingle-hash set: the pinned
  * universal-hash family of [[TextFunctions.MinhashA]]/[[TextFunctions.MinhashB]],
  * k mins accumulated in one pass.
  *
  * The composed form ([[TextFunctions.minhashSignatureHof]]) evaluates k
  * separate `array_min(transform(...))` chains — k interpreted lambda
  * frames per element. Bit-exact integer math either way (witness test in
  * MinHashSignatureSpec), so the oracle twins are untouched.
  */
object MinHashSignature {

  private val A = TextFunctions.MinhashA.toArray
  private val B = TextFunctions.MinhashB.toArray
  private val Mod = TextFunctions.MinhashMod
  private val K = TextFunctions.MinhashK

  /** hashes -> k-element signature: sig_j = min over x of (a_j*x + b_j) % P.
    * One pass over the input per row, all k accumulators in registers —
    * replacing k interpreted `array_min(transform(...))` lambda chains.
    * Empty input -> array of nulls (matching `array_min` of an empty
    * transform result per signature row).
    */
  def eval(hashes: ArrayData): ArrayData = {
    val mins = Array.fill(K)(Long.MaxValue)
    var sawValue = false
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      // skip null elements like the witness's array_min-over-transform does
      // (transform maps null -> null, array_min ignores nulls)
      if (!hashes.isNullAt(i)) {
        sawValue = true
        val x = hashes.getLong(i)
        var j = 0
        while (j < K) {
          val h = (A(j) * x + B(j)) % Mod
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (!sawValue) return new GenericArrayData(new Array[Any](K))
    new GenericArrayData(mins)
  }

  def minhashSignature(hashes: Column): Column =
    Kernel.call("minhash_signature", this, "eval", ArrayType(LongType, containsNull = true),
        Seq(hashes)) {
      case Seq(ArrayType(LongType, _)) => Right(Nil)
      case Seq(other) => Left(s"minhash_signature requires array<bigint>, got ${other.catalogString}")
    }
}
