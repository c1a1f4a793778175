package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Native codegen'd EWMA prefix scan: `ewma_scan(values)` -> the running
  * fixed-point accumulator after each element.
  *
  * Why native: the composed formulation is an `aggregate` whose
  * accumulator struct carries the growing prefix array, appended via
  * `concat(acc.a, array(step))` — O(history^2) array copies per user,
  * with the step expression inlined twice (the interpreted HOF evaluates
  * it once for the scalar and once for the appended element). This loop
  * runs inside whole-stage codegen and is O(history) with one output
  * array. The composed twin stays in DecayFeaturesSpec as the bit-parity
  * witness (the RepStats/GreedyEncode discipline).
  */
object EwmaScan {

  /** One O(n) pass over the fixed-point value array emitting every prefix
    * accumulator of `s_k = (decayPpm * s_{k-1}) div 1e6 + v_k` (s_0 = 0).
    *
    * Bit-identical to the composed HOF fold it replaces: the multiply
    * wraps like Spark's non-ANSI BIGINT `*` (Java semantics), `/` on
    * longs truncates toward zero exactly like Spark's `div` (and DuckDB's
    * `//`), and a NULL element nulls the accumulator permanently — in the
    * composed fold `(d * NULL) div 1e6 + v` stays NULL for every later
    * step, so every output from the first NULL on is NULL here too.
    */
  def scan(values: ArrayData, decayPpm: Long): ArrayData = {
    val n = values.numElements()
    val out = new Array[Any](n)
    var acc = 0L
    var nulled = false
    var i = 0
    while (i < n) {
      if (nulled || values.isNullAt(i)) {
        nulled = true
        out(i) = null
      } else {
        acc = (decayPpm * acc) / 1000000L + values.getLong(i)
        out(i) = acc
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def ewmaScan(values: Column, decayPpm: Long): Column =
    Kernel.call("ewma_scan", this, "scan", ArrayType(LongType, containsNull = true), Seq(values)) {
      case Seq(ArrayType(LongType, _)) => Right(Seq(decayPpm))
      case Seq(other) => Left(s"ewma_scan requires array<bigint>, got ${other.catalogString}")
    }
}
