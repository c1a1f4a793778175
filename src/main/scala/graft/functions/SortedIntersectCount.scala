package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Native codegen'd `sorted_intersect_count(a, b)`: the size of the
  * intersection of two sorted distinct `array<long>` sets.
  *
  * PRECONDITION (not checked — a check would cost the scan the kernel
  * saves): both inputs sorted ascending and distinct. [[ShingleHashes]]
  * emits exactly that; SortedIntersectCountSpec pins the parity against
  * `size(array_intersect(a, b))` on sorted inputs.
  *
  * This is the verify-join kernel for the near-dup operators: the Jaccard
  * check runs once per candidate pair, and with the interpreted
  * `array_intersect` the per-pair cost (hash set build + output array) was
  * the dominant term of the verify stage.
  */
object SortedIntersectCount {

  /** |a ∩ b| by a single linear merge over two ASCENDING-sorted distinct
    * long arrays. O(|a| + |b|), zero allocation — vs `array_intersect`,
    * which builds a hash set and an output array PER EVALUATION, i.e. per
    * candidate pair in a verify join.
    */
  def eval(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  def sortedIntersectCount(a: Column, b: Column): Column =
    Kernel.call("sorted_intersect_count", this, "eval", LongType, Seq(a, b)) {
      case Seq(ArrayType(LongType, _), ArrayType(LongType, _)) => Right(Nil)
      case Seq(l, r) => Left(
        s"sorted_intersect_count requires two array<bigint> inputs, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }
}
