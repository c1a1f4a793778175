package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Native dot product over `array<float>` / `array<double>`:
  * `vec_dot(a, b) = sum_i a_i * b_i` accumulated in double, in index order.
  *
  * This is the codegen'd fast path for the similarity operators: Spark's
  * higher-order functions (`zip_with` + `aggregate`) evaluate interpreted,
  * one lambda frame per element — on a 2M-pair near-dup join at 64 dims
  * that's ~256M interpreted calls. [[dot]] is a tight primitive loop
  * called from whole-stage codegen instead.
  *
  * Arithmetic parity: float elements are widened to double and summed left
  * to right — bit-identical to the `toDoubleVec` + `zip_with`/`aggregate`
  * fold in [[VectorFunctions]] and to the DuckDB oracle's `list_reduce`, so
  * swapping this in cannot change any query result.
  */
object VecDotProduct {

  /** The kernel: `lf`/`rf` say which side holds floats (read in place, no
    * widened copy of the array). Mismatched-length inputs yield NULL
    * (malformed embedding, not a silent truncated product) — matching the
    * DuckDB oracle twin, whose fold indexes past the shorter list and
    * folds in NULL.
    */
  def dot(x: ArrayData, y: ArrayData, lf: Boolean, rf: Boolean): java.lang.Double = {
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xi * yi
      i += 1
    }
    acc
  }

  /** DSL entry: `vecDot(a, b)` as a Column. */
  def vecDot(a: Column, b: Column): Column =
    Kernel.call("vec_dot", this, "dot", DoubleType, Seq(a, b), nullResult = true) {
      case Seq(ArrayType(l @ (FloatType | DoubleType), _), ArrayType(r @ (FloatType | DoubleType), _)) =>
        Right(Seq(l == FloatType, r == FloatType))
      case Seq(l, r) => Left(
        s"vec_dot requires array<float> or array<double> inputs, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  /** Codegen'd L2 norm: sqrt(vec_dot(v, v)) — same fold as the HOF norm. */
  def vecNorm(v: Column): Column =
    org.apache.spark.sql.functions.sqrt(vecDot(v, v))

  /** Codegen'd cosine via precomputable parts (callers should precompute
    * norms once per row rather than per pair; see
    * [[graft.operators.SimilaritySearch]]).
    */
  def vecCosine(a: Column, b: Column): Column =
    vecDot(a, b) / (vecNorm(a) * vecNorm(b))
}
