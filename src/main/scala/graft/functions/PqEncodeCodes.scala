package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Native PQ encode kernel: `pq_encode_codes(vn, cb)` -> the vector's m
  * codes as `array<struct<sub:int, cid:bigint>>` ascending by sub — the
  * gathered shape the fused ADC scan consumes, computed entirely
  * row-locally.
  *
  * Why native: the rows formulation explodes each vector into m subspace
  * rows, broadcast-joins them against K codewords (materializing
  * N x m x K scored rows) and shuffles an argmin aggregate; a
  * higher-order-function fold avoids the fan-out but evaluates
  * interpreted, one lambda frame per (codeword x element) — measured
  * SLOWER than the rows plan at x10 scale. This loop runs the identical
  * flops inside whole-stage codegen with zero row fan-out and zero
  * encode exchange. SimilaritySearchSpec pins kernel == rows bit parity
  * on the real corpus and on trained codebooks.
  */
object PqEncodeCodes {

  /** All `m` PQ codes of one UNIT vector in one pass: for each subspace
    * `s`, the codeword minimizing `svv + cvv - 2*dot(sv, cv)` with ties
    * to the smallest cid — bit-identical to the rows formulation
    * (`pqSubbed` slice -> broadcast join -> `min_by(cid, struct(d2, cid))`):
    * svv and dot accumulate left-to-right in double exactly like
    * [[VecDotProduct]], and d2 evaluates as `(svv + cvv) - (2.0 * dot)`,
    * the same tree the Column arithmetic builds.
    *
    * `cb` is the flattened codebook sorted by (sub, cid) ascending:
    * array<struct<sub:int, cid:bigint, cv:array<double>, cvv:double>>.
    * Malformed inputs (null entries, a subspace with no codewords, a
    * codeword of the wrong width, vector length not divisible by m) throw
    * loudly — a silent skip would encode with a wrong codebook.
    */
  def encode(vn: ArrayData, cb: ArrayData, m: Int): ArrayData = {
    val n = vn.numElements()
    if (m <= 0 || n % m != 0)
      throw new IllegalArgumentException(
        s"pq_encode_codes: vector length $n does not split into $m subspaces")
    val subDim = n / m
    // subspace self-products, left-to-right like vec_dot(sv, sv)
    val svv = new Array[Double](m)
    var s = 0
    while (s < m) {
      var acc = 0.0
      var i = 0
      while (i < subDim) {
        val x = vn.getDouble(s * subDim + i)
        acc += x * x
        i += 1
      }
      svv(s) = acc
      s += 1
    }
    val bestCid = new Array[Long](m)
    val bestD2 = new Array[Double](m)
    val seen = new Array[Boolean](m)
    java.util.Arrays.fill(bestD2, Double.PositiveInfinity)
    val k = cb.numElements()
    var p = 0
    while (p < k) {
      if (cb.isNullAt(p))
        throw new IllegalArgumentException(
          "pq_encode_codes: the codebook must not contain null entries")
      val row = cb.getStruct(p, 4)
      val sub = row.getInt(0)
      if (sub < 0 || sub >= m)
        throw new IllegalArgumentException(
          s"pq_encode_codes: codeword subspace $sub outside [0, $m)")
      val cv = row.getArray(2)
      if (cv.numElements() != subDim)
        throw new IllegalArgumentException(
          s"pq_encode_codes: codeword width ${cv.numElements()} != subspace width $subDim")
      var dot = 0.0
      var i = 0
      val base = sub * subDim
      while (i < subDim) {
        dot += vn.getDouble(base + i) * cv.getDouble(i)
        i += 1
      }
      val d2 = svv(sub) + row.getDouble(3) - 2.0 * dot
      // cb is sorted by (sub, cid) ascending, so a STRICT < keeps the
      // smallest cid on d2 ties — exactly min_by(cid, struct(d2, cid))
      if (d2 < bestD2(sub)) {
        bestD2(sub) = d2
        bestCid(sub) = row.getLong(1)
      }
      if (!seen(sub)) seen(sub) = true
      p += 1
    }
    val out = new Array[Any](m)
    s = 0
    while (s < m) {
      if (!seen(s))
        throw new IllegalArgumentException(
          s"pq_encode_codes: subspace $s has no codewords")
      out(s) = new GenericInternalRow(Array[Any](s, bestCid(s)))
      s += 1
    }
    new GenericArrayData(out)
  }

  def pqEncodeCodes(vn: Column, cb: Column, m: Int): Column =
    Kernel.call("pq_encode_codes", this, "encode", ArrayType(
      StructType(Seq(
        StructField("sub", IntegerType, nullable = false),
        StructField("cid", LongType, nullable = false))),
      containsNull = false), Seq(vn, cb)) {
      case Seq(ArrayType(DoubleType, _), ArrayType(s: StructType, _))
        if s.length == 4 && s(0).dataType == IntegerType &&
          s(1).dataType == LongType &&
          s(2).dataType == ArrayType(DoubleType, containsNull = false) &&
          s(3).dataType == DoubleType =>
        Right(Seq(m))
      case Seq(ArrayType(DoubleType, _), ArrayType(s: StructType, _))
        if s.length == 4 && s(0).dataType == IntegerType &&
          s(1).dataType == LongType &&
          s(2).dataType.isInstanceOf[ArrayType] &&
          s(2).dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
          s(3).dataType == DoubleType =>
        Right(Seq(m))
      case Seq(l, r) => Left(
        "pq_encode_codes requires (array<double>, array<struct<sub: int, " +
          s"cid: bigint, cv: array<double>, cvv: double>>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
}
