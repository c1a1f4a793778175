package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd greedy longest-match tokenizer kernel:
  * `greedy_encode(word, pieces)` -> `array<int>` of piece ids under
  * [[graft.operators.Packing]]'s id scheme.
  *
  * Why native: the composed formulation is a per-position `transform`
  * over the piece array feeding an `aggregate` walk — higher-order
  * functions whose lambdas evaluate interpreted, one frame per
  * (position x piece). This loop runs inside whole-stage codegen and
  * scans each piece's code points at most once per position. The
  * composed twin stays in PackingSpec as the bit-parity witness
  * (the PolyHash/RepStats discipline).
  */
object GreedyEncode {

  /** UTF-8 bytes -> code points (the house `ascii`/`substring` domain —
    * positions in the composed fold are code-point positions). Char
    * boundaries come from `UTF8String.numBytesForFirstByte`, the SAME
    * table `substring`/`numChars` use, so char COUNT and positions agree
    * with the composed witness even on malformed bytes (a stray
    * continuation byte counts as one char there, and must here too —
    * decoding-table drift would silently swallow the following char).
    */
  private def codePoints(s: UTF8String): Array[Int] = {
    val bytes = s.getBytes
    val out = new Array[Int](s.numChars())
    var i = 0
    var j = 0
    val n = bytes.length
    while (i < n && j < out.length) {
      val b0 = bytes(i) & 0xFF
      val len = UTF8String.numBytesForFirstByte(bytes(i))
      var cp =
        if (len == 1) b0
        else if (len == 2) b0 & 0x1F
        else if (len == 3) b0 & 0x0F
        else b0 & 0x07
      var k = 1
      while (k < len && i + k < n) {
        cp = (cp << 6) | (bytes(i + k) & 0x3F)
        k += 1
      }
      out(j) = cp
      j += 1
      i += len
    }
    out
  }

  /** Greedy longest-match ids for one word — bit-identical to the
    * composed fold it replaces (PackingSpec's witness test): at each of
    * up to `maxWordLen` steps, the best piece is the one maximizing
    * `len * 1e6 - id` (longest, ties to the smallest id), any match
    * beats the single-char fallback, positions advance by
    * `max(1, bestLen)`, and characters past the step bound emit one
    * arithmetic char id each (code point >= 'a' -> cp-94, else cp-19).
    */
  def encode(w: UTF8String, pieces: ArrayData, maxWordLen: Int): ArrayData = {
    val cps = codePoints(w)
    val n = cps.length
    val m = pieces.numElements()
    // piece code points + ids, once per call (the composed fold re-scans
    // the piece array once per POSITION)
    val pcp = new Array[Array[Int]](m)
    val pid = new Array[Long](m)
    var i = 0
    while (i < m) {
      if (pieces.isNullAt(i))
        throw new IllegalArgumentException(
          "greedy_encode: the piece inventory must not contain null entries")
      val row = pieces.getStruct(i, 2)
      pcp(i) = codePoints(row.getUTF8String(0))
      pid(i) = row.getLong(1)
      // the len*1e6-id score packing recovers (len, id) by arithmetic —
      // an id at or past 1e6 would silently decode as a SHORTER piece
      // with a different id; fail loudly at the domain edge instead
      if (pid(i) < 0L || pid(i) >= 1000000L)
        throw new IllegalArgumentException(
          s"greedy_encode: piece id ${pid(i)} outside [0, 1000000) — " +
            "the integer score packing cannot represent it")
      i += 1
    }
    val ids = new java.util.ArrayList[Integer](n)
    var pos = 0
    var step = 0
    while (step < maxWordLen && pos < n) {
      var best = 0L
      var p = 0
      while (p < m) {
        val q = pcp(p)
        val ql = q.length
        if (ql > 0 && pos + ql <= n) {
          var k = 0
          while (k < ql && cps(pos + k) == q(k)) k += 1
          if (k == ql) {
            val score = ql.toLong * 1000000L - pid(p)
            if (score > best) best = score
          }
        }
        p += 1
      }
      if (best > 0L) {
        val len = ((best + 999999L) / 1000000L).toInt
        ids.add((len.toLong * 1000000L - best).toInt)
        pos += len
      } else {
        ids.add(charId(cps(pos)))
        pos += 1
      }
      step += 1
    }
    while (pos < n) {
      ids.add(charId(cps(pos)))
      pos += 1
    }
    val out = new Array[Any](ids.size())
    var o = 0
    while (o < out.length) { out(o) = ids.get(o).intValue(); o += 1 }
    new GenericArrayData(out)
  }

  private def charId(cp: Int): Int = if (cp >= 97) cp - 94 else cp - 19

  def greedyEncode(word: Column, pieces: Column, maxWordLen: Int): Column =
    Kernel.call("greedy_encode", this, "encode", ArrayType(IntegerType, containsNull = false),
        Seq(word, pieces)) {
      case Seq(StringType, ArrayType(s: StructType, _))
        if s.length == 2 && s(0).dataType == StringType && s(1).dataType == LongType =>
        Right(Seq(maxWordLen))
      case Seq(l, r) => Left(
        s"greedy_encode requires (string, array<struct<piece: string, id: bigint>>), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }
}
