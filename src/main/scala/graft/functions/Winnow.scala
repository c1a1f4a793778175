package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd `winnow_fingerprints(text, k, w)`: the document's
  * winnowing fingerprint set as `array<struct<h: long, pos: int>>` — the
  * anchor substrate for exact-substring dedup ([[graft.operators.Dedup
  * .substringPairs]]). One JIT'd pass per document (deque-based window
  * minimum), no exploded per-position rows, no shuffle: the corpus-sized
  * alternative — exploding every k-gram and windowing per doc — moves
  * one row PER CHARACTER through an exchange; this moves ~2/(w+1) rows
  * per character and only after row-local selection.
  */
object WinnowFingerprints {

  /** Position encoding base for the (hash, rightmost-pos) window minimum:
    * `key = h * PosM + (PosM - pos)` — minimizing the key minimizes the
    * hash and, on ties, MAXIMIZES the position (robust-winnowing's
    * rightmost tie-break) in one integer comparison. `PosM = 2^31` bounds
    * `key <= (HashMod-1) * 2^31 + 2^31 ~ 2.3e18`, inside a long, and no
    * document can exceed 2^31 code points (string length is an int). The
    * DuckDB twin uses the same constant, so the selections cannot drift.
    */
  val PosM: Long = 1L << 31

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03) of a
    * document: for every window of `w` consecutive character k-gram
    * hashes, select the minimal hash (ties to the RIGHTMOST position) and
    * emit the distinct selected (hash, 1-based position) pairs sorted by
    * position. Guarantee: two documents sharing a verbatim substring of
    * length >= w + k - 1 select at least one common fingerprint HASH —
    * the window covering the shared span has identical content in both
    * docs, so both pick the same minimal gram (the position may differ;
    * matching is on the hash, verification on the text).
    *
    * Hashes are the house polynomial fold ([[TextFunctions.HashBase]] /
    * [[TextFunctions.HashMod]]) over UNICODE CODE POINTS — the same
    * convention as the `polyHashSql` oracle twin (`ascii()` per char), so
    * multi-byte text hashes identically in both engines; positions are
    * 1-based code-point offsets, directly usable by `substr` on either
    * side. Documents with fewer than `w` k-grams (shorter than the
    * guarantee length) emit NO fingerprints: they cannot contain a
    * passage of the target length.
    */
  def eval(s: UTF8String, k: Int, w: Int): ArrayData = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val n = cps.length
    val nGrams = n - k + 1
    if (nGrams < w) return new GenericArrayData(Array.empty[Any])
    // per-gram rolling-fold hash, O(n*k): k is small (8-32) and the fold
    // must match polyHashSql's per-char restart exactly, so no rolling
    // removal (which would need a modular inverse the twin lacks)
    val h = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var acc = 0L
      var j = 0
      while (j < k) {
        acc = (acc * TextFunctions.HashBase + cps(i + j)) % TextFunctions.HashMod
        j += 1
      }
      h(i) = acc
      i += 1
    }
    // monotonic deque over encoded keys: O(n) total. Window ending at
    // gram e (0-based) covers [e-w+1, e]; selection = min encoded key.
    val keys = new Array[Long](nGrams)
    i = 0
    while (i < nGrams) {
      keys(i) = h(i) * PosM + (PosM - (i + 1L)) // pos is 1-based
      i += 1
    }
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // exclusive
    val sel = new java.util.LinkedHashSet[java.lang.Long]()
    var e = 0
    while (e < nGrams) {
      while (tail > head && keys(deque(tail - 1)) >= keys(e)) tail -= 1
      deque(tail) = e
      tail += 1
      if (deque(head) <= e - w) head += 1
      if (e >= w - 1) sel.add(keys(deque(head)))
      e += 1
    }
    // decode, emit sorted by position (LinkedHashSet preserves selection
    // order, which is already nondecreasing in position per window walk —
    // sort anyway for a stated contract)
    val out = new Array[Any](sel.size())
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) {
      val key = it.next().longValue()
      val pos = (PosM - key % PosM).toInt
      out(o) = new GenericInternalRow(Array[Any](key / PosM, pos))
      o += 1
    }
    java.util.Arrays.sort(out.asInstanceOf[Array[AnyRef]],
      java.util.Comparator.comparingInt((r: AnyRef) =>
        r.asInstanceOf[InternalRow].getInt(1)))
    new GenericArrayData(out)
  }

  val schema: DataType = ArrayType(StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("pos", IntegerType, nullable = false))), containsNull = false)

  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    Kernel.call("winnow_fingerprints", this, "eval", schema, Seq(text)) {
      case Seq(StringType) if k >= 2 && w >= 2 => Right(Seq(k, w))
      case Seq(StringType) => Left(s"winnow_fingerprints needs k >= 2 and w >= 2, got k=$k w=$w")
      case Seq(other) => Left(
        s"winnow_fingerprints requires a string input, got ${other.catalogString}")
    }
}

/** The kernels behind [[CommonExtent]]. */
object CommonExtentImpl {

  /** Length of the maximal common substring running THROUGH the anchor
    * k-grams at 1-based code-point positions (pa, pb): verify the k
    * anchor characters (a hash-collision candidate dies here with 0),
    * then extend left and right while characters match.
    *
    * Cost: O(k + extent) COMPARISONS on the ASCII fast path (byte index =
    * code-point index, so the UTF8String bytes index directly with zero
    * allocation — the common case for web text); a document containing
    * any multi-byte character pays one O(len) code-point decode first.
    * Either way this beats the w-offset spine formulation it replaced,
    * which paid w*L reads per candidate whether or not anything matched.
    */
  def eval(a: UTF8String, pa: Int, b: UTF8String, pb: Int, k: Int): Int =
    (evalSpan(a, pa, b, pb, k) & 0xFFFFFFFFL).toInt

  /** The same expansion returning WHERE the extent sits, packed as
    * `(left << 32) | extent` (0 on no match): the extent spans 1-based
    * code-point positions `[pos - left, pos - left + extent - 1]` in each
    * text. [[graft.operators.Dedup.substringRemove]] needs the start to
    * cut the span; [[eval]] is the low word.
    */
  def evalSpan(a: UTF8String, pa: Int, b: UTF8String, pb: Int, k: Int): Long = {
    if (a.numBytes() == a.numChars() && b.numBytes() == b.numChars()) {
      // pure-ASCII: compare bytes in place
      val (na, nb) = (a.numBytes(), b.numBytes())
      if (pa < 1 || pb < 1 || pa - 1 + k > na || pb - 1 + k > nb) return 0L
      var i = 0
      while (i < k) {
        if (a.getByte(pa - 1 + i) != b.getByte(pb - 1 + i)) return 0L
        i += 1
      }
      var left = 0
      while (pa - 2 - left >= 0 && pb - 2 - left >= 0 &&
        a.getByte(pa - 2 - left) == b.getByte(pb - 2 - left)) left += 1
      var right = 0
      while (pa - 1 + k + right < na && pb - 1 + k + right < nb &&
        a.getByte(pa - 1 + k + right) == b.getByte(pb - 1 + k + right)) right += 1
      return (left.toLong << 32) | (k + left + right).toLong
    }
    val ca = a.toString.codePoints().toArray
    val cb = b.toString.codePoints().toArray
    if (pa < 1 || pb < 1 || pa - 1 + k > ca.length || pb - 1 + k > cb.length) return 0L
    var i = 0
    while (i < k) {
      if (ca(pa - 1 + i) != cb(pb - 1 + i)) return 0L
      i += 1
    }
    var left = 0
    while (pa - 2 - left >= 0 && pb - 2 - left >= 0 &&
      ca(pa - 2 - left) == cb(pb - 2 - left)) left += 1
    var right = 0
    while (pa - 1 + k + right < ca.length && pb - 1 + k + right < cb.length &&
      ca(pa - 1 + k + right) == cb(pb - 1 + k + right)) right += 1
    (left.toLong << 32) | (k + left + right).toLong
  }
}

object CommonExtent {

  /** Native codegen'd `common_extent(text_a, pos_a, text_b, pos_b)`: maximal
    * shared-substring length through two anchor positions. The verify kernel
    * of [[graft.operators.Dedup.substringPairs]]: `extent >= minLen` is
    * exactly the offset-spine EXISTS the DuckDB twin replays (a shared run
    * of length >= L through the anchor contains an aligned L-window keeping
    * the anchor gram inside, and vice versa), at O(extent) per candidate
    * instead of w window comparisons.
    */
  def commonExtent(textA: Column, posA: Column, textB: Column, posB: Column,
                   k: Int): Column =
    call("common_extent", "eval", IntegerType, Seq(textA, posA, textB, posB), k)

  /** [[commonExtent]] returning position AND length packed in one long:
    * `(left << 32) | extent`, 0 on no match — the extent covers 1-based
    * positions `[pos - left, pos - left + extent - 1]` in each text. One
    * kernel pass serves both the span cut and the length filter; unpack
    * with `span >> 32` / `span & 0xFFFFFFFF`.
    */
  def commonExtentSpan(textA: Column, posA: Column, textB: Column, posB: Column,
                       k: Int): Column =
    call("common_extent_span", "evalSpan", LongType, Seq(textA, posA, textB, posB), k)

  private def call(name: String, method: String, dataType: DataType, inputs: Seq[Column],
                   k: Int): Column =
    Kernel.call(name, CommonExtentImpl, method, dataType, inputs) {
      case Seq(StringType, IntegerType, StringType, IntegerType) if k >= 1 => Right(Seq(k))
      case types => Left(
        s"$name requires (string, int, string, int) inputs and k >= 1, got " +
          types.map(_.catalogString).mkString(", "))
    }
}
