package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd `shingle_hashes(text, n)`: distinct polynomial hashes of
  * a document's word n-gram shingles as `array<long>`, sorted ascending.
  *
  * Replaces the composed HOF pipeline (`array_distinct(transform(
  * wordShingles(tokens(text), n), polyHash))` — see
  * [[TextFunctions.shingleHashesHof]]), which evaluates interpreted lambda
  * frames per token and per shingle and materializes every shingle string.
  * Round-2 probe at sf0.1: computing the shingle sets was 28-50s of the
  * 29s q24 wall-clock — the joins built on top cost ~5s.
  */
object ShingleHashes {

  /** text -> distinct rolling-hash values of its word n-gram shingles,
    * sorted ascending. One pass, no intermediate strings:
    *
    *  1. lowercase via UTF8String.toLowerCase — the exact `lower()` kernel,
    *     so case folding cannot diverge from the composed pipeline;
    *  2. tokens = maximal runs of ASCII [a-z0-9] bytes (everything else,
    *     including any multi-byte character, is a delimiter — identical to
    *     `split(lower(text), "[^a-z0-9]+")` + empty filter, because no
    *     non-ASCII character matches [a-z0-9]);
    *  3. shingle hash = the [[PolyHashImpl]] fold over the shingle string
    *     "tok_i tok_i+1 ... tok_i+n-1" — token bytes are ASCII so code
    *     point == byte, and the joining space folds in as 32;
    *  4. distinct via set, then sorted ASCENDING — the sort is the
    *     precondition [[SortedIntersectCount]]'s linear merge relies on,
    *     paid once per doc here instead of per candidate pair in the
    *     verify join. (Set semantics are order-insensitive everywhere else:
    *     MinHash takes a min over the set, Jaccard intersects it.)
    *
    * Fewer than n tokens -> empty array (the composed `when(size < n, [])`).
    */
  def eval(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.toLowerCase.getBytes
    // token boundaries via the shared scan kernel
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    TokenScan.foreachRun(bytes) { (st, en) => starts.add(st); ends.add(en) }
    val nToks = starts.size()
    if (nToks < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long]()
    var w = 0
    while (w <= nToks - n) {
      var acc = 0L
      var k = 0
      while (k < n) {
        if (k > 0) acc = (acc * TextFunctions.HashBase + ' '.toInt) % TextFunctions.HashMod
        var j = starts.get(w + k)
        val e = ends.get(w + k)
        while (j < e) {
          acc = (acc * TextFunctions.HashBase + bytes(j)) % TextFunctions.HashMod
          j += 1
        }
        k += 1
      }
      seen.add(acc)
      w += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  def shingleHashes(text: Column, n: Int): Column =
    Kernel.call("shingle_hashes", this, "eval", ArrayType(LongType, containsNull = false), Seq(text)) {
      case Seq(StringType) if n >= 1 => Right(Seq(n))
      case Seq(StringType) => Left(s"shingle width must be >= 1, got $n")
      case Seq(other) => Left(s"shingle_hashes requires a string input, got ${other.catalogString}")
    }
}
