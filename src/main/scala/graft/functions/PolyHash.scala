package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The kernel behind [[PolyHash]]: a standalone object, so its static
  * forwarder `PolyHashImpl.hash` is directly callable from generated Java.
  */
object PolyHashImpl {
  /** Decode UTF-8 code points and left-fold
    * `acc = (acc * 131 + codePoint) % (1e9+7)`; empty input -> 0. The code
    * point per character is exactly what Spark's `ascii` returns on the
    * 1-char substring, so this reproduces the HOF fold byte-for-byte.
    */
  def hash(bytes: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b0 = bytes(i) & 0xFF
      var cp = 0
      var len = 1
      if (b0 < 0x80) { cp = b0 }
      else if (b0 < 0xE0) { cp = b0 & 0x1F; len = 2 }
      else if (b0 < 0xF0) { cp = b0 & 0x0F; len = 3 }
      else { cp = b0 & 0x07; len = 4 }
      var k = 1
      while (k < len && i + k < n) {
        cp = (cp << 6) | (bytes(i + k) & 0x3F)
        k += 1
      }
      acc = (acc * TextFunctions.HashBase + cp) % TextFunctions.HashMod
      i += len
    }
    acc
  }

  def hash(s: UTF8String): Long = hash(s.getBytes)
}

/** Native codegen'd polynomial rolling hash of a string:
  * `fold c in chars(s): acc = (acc * 131 + ascii(c)) % (1e9+7)`, empty -> 0.
  *
  * Bit-identical to the interpreted HOF fold it replaces
  * ([[TextFunctions.polyHashHof]]'s `aggregate(sequence(1, length(s)))` over
  * `ascii(substr(s, i, 1))`) and to the DuckDB oracle twin — Spark 4's
  * `ascii` yields the Unicode CODE POINT of the first character, so the fold
  * decodes UTF-8 code points (see [[PolyHashImpl.hash]]).
  *
  * Why native: the HOF fold evaluates one interpreted lambda frame per
  * CHARACTER — the dominant cost of the shingle/minhash dedup pipelines
  * (round-1 bench: q25 at 50s, ~3x recomputed). This loop runs inside
  * whole-stage codegen.
  */
object PolyHash {

  /** DSL entry: `polyHash(s)` as a Column. */
  def polyHash(s: Column): Column =
    Kernel.call("poly_hash", PolyHashImpl, "hash", LongType, Seq(s)) {
      case Seq(StringType) => Right(Nil)
      case Seq(other) => Left(s"poly_hash requires a string input, got ${other.catalogString}")
    }
}
