package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The kernel behind [[PolyHash61]]: a standalone object, so its static
  * forwarder `PolyHash61Impl.hash` is directly callable from generated Java.
  */
object PolyHash61Impl {

  /** Mersenne-prime modulus 2^61 - 1 of the wide portable hash. */
  val Mod61: Long = (1L << 61) - 1
  /** Fixed ~2^60 fold multiplier (any non-zero residue mod the prime
    * works for the rolling fold's collision bound).
    */
  val Base61: Long = 1152921504606846883L // 2^60 - 93
  /** Finalizer multipliers: the xorshift* and golden-ratio mixing
    * constants, reduced mod 2^61-1 (they must be valid residues). The
    * polynomial FOLD alone is additive in the last character — keys
    * differing only in a trailing id digit hash to CONSECUTIVE integers,
    * which correlates a cardinality sketch's register/rho split and biased
    * HLL estimates by ~17% at 10^6 sequential keys. Two rounds of
    * xor-shift + multiply (a murmur/splitmix-style avalanche, every op
    * exactly replayable in DuckDB: `xor`, `>>`, HUGEINT multiply, `%`)
    * decorrelate them to well inside the sketch's published error.
    */
  // COMPATIBILITY: these constants are part of every PERSISTED
  // hash-derived artifact's format — corpus-state signature tables,
  // stored HLL register/sketch tables. Changing any of them makes old
  // and new hashes live in different spaces: appends/merges across the
  // boundary silently miss matches rather than erroring. Rebuild
  // persisted state when they change (they changed once, pre-release:
  // Mix2's literal was corrected to the splitmix64 constant its
  // documentation always claimed).
  val Mix1: Long = 0x2545F4914F6CDD1DL % Mod61 // = 379978648522644766
  val Mix2: Long = java.lang.Long.remainderUnsigned(-7046029254386353131L, Mod61) // 0x9E3779B97F4A7C15 % M = 2177342782468422681

  /** `x mod (2^61-1)` for the unsigned 128-bit product `hi:lo`.
    * 2^61 === 1 (mod M), so x = q*2^61 + r === q + r with
    * q = hi*8 + (lo >>> 61) and r = lo & M. Callers guarantee hi < 2^58
    * (operands < 2^61 and < 2^61), so q + r < 2^62 never overflows a
    * signed long; two folds reach [0, M).
    */
  private def mod61(hi: Long, lo: Long): Long = {
    var t = (hi << 3) + (lo >>> 61) + (lo & Mod61)
    t = (t >>> 61) + (t & Mod61)
    if (t >= Mod61) t - Mod61 else t
  }

  /** Decode UTF-8 code points and left-fold
    * `acc = (acc * Base61 + codePoint) % (2^61 - 1)`; empty input -> 0.
    * The per-step 122-bit product goes through `Math.multiplyHigh` (both
    * operands non-negative, so the signed high word is the unsigned one).
    * Code-point decoding is byte-for-byte the same as [[PolyHashImpl.hash]],
    * so the DuckDB twin's `ascii`-per-character fold (with HUGEINT
    * intermediates) reproduces this exactly.
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
      val prod = mod61(Math.multiplyHigh(acc, Base61), acc * Base61)
      val s = prod + cp // < 2^61 - 1 + 2^21: no overflow
      acc = if (s >= Mod61) s - Mod61 else s
      i += len
    }
    // avalanche finalizer (see Mix1/Mix2): each xor keeps acc < 2^61, each
    // multiply re-reduces below the modulus; the last xor can reach the
    // all-ones value == Mod61 exactly, hence the final conditional fold
    acc ^= acc >>> 30
    acc = mod61(Math.multiplyHigh(acc, Mix1), acc * Mix1)
    acc ^= acc >>> 27
    acc = mod61(Math.multiplyHigh(acc, Mix2), acc * Mix2)
    acc ^= acc >>> 31
    if (acc >= Mod61) acc - Mod61 else acc
  }

  def hash(s: UTF8String): Long = hash(s.getBytes)
}

/** Native codegen'd 61-bit avalanching string hash:
  * `fold c in chars(s): acc = (acc * (2^60-93) + codepoint(c)) % (2^61-1)`,
  * then a two-round xor-shift/multiply finalizer (empty -> 0).
  *
  * The 30-bit [[PolyHash]] is fine for shingle/minhash candidate generation
  * (collisions only add candidates, verification is exact), but a
  * cardinality sketch keyed on it saturates near 2^30 and biases down long
  * before that — see [[graft.operators.Sketches]]. This hash spans the full
  * 61-bit range of the Mersenne prime 2^61-1 (headroom far past
  * 100 TB-scale distinct counts) and the finalizer gives the bitwise
  * decorrelation a sketch needs (see [[PolyHash61Impl.Mix1]]), while
  * staying oracle-replayable: DuckDB folds the same recurrence over
  * `ascii` code points with HUGEINT intermediates (the 122-bit product
  * fits; the result casts back to BIGINT) and replays the finalizer with
  * `xor`/`>>`/HUGEINT-multiply/`%`.
  */
object PolyHash61 {

  /** DSL entry: `polyHash61(s)` as a Column. */
  def polyHash61(s: Column): Column =
    Kernel.call("poly_hash61", PolyHash61Impl, "hash", LongType, Seq(s)) {
      case Seq(StringType) => Right(Nil)
      case Seq(other) => Left(s"poly_hash61 requires a string input, got ${other.catalogString}")
    }
}
