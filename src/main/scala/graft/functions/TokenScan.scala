package graft.functions

/** The ONE tokenization kernel shared by every native text expression:
  * maximal runs of ASCII [a-z0-9] bytes over a lowercased UTF-8 buffer —
  * byte-for-byte the semantics of `split(lower(text), "[^a-z0-9]+")` with
  * empties filtered (multi-byte characters never match [a-z0-9], so they
  * delimit like punctuation).
  *
  * [[ShingleHashes.eval]], [[SimHash.eval]], and [[TextStats.eval]] all fold
  * over these runs; the q20-q26 oracle parity rests on them agreeing, so
  * the scan lives here exactly once. The callback style keeps the loop
  * allocation-free and JIT-inlinable.
  */
object TokenScan {

  @inline def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** Invoke `f(start, endExclusive)` for each token run in `bytes`. */
  def foreachRun(bytes: Array[Byte])(f: (Int, Int) => Unit): Unit = {
    var i = 0
    val n = bytes.length
    while (i < n) {
      if (isTokenByte(bytes(i))) {
        val start = i
        while (i < n && isTokenByte(bytes(i))) i += 1
        f(start, i)
      } else i += 1
    }
  }
}
