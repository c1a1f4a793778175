package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass Gopher raw metrics: struct(n_words, sum_word_len,
  * alpha_words, symbol_count, n_lines, bullet_lines, ellipsis_lines,
  * n_stop_present). The rule flags and ratios stay in Column math
  * downstream ([[TextFunctions.gopherRules]]), so outputs are
  * bit-identical to the HOF formulation — which is retained as
  * [[TextFunctions.gopherRulesHof]], the parity witness.
  *
  * Why native: the HOF form split the text three ways and evaluated
  * interpreted lambda frames per token across 16 output columns — the
  * largest codegen producer in the corpus-quality family (the q118
  * code-cache incident class). This is one tight byte loop called once
  * per row; the sixteen outputs read fields of ONE common subexpression.
  *
  * The kernel computes every raw count the seven Gopher rules need, in
  * TWO byte passes over the text (the original buffer for
  * words/lines/symbols, the lowercased buffer for stopword tokens — the
  * composed HOF form walks the string at least SEVEN times through
  * interpreted lambda frames and regexes).
  *
  * Byte-exact contract with the HOF witness ([[TextFunctions.gopherRulesHof]]),
  * pinned by GopherRulesSpec:
  *  - words = maximal runs split by ASCII whitespace (Java regex `\s` =
  *    space, \t, \n, \x0B, \f, \r — UTF-8 continuation bytes never match,
  *    so multi-byte text is safe); word length counts CODE POINTS
  *    (non-continuation bytes), matching Spark's `length`;
  *  - an alpha word contains at least one ASCII letter (`rlike "[a-zA-Z]"`);
  *  - symbols = '#' count + left-to-right non-overlapping "..." matches
  *    (a run of k dots yields k/3 — `regexp_replace` greedy semantics);
  *  - lines split on '\n'; a line is BLANK iff all bytes are ' ' (Spark
  *    `trim` strips 0x20 only); bullet = first non-space byte is '-'/'*';
  *    ellipsis = last three bytes before trailing spaces are "...";
  *  - stopword presence tokenizes the LOWERCASED text exactly like
  *    [[TokenScan]] (`split(lower(text), "[^a-z0-9]+")`) and counts how
  *    many DISTINCT stopwords appear (presence, not occurrences).
  */
object GopherScan {

  // presence is tracked in one 64-bit mask (`presentMask |= 1L << w`);
  // a 65th entry would silently alias bit 0 (1L << 64 == 1L << 0) and
  // undercount distinct stopwords — fail loudly instead
  private val stopwords: Array[String] = {
    val stopwords = TextFunctions.GopherStopSmall.toArray
    require(stopwords.length <= 64,
      s"GopherScan tracks stopword presence in a 64-bit mask: " +
        s"got ${stopwords.length} stopwords (max 64)")
    stopwords
  }

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  def eval(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length

    var nWords = 0L
    var sumLen = 0L
    var alphaWords = 0L
    var symbols = 0L
    var nLines = 0L
    var bulletLines = 0L
    var ellipsisLines = 0L

    // ---- pass 1: words + symbols + lines, one walk of the raw bytes ----
    var lineStart = 0
    def flushLine(endExcl: Int): Unit = {
      // first non-space byte and last non-space byte of the line
      var a = lineStart
      while (a < endExcl && bytes(a) == ' ') a += 1
      if (a < endExcl) { // non-blank (some byte != ' ')
        nLines += 1
        val first = bytes(a)
        if (first == '-' || first == '*') bulletLines += 1
        var z = endExcl - 1
        while (z >= a && bytes(z) == ' ') z -= 1
        if (z - a >= 2 && bytes(z) == '.' && bytes(z - 1) == '.' && bytes(z - 2) == '.')
          ellipsisLines += 1
      }
    }
    var i = 0
    var dotRun = 0
    var inWord = false
    var wordHasAlpha = false
    var wordCp = 0L
    while (i < n) {
      val b = bytes(i)
      if (b == '.') dotRun += 1
      else {
        symbols += dotRun / 3; dotRun = 0
        if (b == '#') symbols += 1
      }
      if (isWs(b)) {
        if (inWord) {
          nWords += 1; sumLen += wordCp
          if (wordHasAlpha) alphaWords += 1
          inWord = false
        }
      } else {
        if (!inWord) { inWord = true; wordHasAlpha = false; wordCp = 0L }
        if ((b & 0xC0) != 0x80) wordCp += 1 // count code points, not bytes
        if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) wordHasAlpha = true
      }
      if (b == '\n') { flushLine(i); lineStart = i + 1 }
      i += 1
    }
    symbols += dotRun / 3
    if (inWord) {
      nWords += 1; sumLen += wordCp
      if (wordHasAlpha) alphaWords += 1
    }
    flushLine(n)

    // ---- pass 2: stopword presence over the lowercased token stream ----
    val lower = s.toLowerCase.getBytes
    var presentMask = 0L
    TokenScan.foreachRun(lower) { (start, end) =>
      val len = end - start
      var w = 0
      while (w < stopwords.length) {
        val sw = stopwords(w)
        if (sw.length == len) {
          var k = 0
          var eq = true
          while (eq && k < len) {
            if (lower(start + k) != sw.charAt(k).toByte) eq = false
            k += 1
          }
          if (eq) presentMask |= (1L << w)
        }
        w += 1
      }
    }
    val nStopPresent = java.lang.Long.bitCount(presentMask).toLong

    new GenericInternalRow(Array[Any](
      nWords, sumLen, alphaWords, symbols,
      nLines, bulletLines, ellipsisLines, nStopPresent))
  }

  val schema: StructType = StructType(
    Seq("n_words", "sum_word_len", "alpha_words", "symbol_count",
      "n_lines", "bullet_lines", "ellipsis_lines", "n_stop_present")
      .map(StructField(_, LongType, nullable = false)))

  def gopherScan(text: Column): Column =
    Kernel.call("gopher_scan", this, "eval", schema, Seq(text)) {
      case Seq(StringType) => Right(Nil)
      case Seq(other) => Left(s"gopher_scan requires a string input, got ${other.catalogString}")
    }
}
