package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass repetition statistics: struct(n_lines, nd_lines,
  * line_chars, dup_line_chars, best_cnt, best_len) — the counting
  * substrate of the within-doc repetition metrics (q52). The ratio
  * arithmetic stays in Column math downstream, so outputs are
  * bit-identical to the HOF witness ([[TextFunctions
  * .repetitionMetricsHof]], pinned by RepetitionMetricsSpec).
  *
  * The kernel: line duplication counts and the most-frequent word bigram,
  * in one pass with hash maps — replacing the interpreted HOF folds whose
  * lambda-frame overhead made q52 the slowest scan in the suite even after
  * let-binding (each fold step is an interpreted expression tree; this is
  * a tight JIT'd loop).
  */
object RepStats {

  /** Spark's `trim` semantics: strip U+0020 SPACE only (Java's
    * String.trim strips all control chars <= 0x20 — NOT the same).
    */
  private def trimSpaces(s: String): String = {
    var from = 0
    var to = s.length
    while (from < to && s.charAt(from) == ' ') from += 1
    while (to > from && s.charAt(to - 1) == ' ') to -= 1
    s.substring(from, to)
  }

  def eval(s: UTF8String): InternalRow = {
    // ---- line metrics: split('\n'), trim spaces, drop empties ----------
    val str = s.toString
    val lineCounts = new java.util.HashMap[String, Long]()
    var nLines = 0L
    var lineChars = 0L
    var start = 0
    val n = str.length
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == '\n') {
        val line = trimSpaces(str.substring(start, i))
        if (line.nonEmpty) {
          nLines += 1
          // length() in Spark counts code points, not UTF-16 units
          lineChars += line.codePointCount(0, line.length)
          lineCounts.merge(line, 1L, java.lang.Long.sum)
        }
        start = i + 1
      }
      i += 1
    }
    var dupLineChars = 0L
    val lit = lineCounts.entrySet().iterator()
    while (lit.hasNext) {
      val e = lit.next()
      if (e.getValue > 1L)
        dupLineChars += (e.getValue - 1L) * e.getKey.codePointCount(0, e.getKey.length)
    }
    // ---- top bigram: TokenScan runs over the lowercased bytes ----------
    val bytes = s.toLowerCase.getBytes
    val gramCounts = new java.util.HashMap[String, Long]()
    var prev: String = null
    TokenScan.foreachRun(bytes) { (from, until) =>
      val tok = new String(bytes, from, until - from,
        java.nio.charset.StandardCharsets.US_ASCII)
      if (prev != null) gramCounts.merge(prev + " " + tok, 1L, java.lang.Long.sum)
      prev = tok
    }
    // argmax by (count desc, gram asc) — grams are pure ASCII, so Java's
    // lexicographic compareTo equals Spark's binary string ordering
    var bestCnt = 0L
    var bestGram = ""
    val git = gramCounts.entrySet().iterator()
    while (git.hasNext) {
      val e = git.next()
      if (e.getValue > bestCnt ||
          (e.getValue == bestCnt && bestCnt > 0L && e.getKey.compareTo(bestGram) < 0)) {
        bestCnt = e.getValue
        bestGram = e.getKey
      }
    }
    new GenericInternalRow(Array[Any](
      nLines, lineCounts.size().toLong, lineChars, dupLineChars,
      bestCnt, bestGram.length.toLong))
  }

  val schema: StructType = StructType(
    Seq("n_lines", "nd_lines", "line_chars", "dup_line_chars",
      "best_cnt", "best_len").map(StructField(_, LongType, nullable = false)))

  def repStats(text: Column): Column =
    Kernel.call("rep_stats", this, "eval", schema, Seq(text)) {
      case Seq(StringType) => Right(Nil)
      case Seq(other) => Left(s"rep_stats requires a string input, got ${other.catalogString}")
    }
}
