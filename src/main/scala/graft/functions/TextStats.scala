package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass token statistics: struct(n_tokens, n_distinct, sum_len,
  * est_subwords, n_stop, s_<lang>...) — the counting substrate of the
  * quality metrics (q20) and language-ID (q21) queries.
  *
  * The composed pipeline re-tokenizes per metric and evaluates interpreted
  * lambda frames per token (`aggregate` for lengths/subwords, `filter` per
  * stopword/marker list); this computes every count in a single scan of
  * the text. The ratio/score arithmetic stays in Column math downstream, so
  * outputs are bit-identical to the HOF forms (witness: TextStatsSpec).
  *
  * The kernel holds only read-only lookup sets, built once from the
  * [[TextFunctions]] constants and shared by every thread.
  */
object TextStats {

  private val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextFunctions.Stopwords.foreach(s.add)
    s
  }
  private val markers: Array[java.util.HashSet[String]] =
    TextFunctions.LangMarkers.map { case (_, ws) =>
      val s = new java.util.HashSet[String](); ws.foreach(s.add); s }.toArray

  /** Tokenize (identical to [[ShingleHashes.eval]]: UTF8String.toLowerCase,
    * maximal ASCII [a-z0-9] runs) and count everything the composed HOF
    * pipeline counts, in one pass: n_tokens, n_distinct, sum of token
    * lengths, BPE-ish subword estimate (ceil(len/4) per token), stopword
    * hits, and per-language marker hits.
    */
  def eval(s: UTF8String): InternalRow = {
    val bytes = s.toLowerCase.getBytes
    val seen = new java.util.HashSet[String]()
    var nTokens = 0L
    var sumLen = 0L
    var subwords = 0L
    var nStop = 0L
    val langHits = new Array[Long](markers.length)
    TokenScan.foreachRun(bytes) { (start, end) =>
      val len = end - start
      val tok = new String(bytes, start, len, java.nio.charset.StandardCharsets.US_ASCII)
      nTokens += 1
      sumLen += len
      subwords += (len + 3) / 4
      seen.add(tok)
      if (stopSet.contains(tok)) nStop += 1
      var m = 0
      while (m < markers.length) {
        if (markers(m).contains(tok)) langHits(m) += 1
        m += 1
      }
    }
    val out = new Array[Any](5 + markers.length)
    out(0) = nTokens
    out(1) = seen.size().toLong
    out(2) = sumLen
    out(3) = subwords
    out(4) = nStop
    var m = 0
    while (m < markers.length) { out(5 + m) = langHits(m); m += 1 }
    new GenericInternalRow(out)
  }

  /** Fixed output schema: count fields then one `s_<lang>` per marker
    * language, in [[TextFunctions.LangMarkers]] order.
    */
  val schema: StructType = StructType(
    Seq("n_tokens", "n_distinct", "sum_len", "est_subwords", "n_stop")
      .map(StructField(_, LongType, nullable = false)) ++
      TextFunctions.LangMarkers.map { case (lang, _) =>
        StructField(s"s_$lang", LongType, nullable = false)
      })

  def textStats(text: Column): Column =
    Kernel.call("text_stats", this, "eval", schema, Seq(text)) {
      case Seq(StringType) => Right(Nil)
      case Seq(other) => Left(s"text_stats requires a string input, got ${other.catalogString}")
    }
}
