package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Contamination, Dedup, Dsir, LmScore, Multimodal, Packing, Quantiles, Sampling, Vocabulary}
import graft.TrainingDataQueries.{polyHashSql, toksSql}

/** Round-7 corpus-curation operators: sub-document segment dedup, PII
  * redaction, epoch-weighted upsampling, context truncation, mergeable
  * vocabulary shards, and per-group winsorization — each with a DuckDB
  * oracle twin under the house parity rules (pinned driver-side constants,
  * integer/rational math at every cross-engine comparison, generated SQL
  * sharing the exact regexes/weights the Spark plan uses, so the twins
  * cannot drift from the operators).
  */
object CurationQueries {

  /** Segment delimiter for q74. The synthetic corpus is one line per doc
    * (no `"\n\n"` paragraphs), so the query cuts on a frequent token
    * instead — mechanically identical to a paragraph cut, and it yields a
    * real duplicate population (~4% of segments at sf0.01). Production
    * callers pass `"\n\n"` or `"\n"`.
    */
  private val SegDelim = " the "

  /** Epoch weights for q76: upsample the tail languages, downsample the
    * `en` head, leave `fr` on the implicit default 1.0 — exercising the
    * whole-copies path, the fractional path, and the sub-1.0 drop path in
    * one query.
    */
  private val EpochWeights = Map("en" -> 0.7, "zh" -> 2.5, "es" -> 2.0, "de" -> 1.5)

  /** q77's context budget, sized to actually split the sf corpus (docs run
    * ~8-100 tokens).
    */
  private val TruncTokens = 32

  /** q79's winsor band: [p05, p95] per language. */
  private val WinsorLo = 1L
  private val WinsorHi = 19L
  private val WinsorDen = 20L

  /** Deterministic PII injection for q75: the corpus contains no PII, so
    * both engines append the same synthetic email/IP/phone tail (a pure
    * function of doc_id) before redacting. The OPERATOR is exercised on
    * real PII shapes in PiiRedactSpec; the oracle query exercises the
    * cross-engine regex/count parity.
    */
  private def injectedPii: Column = concat(
    col("text"),
    lit(" contact user"), col("doc_id").cast("string"),
    lit("@example.org ip 10."), (col("doc_id") % 250).cast("string"),
    lit(".0."), (col("doc_id") % 200).cast("string"),
    lit(" tel 555-010-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))

  private val injectedPiiSql: String =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@example.org ip 10.' || CAST(doc_id % 250 AS VARCHAR) || " +
      "'.0.' || CAST(doc_id % 200 AS VARCHAR) || " +
      "' tel 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // corpus-wide segment dedup + document reassembly (the FineWeb-style
    // sub-document pass): first occurrence by (doc_id, pos) wins, docs
    // rebuilt from survivors in order
    "q74_segment_dedup" -> ((s, dir) =>
      Dedup.dedupSegments(
        s.read.parquet(s"$dir/documents.parquet"), delimiter = SegDelim)),

    // ordered PII redaction chain + per-pattern counts, all row-local;
    // counts are taken on the text each pattern actually saw (post earlier
    // redactions), so counts and redaction can never disagree
    "q75_pii_redact" -> ((s, dir) => {
      val t = injectedPii
      val counts = TextFunctions.piiCounts(t).map { case (n, c) => c.as(n) }
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id") +: counts :+
          TextFunctions.redactPii(t).as("text_redacted"): _*)
    }),

    // epoch-weighted mixing WITH upsampling: floor(w) copies + a
    // content-hash-gated fractional copy; weights resolve driver-side to
    // integer literals both engines replay
    "q76_epoch_mix" -> ((s, dir) =>
      Sampling.epochMix(
        s.read.parquet(s"$dir/documents.parquet"), "lang", "text", EpochWeights)
        .select(col("doc_id"), col("lang"), col("epoch"), col("n_copies"))),

    // context-length truncation: first-N-tokens cut, row-local
    "q77_truncate_budget" -> ((s, dir) =>
      Packing.truncateToBudget(
        s.read.parquet(s"$dir/documents.parquet"), maxTokens = TruncTokens)),

    // mergeable vocabulary: per-source tf shards sum-merge to EXACTLY the
    // single-pass corpus tf (the oracle computes the direct answer); the
    // shard-count column only the sharded form can report rides along
    "q78_vocab_merge" -> ((s, dir) =>
      Vocabulary.mergeShardCounts(
        Vocabulary.shardCounts(s.read.parquet(s"$dir/documents.parquet"), "source"))
        .orderBy(col("tf").desc, col("token").asc)
        .limit(30)),

    // per-language winsorization: clamp lengths into the [p05, p95] band
    // read off one bounded histogram
    "q79_winsorize" -> ((s, dir) =>
      Quantiles.winsorize(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("n_chars").cast("double").as("n_chars")),
        "lang", "n_chars", WinsorLo, WinsorHi, WinsorDen, precision = 6)
        .select("doc_id", "lang", "n_chars", "group_lo", "group_hi", "clamped")),

    // INCREMENTAL segment dedup: docs <= 250 are the stored corpus (their
    // state table is all the increment ever reads), docs > 250 the new
    // shard; the oracle is the FULL recompute over everything restricted
    // to the shard — the q49 increment == full contract for q74
    "q80_segment_dedup_incremental" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      Dedup.dedupSegmentsIncremental(
        d.filter(col("doc_id") > IncrSplitId),
        Dedup.segmentState(d.filter(col("doc_id") <= IncrSplitId), delimiter = SegDelim),
        delimiter = SegDelim)
    }),

    // cluster-coherent split: every member of a near-dup cluster lands in
    // its REPRESENTATIVE's split — the leakage-proof version of q39 (and
    // the prevention q51 only detects). CacheManager dedupes the LSH
    // stages with q25/q37's
    "q81_cluster_split" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val clusters = Dedup.assignClusters(
        d, Dedup.minhashLshPairs(d).select("id_a", "id_b"))
      Sampling.clusterCoherentSplit(d, clusters)
        .select(col("doc_id"), col("cluster_id"), col("split"))
    }),

    // out-of-vocabulary rate vs the corpus' own top-20 vocabulary: the
    // integer-exact perplexity stand-in (no transcendental, so the rate
    // crosses engines bit-for-bit where an LM log-prob could not)
    "q82_oov_rate" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      Vocabulary.oovRate(d, Vocabulary.topTokens(d, OovVocabK))
    }),

    // DIRECTED containment pairs: the snippet-in-page relation symmetric
    // Jaccard misses; threshold 0.6 so asymmetric overlaps actually
    // surface on this corpus (at 0.8 the output is just the q24 pairs in
    // both orientations)
    "q83_dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(
        s.read.parquet(s"$dir/documents.parquet"), threshold = ContainThreshold)),

    // exact-N stratified sample: exactly 30 docs per language by salted
    // two-phase rank over the content hash — the guarantee q44's
    // hash-threshold cut deliberately trades away
    "q84_exact_n_sample" -> ((s, dir) =>
      Sampling.exactNSample(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("text")),
        "lang", "text", n = ExactN)
        .select(col("doc_id"), col("lang"), col("rank"))),

    // split-balance contingency audit: observed vs independence-expected
    // counts per (split, lang) — the post-split skew check (a ratio far
    // from 1 flags a cell the content hash happened to tilt)
    "q86_split_balance" -> ((s, dir) =>
      Sampling.contingencyAudit(
        Sampling.assignSplit(
          s.read.parquet(s"$dir/documents.parquet"), "text")
          .select(col("split"), col("lang")),
        "split", "lang")),

    // per-language z-score standardization of doc length: exact integer
    // moments, one pinned double conversion — even z is bit-replayable
    "q87_standardize" -> ((s, dir) =>
      Quantiles.standardize(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "n_chars")
        .select("doc_id", "lang", "n_chars", "group_mean", "group_std", "z")),

    // corpus bigram frequencies, top-25: the n-gram statistics pass
    // (collocations, boilerplate phrases) unigram vocab can't see —
    // EVERY occurrence counts, so this is wordShinglesAll, not the
    // dedup family's distinct set form
    "q88_bigram_topk" -> ((s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(explode(TextFunctions.wordShinglesAll(toks, 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("bigram").asc)
        .limit(25)
    }),

    // length-bucketed batching report: the dynamic-batching padding-cost
    // estimate (16-token buckets, batches of 8)
    "q89_length_buckets" -> ((s, dir) =>
      Packing.lengthBucketReport(
        s.read.parquet(s"$dir/documents.parquet")
          .select(size(TextFunctions.tokens(col("text"))).as("n_tokens")),
        "n_tokens", bucketWidth = 16L, batchSize = 8L)),

    // per-source drift: each source's TV distance from the REST of the
    // corpus — the which-source-drifted audit, one histogram pass
    "q90_source_drift" -> ((s, dir) =>
      Quantiles.groupedTvDrift(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("source"), col("n_chars").cast("double").as("n_chars")),
        "source", "n_chars", precision = 6)),

    // quality-aware exact dedup: among byte-identical rows the HIGHEST
    // score survives, ties to the lowest id (q23 keeps blindly-min-id)
    "q91_dedup_keep_best" -> ((s, dir) =>
      Dedup.exactKeepBest(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), (col("n_chars") % 97).cast("double").as("score")),
        "score")),

    // full decile profile per language from ONE histogram pass — q47
    // answers one quantile; this answers all nine without rescanning
    "q93_decile_profile" -> ((s, dir) =>
      Quantiles.groupedQuantileProfile(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("lang"), col("n_chars").cast("double").as("n_chars")),
        "lang", "n_chars", qDen = 10L, precision = 6))
,
    // decile profile over LOG buckets: the bounded-bin path for genuinely
    // continuous values (events.value) where the exact rounded histogram
    // would grow with the corpus — bins capped by significant digits, the
    // threshold a <=10%-relative-error lower edge, all integer bucket math
    "q94_logbucket_profile" -> ((s, dir) =>
      Quantiles.logBucketQuantileProfile(
        SparkEntry.events(s, dir).select(col("event_type"), col("value")),
        "event_type", "value", qDen = 10L, precision = 2, sigDigits = 2)),

    // exact long-substring reuse: winnowing anchors + offset-spine substr
    // verification — the verbatim-quote relation the whole set-overlap
    // family (q24/q25/q26/q83) structurally misses
    "q95_substring_dedup" -> ((s, dir) =>
      Dedup.substringPairs(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")),
        minLen = SubstrLen, k = SubstrK)),

    // perceptual image dedup end-to-end: derive real PNG+JPEG payloads per
    // doc (the corpus ships no binary media), decode with ImageIO, dHash,
    // pigeonhole band join — every (2k, 2k+1) re-encoded pair must match.
    // Fully oracle-gated since round 10: the test-card grid levels are a
    // pure integer function of doc_id, PNG decode is lossless, and the
    // >= 25-level adjacent-cell margin makes JPEG re-encode a dHash
    // no-op — so the EXPECTED hashes (and the whole band join) replay in
    // SQL, which checks the real decode path, not just the join
    "q96_image_neardup" -> ((s, dir) =>
      Multimodal.perceptualImagePairs(
        Multimodal.testCardMedia(
          s.read.parquet(s"$dir/documents.parquet").select(col("doc_id")),
          "doc_id"))),

    // AUDIO near-dup — the multimodal gap q96 left: WAV/AU re-encodings
    // of the same PCM fingerprint identically (integer band-energy
    // signature), the same pigeonhole band join finds them. The fixture
    // tone shares the test card's integer mix, so the q96 oracle replay
    // value-checks this REAL decode path too (javax.sound, not ImageIO).
    // STATE-FIRST since round 18 (the production shape, and the only
    // scale-safe one for audio): payloads decode ONCE into (id, hash)
    // fingerprint state, the pair join reads 64-bit signatures only —
    // javax.sound's synchronized SPI lookup made the one-shot's repeated
    // decode the suite's single superlinear sweep row; raw decode cost is
    // attributed separately in the b138 bench twins and the
    // audio_fingerprint_decode sweep row
    "q138_audio_neardup" -> ((s, dir) =>
      Multimodal.perceptualPairsFromState(
        Multimodal.audioFingerprintState(
          Multimodal.testToneMedia(
            s.read.parquet(s"$dir/documents.parquet").select(col("doc_id")),
            "doc_id")))),

    // VIDEO near-dup — the last multimodal modality without one (images
    // q96, audio q138): real RIFF demux + per-frame ImageIO decode +
    // majority-vote dHash, the shared pigeonhole band join. Each fixture
    // clip's frames all carry its card's dHash, so the majority signature
    // equals the card hash and the q96 oracle replays this path verbatim
    // — value-checking demux, frame decode, and the vote, not just the join
    "q145_video_neardup" -> ((s, dir) =>
      Multimodal.perceptualVideoPairs(
        Multimodal.testVideoMedia(
          s.read.parquet(s"$dir/documents.parquet").select(col("doc_id")),
          "doc_id"))),

    // INCREMENTAL media dedup — the appendable fingerprint-once state
    // every text dedup family has (q143's url pattern): the first half's
    // payloads fingerprint into state, the second half appends its own
    // partial (only the shard's bytes decode), pairs read off merged
    // state — equals the one-shot q96 bit-for-bit, so the q96 oracle
    // replay gates it
    "q146_image_state_neardup" -> ((s, dir) => {
      val keys = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
      val st0 = Multimodal.imageHashState(
        Multimodal.testCardMedia(keys.filter(col("doc_id") <= MediaSplitId), "doc_id"))
      val st1 = Multimodal.imageHashState(
        Multimodal.testCardMedia(keys.filter(col("doc_id") > MediaSplitId), "doc_id"))
      Multimodal.perceptualPairsFromState(
        Multimodal.normalizeMediaState(st0.unionByName(st1)))
    }),

    // verbatim-substring benchmark contamination: training docs quoting
    // >= 48 literal chars from a benchmark doc — the character-granular
    // leak q45's token-shingle ratio under-weights (one long answer
    // string inside a long page barely moves share_ratio)
    "q98_substring_contamination" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      Contamination.substringContamination(
        d.filter(col("doc_id") > ContamSplitId),
        d.filter(col("doc_id") <= ContamSplitId),
        minLen = SubstrLen, k = SubstrK)
    }),

    // per-language Pearson correlation of char length vs token count —
    // exact DECIMAL moments, one float boundary per group (q87's
    // discipline applied to the two-column relationship audit)
    "q102_correlation" -> ((s, dir) => {
      // text filter BEFORE size(): Spark's legacy size(NULL) is -1, which
      // would slip a bogus moment past groupedPearson's null filter while
      // the twin skips the NULL — filter the raw column on both sides
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("text").isNotNull)
      Quantiles.groupedPearson(
        d.select(col("lang"), col("n_chars").cast("long").as("x"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("y")),
        "lang", "x", "y")
    }),

    // deterministic weighted sampling without replacement
    // (Efraimidis-Spirakis in log space): top-N docs with inclusion
    // probability proportional to length — no RNG state, engine-exact
    // priorities via the pinned ln of the 61-bit content hash
    "q101_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("n_chars").cast("long").as("weight"))
          .filter(col("weight") > 0),
        "weight", n = WeightedSampleN)
        .select(col("doc_id"), col("weight"), col("priority"))),

    // incremental substring dedup: pairs touching a NEW shard off the
    // stored fingerprint state — no re-fingerprint, no stored x stored
    // join; oracle = the full recompute restricted to shard-touching
    // pairs (the q80 pattern)
    "q100_substring_incremental" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val stored = Dedup.substringState(
        d.filter(col("doc_id") <= IncrSplitId2), minLen = SubstrLen, k = SubstrK)
      Dedup.substringPairsIncremental(stored,
        d.filter(col("doc_id") > IncrSplitId2), d,
        minLen = SubstrLen, k = SubstrK)
    }),

    // unigram LM surprisal: the CCNet-style fluency score — mean
    // -ln p(token) under the corpus's own add-one unigram model, every
    // ln a pinned series in integer fixed point (order-free sums)
    "q99_lm_surprisal" -> ((s, dir) =>
      LmScore.unigramSurprisal(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")))),

    // bigram surprisal with stupid backoff, model trained on the first
    // half of the corpus and scoring everything — transitions unseen in
    // the reference exercise the backoff path; every probability a pure
    // ratio, so every ln is an integer pinned series
    "q103_bigram_surprisal" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      LmScore.bigramSurprisal(d,
        reference = Some(d.filter(col("doc_id") <= IncrSplitId2)))
    }),

    // trigram surprisal with two-level stupid backoff, trained on the
    // same first-half reference as q103 — positions unseen at the
    // trigram level fall to the bigram ratio, unseen bigrams to the
    // add-one unigram floor, so all three branches are value-checked
    "q152_trigram_surprisal" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      LmScore.trigramSurprisal(d,
        reference = Some(d.filter(col("doc_id") <= IncrSplitId2)))
    }),

    // incremental trigram-LM state: gram counts are sum-mergeable, so
    // state(first half) + increment(second half) scores every doc
    // EXACTLY like a model trained on the whole corpus in one shot —
    // the oracle replays the one-shot form (the q143 pattern); stored
    // shards never retokenize on ingest
    "q153_trigram_incremental" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val st0 = LmScore.trigramState(d.filter(col("doc_id") <= IncrSplitId2))
      val st = LmScore.incrementTrigramState(st0,
        d.filter(col("doc_id") > IncrSplitId2))
      LmScore.trigramSurprisalFromState(d, st)
    }),

    // tokenizer-aware packing: whitespace vs vocab-driven greedy
    // longest-match ("BPE-ish") token counts, and the chunk budgets each
    // implies — the honest packing math when a real tokenizer splits
    // words into pieces
    "q97_bpe_packing" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Packing.greedyTokenCounts(docs, Packing.bpePieces(docs, "text",
          minN = 2, maxN = 4, k = BpeVocabK), maxWordLen = BpeMaxWordLen)
        .select(col("doc_id"), col("n_tokens_ws"), col("n_tokens_bpe"),
          expr(s"(n_tokens_ws + ${BpeBudget - 1}) div $BpeBudget").as("chunks_ws"),
          expr(s"(n_tokens_bpe + ${BpeBudget - 1}) div $BpeBudget").as("chunks_bpe"))
    }),

    // REAL BPE training (vs q97's frequency-ranked approximation): the
    // iterative pair-merge loop over the corpus's distinct-word domain,
    // emitting the merge table a tokenizer would ship. The oracle
    // replays all BpeMerges rounds as unrolled CTEs — count pairs,
    // argmax, rewrite — so every learned merge is value-checked
    "q104_bpe_merge_table" -> ((s, dir) =>
      Packing.bpeMergeTable(s.read.parquet(s"$dir/documents.parquet"),
        nMerges = BpeMerges)),

    // TOKENIZED OUTPUT: the actual token-id sequences the training
    // shards need (q97 counts pieces, q104 trains merges; this
    // materializes the ids) — greedy longest-match over the
    // q104-trained merge inventory, <sp>-separated words, char-id
    // fallback; PackingSpec pins decode(encode(x)) == normalized x.
    // CONTRACT SURFACE: the ids array crosses as its canonical
    // space-joined digit string — the driver's checker sorts rows with
    // pandas, and raw array cells crash its lexsort (round 11; the
    // round-10 DECIMAL lesson one type up). The API (`encodeToIds`)
    // keeps returning array<int>; only the contract projection flattens.
    "q136_encode_ids" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      Packing.encodeToIds(d, Packing.bpeMergeTable(d, nMerges = BpeMerges),
        maxWordLen = BpeMaxWordLen)
        .select(col("doc_id"), array_join(col("ids"), " ").as("ids_str"),
          col("n_ids"))
    }),

    // bisection probe for q136: counts only, no id content — if the
    // driver is ever red on q136 but green here, the fault is id VALUES;
    // red on both means encode structure (word split / row survival)
    "q136a_encode_ids_counts" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      Packing.encodeToIds(d, Packing.bpeMergeTable(d, nMerges = BpeMerges),
        maxWordLen = BpeMaxWordLen)
        .select(col("doc_id"), col("n_ids"))
    }),

    // the packed trainable artifact: id stream in doc order with <doc>
    // boundaries, fixed-length rows, <pad> tail — global offsets via the
    // q42 two-phase prefix sum, never an unpartitioned window. Same
    // contract flattening as q136: ids cross as the canonical string.
    "q137_pack_ids" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      Packing.packTokenRows(
        Packing.encodeToIds(d, Packing.bpeMergeTable(d, nMerges = BpeMerges),
          maxWordLen = BpeMaxWordLen),
        seqLen = PackSeqLen)
        .select(col("row_id"), array_join(col("ids"), " ").as("ids_str"),
          col("n_pad"))
    }),

    // INCREMENTAL packing: pack the first half, append the second as a
    // shard — only the shard computes offsets, the stored tail row
    // re-opens, and head + replacement tail equals the one-shot q137
    // bit-for-bit (frozen merge table — the frozen-quantizer discipline)
    "q140_pack_ids_incremental" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      // enc feeds BOTH halves (head pack + shard increment) — persist so
      // the BPE train + greedy encode run once, not once per half; head
      // feeds the tail descriptor, the increment, AND replaceTail's
      // stored side — same reasoning (all are id/ids metadata rows)
      val enc = Packing.encodeToIds(d,
        Packing.bpeMergeTable(d, nMerges = BpeMerges), maxWordLen = BpeMaxWordLen)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val head = Packing.packTokenRows(
        enc.filter(col("doc_id") <= IncrSplitId2), seqLen = PackSeqLen)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Packing.replaceTail(head,
        Packing.packTokenRowsIncremental(head,
          enc.filter(col("doc_id") > IncrSplitId2), seqLen = PackSeqLen))
        .select(col("row_id"), array_join(col("ids"), " ").as("ids_str"),
          col("n_pad"))
    }),

    // reproducible per-epoch training order: global rank of an
    // epoch-salted hash, two-phase (never an unpartitioned corpus window)
    "q105_epoch_shuffle" -> ((s, dir) =>
      Sampling.epochShuffle(s.read.parquet(s"$dir/documents.parquet"),
        epoch = ShuffleEpoch)),

    // the mixture planning table: per-source token inventory vs target
    // weights -> integer repetition factors (epochs_ppm)
    "q106_mixture_plan" -> ((s, dir) =>
      Sampling.mixturePlan(s.read.parquet(s"$dir/documents.parquet"),
        MixWeightsPpm, MixBudgetTokens)),

    // the plan APPLIED: every doc joins its source's integer repetition
    // factor and expands floor(epochs) copies + one content-hash-gated
    // fractional copy — q106's table materialized with q76's machinery;
    // one group-sized broadcast join + a row-local explode, zero shuffle
    "q179_apply_mixture_plan" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      Sampling.applyMixturePlan(d,
        Sampling.mixturePlan(d, MixWeightsPpm, MixBudgetTokens))
        .select(col("doc_id"), col("source"), col("epochs_ppm"),
          col("n_copies"), col("epoch"))
    }),

    // model-based filtering: NB log-odds trained on source-labeled seed
    // corpora, scoring ALL docs — the out-of-seed sources exercise the
    // neither-class OOV path, integer pinned-ln end to end
    "q108_nb_quality" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      graft.operators.QualityClassifier.nbLogOdds(d,
        positive = d.filter(col("source").isin(NbPosSources: _*)),
        negative = d.filter(col("source").isin(NbNegSources: _*)))
    }),

    // token-distribution drift per source: KL(P_source || P_corpus) in
    // nats, every ln a pinned integer series, the weighted sum in
    // DECIMAL(38,0) (BIGINT wraps once shard counts pass ~1e8).
    // Round-10's q109a probe localized the driver's hash divergence to
    // the DECIMAL(38,0) column itself (rows/schema green, local DuckDB
    // bit-for-bit), so the gated contract now carries the exact value as
    // a canonical digit STRING — one level further down the round-6
    // de-float discipline. DECIMAL stays API-side in LmScore.
    "q109_source_kl" -> ((s, dir) =>
      LmScore.sourceKlDrift(
        s.read.parquet(s"$dir/documents.parquet").select(col("source"), col("text")))
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          col("kl_fp").cast("string").as("kl_str"))),

    // bisection probe for q109 (the q65a/q65b precedent): the two-column
    // exact core — if q109 ever diverges on the driver gate again, this
    // row localizes whether a companion column or the value column is
    // the fault line
    "q109a_source_kl_probe" -> ((s, dir) =>
      LmScore.sourceKlDrift(
        s.read.parquet(s"$dir/documents.parquet").select(col("source"), col("text")))
        .select(col("source"), col("kl_fp").cast("string").as("kl_str"))),

    // second-level probe: the same exact value re-quantized to a bounded
    // BIGINT (floor millinats per token — integer floor division of
    // exact integers, scale-safe past BIGINT corpus sums). If the driver
    // gate ever reds kl_str while this stays green, the artifact itself
    // says the divergence is in big-number STRING canonicalization, not
    // the value; if both red, the value differs
    "q109b_source_kl_millinats" -> ((s, dir) =>
      LmScore.sourceKlDrift(
        s.read.parquet(s"$dir/documents.parquet").select(col("source"), col("text")))
        .select(col("source"), expr(KlMillinatsExpr).as("kl_millinats_per_token"))),

    // per-document TF-IDF keywords: top-5 terms by tf * (ln D - ln df),
    // exact integers end-to-end, ties to the lexicographically first term
    "q110_tfidf_terms" -> ((s, dir) =>
      LmScore.tfidfTopTerms(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")))),

    // top collocations by PMI: ln(c_uv N_uni^2 / (N_bi c_u c_v)) as five
    // pinned integer lns, min-count 3 against the hapax-pair degeneracy
    "q112_pmi_collocations" -> ((s, dir) =>
      LmScore.pmiCollocations(
        s.read.parquet(s"$dir/documents.parquet").select(col("text")))),

    // Gopher quality-rule bundle over synthetically multi-lined docs: the
    // corpus is one line per doc, so (the q75 injection trick) bullets,
    // an ellipsis line, and symbol noise are appended as pure functions
    // of doc_id before the rules run — every rule arm exercises
    "q118_gopher_rules" -> ((s, dir) => {
      val injected = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\n- alpha beta\n- gamma delta")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("\nto be continued...")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" ### anomaly #42 ...")).otherwise(lit("")))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id") +:
          TextFunctions.gopherRules(injected).map { case (n, c) => c.as(n) }: _*)
    }),

    // INCREMENTAL KL: build (group, word) count state on the first half,
    // fold in the second half (only the shard tokenizes), read the audit
    // off the merged state — equals the one-shot q109 bit-for-bit
    "q115_source_kl_incremental" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))
      val st0 = LmScore.klState(d.filter(col("doc_id") <= IncrSplitId2))
      LmScore.sourceKlFromState(
        LmScore.incrementKlState(st0, d.filter(col("doc_id") > IncrSplitId2)))
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          col("kl_fp").cast("string").as("kl_str"))
    }),

    // q108's calibration audit, part 1: confusion counts + exact-ppm
    // precision/recall/F1 at every candidate threshold against the seed
    // labels — the gate's operating point is read off this table, not
    // hardcoded at > 0
    "q120_nb_calibration" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      val seeds = d.filter(col("source").isin((NbPosSources ++ NbNegSources): _*))
        .withColumn("label", col("source").isin(NbPosSources: _*).cast("int"))
      graft.operators.QualityClassifier.thresholdSweep(seeds,
        positive = d.filter(col("source").isin(NbPosSources: _*)),
        negative = d.filter(col("source").isin(NbNegSources: _*)),
        thresholdsFp = NbSweepThresholdsFp)
    }),

    // HASHED-feature NB (q108 in the DSIR feature space): unigrams AND
    // word-bigrams hashed into a fixed bucket table — phrase signal the
    // unigram bag cannot see, model bounded at `buckets` rows at any
    // corpus size (the broadcast-at-100TB property). Same pinned-integer
    // math over the observed-bucket union vocabulary
    "q147_nb_hashed" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      graft.operators.QualityClassifier.nbLogOddsHashed(d,
        positive = d.filter(col("source").isin(NbPosSources: _*)),
        negative = d.filter(col("source").isin(NbNegSources: _*)),
        buckets = DsirBuckets)
    }),

    // q120's calibration sweep re-run over the hashed-feature scores —
    // the operating-point table for the richer feature space
    "q148_nb_hashed_calibration" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      val seeds = d.filter(col("source").isin((NbPosSources ++ NbNegSources): _*))
        .withColumn("label", col("source").isin(NbPosSources: _*).cast("int"))
      graft.operators.QualityClassifier.thresholdSweepHashed(seeds,
        positive = d.filter(col("source").isin(NbPosSources: _*)),
        negative = d.filter(col("source").isin(NbNegSources: _*)),
        thresholdsFp = NbSweepThresholdsFp, buckets = DsirBuckets)
    }),

    // CHAR-n-gram NB (the fastText subword idea): every 3-char window of
    // the normalized token stream, hashed — a misspelled/inflected word
    // still shares most windows with its seed form where whole-word
    // features OOV to the bare prior; same bounded broadcast model
    "q149_nb_chargram" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      graft.operators.QualityClassifier.nbLogOddsCharNgram(d,
        positive = d.filter(col("source").isin(NbPosSources: _*)),
        negative = d.filter(col("source").isin(NbNegSources: _*)),
        n = 3, buckets = DsirBuckets)
    }),

    // reciprocal-rank fusion of two curation signals — NB quality
    // log-odds and host PageRank authority: the rank-only consensus that
    // needs no cross-signal score calibration. Each signal cuts to its
    // top-RrfListDepth via TakeOrdered (never a global corpus sort);
    // contributions are integer 1e9 div (60 + rank), the fuse one
    // combinable BIGINT sum
    "q160_rrf_fusion" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      val nb = graft.operators.QualityClassifier.nbLogOdds(d,
          positive = d.filter(col("source").isin(NbPosSources: _*)),
          negative = d.filter(col("source").isin(NbNegSources: _*)))
        .select(col("doc_id"), col("logodds_fp").as("score_fp"))
      val ranks = graft.operators.PageRank.rank(
        d.select(expr("doc_id div 16").as("src"),
            expr("(doc_id + 21) div 16").as("dst"))
          .unionByName(d.select(expr("doc_id div 16").as("src"),
            expr("(doc_id * 3 + 5) div 16").as("dst"))),
        iters = TrainingDataQueries.PrIters)
      val auth = d.select(col("doc_id"), expr("doc_id div 16").as("host"))
        .join(ranks, "host")
        .select(col("doc_id"), col("rank_ppm").as("score_fp"))
      graft.operators.Fusion.reciprocalRankFusion(Seq(nb, auth), m = RrfListDepth)
    }),

    // per-HOST quality rollup — the domain-level gate a crawler blocks
    // on (one bad page is noise, a bad domain is policy): mean NB
    // log-odds (exact floor of the BIGINT sum) + positive share per host
    "q164_host_quality" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      val scored = graft.operators.QualityClassifier.nbLogOdds(d,
          positive = d.filter(col("source").isin(NbPosSources: _*)),
          negative = d.filter(col("source").isin(NbNegSources: _*)))
        .withColumn("host", expr("doc_id div 16"))
      graft.operators.QualityClassifier.groupQuality(scored, "host")
    }),

    // part 2: per-source drift of the SCORE distribution (whole-nat
    // histogram TV vs rest) over ALL sources — a source whose scores
    // depart from the corpus is different quality or miscalibrated domain
    "q121_nb_score_drift" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      graft.operators.QualityClassifier.scoreDrift(d,
        positive = d.filter(col("source").isin(NbPosSources: _*)),
        negative = d.filter(col("source").isin(NbNegSources: _*)))
    }),

    // DSIR importance resampling (Xie et al. 2023): hashed-n-gram
    // importance weights of every doc against the q108 seed sources as
    // the target distribution, then a Gumbel-top-k sample — inclusion
    // odds proportional to the weight, noise deterministic from the
    // content hash via a DOUBLE application of the pinned integer ln
    // (G = -ln(-ln u) with both lns on integers), so the sample itself
    // is engine-exact
    "q123_dsir_resample" -> ((s, dir) =>
      Dsir.resampleFromCorpus(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("source")),
        targetPred = col("source").isin(NbPosSources: _*),
        n = DsirSampleN, buckets = DsirBuckets)),

    // C4 cleaning bundle (Raffel et al. 2020): LINE-level removal rules
    // (terminal punctuation, >= 5 words, javascript, cookie/policy
    // boilerplate) + the page drops (< 3 kept lines, lorem ipsum, curly
    // brace), all row-local; the doc_id-keyed injections exercise every
    // arm and the cleaned text is part of the gated contract
    "q124_c4_rules" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id") +:
          TextFunctions.c4Rules(c4Injected).map { case (n, c) => c.as(n) }: _*)),

    // the CONTAMINATION verdict: all four leak gates — verbatim n-gram
    // (q45), substring (q98), MinHash fuzzy (q127), embedding-space
    // (q116) — joined into one per-train-doc report with a method bitmask
    // (1=ngram, 2=substring, 4=fuzzy, 8=embedding). ONE bench/train split
    // (ids <= 100 = benchmark) across every method; the pre-release audit
    // a team actually runs before an eval claim
    "q134_contamination_verdict" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Verdicts.contaminationVerdict(
        train = d.filter(col("doc_id") > ContamSplitId),
        bench = d.filter(col("doc_id") <= ContamSplitId),
        trainEmb = Some(e.filter(col("vec_id") > ContamSplitId)),
        benchEmb = Some(e.filter(col("vec_id") <= ContamSplitId)),
        minLen = SubstrLen, k = SubstrK,
        fuzzyThreshold = 0.5, embedThreshold = 0.3)
    }),

    // snapshot diff: old = ids <= 400, new = ids > 100 with every 50th
    // doc's text edited — added/removed/changed/unchanged by content
    // hash, the audit between two dataset versions (the q34 versioned
    // table's time-travel companion)
    "q133_snapshot_diff" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      graft.operators.SnapshotDiff.diff(
        d.filter(col("doc_id") <= 400),
        d.filter(col("doc_id") > 100).withColumn("text",
          when(col("doc_id") % 50 === 0, concat(col("text"), lit(" [edited]")))
            .otherwise(col("text"))))
    }),

    // the END-TO-END curation VERDICT: every filter family this library
    // ships — Gopher document rules, C4 line rules, the NB seed-trained
    // quality model, intrinsic entropy, exact dedup — joined into one
    // keep/drop decision per doc with a failure BITMASK saying WHY
    // (1=gopher, 2=c4, 4=nb, 8=entropy, 16=duplicate). The operator a
    // production pipeline actually gates on; every component integer-exact
    "q132_curation_verdict" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), verdictInjected.as("text"), col("source"))
      graft.operators.Verdicts.curationVerdict(d,
        positive = d.filter(col("source").isin(NbPosSources: _*)),
        negative = d.filter(col("source").isin(NbNegSources: _*)))
    }),

    // SPAN-REMOVAL substring dedup (Lee et al. 2022 apply side): verbatim
    // >= 48-char passages also present in an EARLIER doc are cut from the
    // later one; first occurrence keeps its text. Interval merge and the
    // rebuild are integer-exact, so the cleaned TEXT itself is hash-gated
    "q131_substring_remove" -> ((s, dir) =>
      Dedup.substringRemove(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")),
        minLen = SubstrLen, k = SubstrK)),

    // C4-style blocklist screen: token-exact category word/phrase counts
    // (1/2/3-gram windows) + the any-hit page gate; the doc_id-keyed
    // injections exercise every category and the multi-category overlap
    "q130_blocklist_screen" -> ((s, dir) =>
      graft.operators.Blocklist.screenRollup(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), blockInjected.as("text")),
        BlockCats)),

    // intrinsic token-distribution stats: per-doc Shannon entropy of the
    // doc's own unigram counts plus type-token ratio — the model-free
    // repetitiveness gate (generator loops score near zero nats however
    // fluent each phrase is); every ln a pinned integer series
    "q129_token_entropy" -> ((s, dir) =>
      LmScore.tokenEntropy(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")))),

    // CCNet perplexity buckets (Wenzek et al. 2020): mean surprisal under
    // a unigram model of the clean seed sources, then per-LANGUAGE
    // head/middle/tail tiers at exact integer-millinat thresholds — the
    // classic "keep the head, inspect the middle, drop the tail" mixing
    // knob, with every cut point a type-1 quantile both engines replay
    "q126_perplexity_buckets" -> ((s, dir) =>
      LmScore.perplexityBuckets(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("text")),
        reference = s.read.parquet(s"$dir/documents.parquet")
          .filter(col("source").isin(NbPosSources: _*)).select(col("text")),
        nBuckets = 3))
  )

  /** q123's hashed-feature dimensionality and sample size. */
  private val DsirBuckets = 4096
  private val DsirSampleN = 200

  /** q124's injected lines (the q118 trick: the corpus is one line per
    * doc, so every C4 rule arm is exercised by appending fragments as
    * pure functions of doc_id) — ONE table generating BOTH the Spark
    * concat and the oracle's CASE chain, so the twins cannot drift.
    * Order matters (the lorem fragment attaches to whatever line is
    * last); applied ascending.
    */
  private val C4InjFrags: Seq[(Int, String)] = Seq(
    2 -> "\nShort line.",
    3 -> "\nThis synthetic sentence has exactly seven words.",
    4 -> "\nPlease enable javascript to continue reading this article.",
    5 -> "\nWe updated our privacy policy to comply with regulations.",
    6 -> ("\nAlpha beta gamma delta epsilon one." +
      "\nAlpha beta gamma delta epsilon two." +
      "\nAlpha beta gamma delta epsilon three."),
    7 -> " lorem ipsum",
    11 -> "\nfunction f() { return 0; }")

  private def c4Injected: Column = concat(
    col("text") +: C4InjFrags.map { case (m, f) =>
      when(col("doc_id") % m === 0, lit(f)).otherwise(lit(""))
    }: _*)

  private def c4InjectedSql: String =
    "text" + C4InjFrags.map { case (m, f) =>
      val sqlF = f.split("\n", -1).map(p => s"'$p'").mkString(" || chr(10) || ")
      s" || CASE WHEN doc_id % $m = 0 THEN $sqlF ELSE '' END"
    }.mkString

  /** q130's category blocklist (stand-in policy lists: production swaps in
    * LDNOOBW or per-category keyword lists) and the doc_id-keyed injected
    * fragments — ONE table generating BOTH the Spark concat and the
    * oracle's CASE chain. doc_id % 91 == 0 hits two categories at once.
    */
  private val BlockCats: Seq[(String, String)] = Seq(
    "gambling" -> "casino", "gambling" -> "jackpot",
    "pharma" -> "cheap pills", "pharma" -> "pharmacy",
    "spam" -> "click here", "spam" -> "free money now")

  private val BlockInjFrags: Seq[(Int, String)] = Seq(
    7 -> " visit our casino jackpot casino tonight",
    11 -> " buy cheap pills from a licensed pharmacy",
    13 -> " click here for free money now")

  private def blockInjected: Column = concat(
    col("text") +: BlockInjFrags.map { case (m, f) =>
      when(col("doc_id") % m === 0, lit(f)).otherwise(lit(""))
    }: _*)

  private def blockInjectedSql: String =
    "text" + BlockInjFrags.map { case (m, f) =>
      s" || CASE WHEN doc_id % $m = 0 THEN '$f' ELSE '' END"
    }.mkString

  /** q132's CONSTANT clean-page suffix: three terminal-punctuated >= 5-word
    * lines carrying >= 2 Gopher stopwords — the raw one-line synthetic
    * corpus fails C4's min-kept-lines and Gopher's stopword rule
    * wholesale, which would collapse the verdict to all-drop; a constant
    * suffix (same for every doc, so exact-dup groups are preserved) turns
    * the ensemble into a real split where each component decides.
    */
  private val VerdictSuffix: String =
    "\nThe editors have reviewed this report with care and attention." +
      "\nWe hope that you find the coverage to be useful and fair." +
      "\nPlease share the story of the day with friends and family."

  private def verdictInjected: Column = concat(col("text"), lit(VerdictSuffix))

  private def verdictInjectedSql: String =
    "text || " + VerdictSuffix.split("\n", -1).drop(1)
      .map(l => s"chr(10) || '$l'").mkString(" || ")

  /** q108's seed-label split: sources standing in for a curated-positive
    * and a rejected-negative labeling; the remaining 14 sources are
    * scored unseen.
    */
  private val NbPosSources = Seq("src0", "src1", "src2")
  private val NbNegSources = Seq("src3", "src4", "src5")

  /** q120's candidate decision thresholds: -2..2 nats in half-nat steps,
    * as 1e-9 fixed point like `logodds_fp`.
    */
  private val NbSweepThresholdsFp: Seq[Long] = (-4 to 4).map(_ * 500000000L)

  /** q160's per-signal RRF list depth — deep enough that the two lists
    * only partially overlap (docs on one list, both, or neither all
    * occur), shallow enough that the union stays a clearly bounded cut.
    */
  private val RrfListDepth = 100

  private def nbSrcList(ss: Seq[String]): String =
    ss.map(s => s"'$s'").mkString(", ")

  /** The NB scoring replay shared by q108/q120/q121: union vocab, pinned-ln
    * word weights, one-row constants, the all-integer per-doc fold — ending
    * at `sc(doc_id, source, n_tokens, logodds_fp)`. WITH-body only (no
    * prefix), so callers append their own tail CTEs.
    */
  private lazy val nbScoreCtesSql: String = nbScoreCtesSqlOver("documents")

  /** [[nbScoreCtesSql]] over an arbitrary (doc_id, source, text) relation
    * — q132 scores an injected-text CTE; everyone else uses the
    * `documents` default above.
    */
  private def nbScoreCtesSqlOver(rel: String): String = {
    def steps(p: String, x: String): String =
      graft.functions.PinnedMath.lnFpSteps(p, x)
        .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
    s"""pos AS (SELECT text FROM $rel WHERE source IN (${nbSrcList(NbPosSources)})),
       |neg AS (SELECT text FROM $rel WHERE source IN (${nbSrcList(NbNegSources)})),
       |ptf AS (SELECT w, CAST(count(*) AS BIGINT) AS tfp
       |  FROM (SELECT unnest($toksSql) AS w FROM pos) GROUP BY w),
       |ntf AS (SELECT w, CAST(count(*) AS BIGINT) AS tfn
       |  FROM (SELECT unnest($toksSql) AS w FROM neg) GROUP BY w),
       |vocab AS (SELECT coalesce(ptf.w, ntf.w) AS w,
       |  coalesce(tfp, 0) AS tfp, coalesce(tfn, 0) AS tfn
       |  FROM ptf FULL JOIN ntf ON ptf.w = ntf.w),
       |ww AS (SELECT w, ${steps("lp", "(tfp + 1)")}, ${steps("lq", "(tfn + 1)")} FROM vocab),
       |wv AS (SELECT w, lp_lnfp - lq_lnfp AS wfp FROM ww),
       |cn AS (SELECT CAST(sum(tfp) + count(*) AS BIGINT) AS __npv,
       |  CAST(sum(tfn) + count(*) AS BIGINT) AS __nnv FROM vocab),
       |dc AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM pos) AS __dp,
       |  (SELECT CAST(count(*) AS BIGINT) FROM neg) AS __dn),
       |k AS (SELECT ${steps("la", "__npv")}, ${steps("lb", "__nnv")},
       |  ${steps("lc", "__dp")}, ${steps("ld", "__dn")} FROM cn CROSS JOIN dc),
       |kk AS (SELECT lb_lnfp - la_lnfp AS pertok_fp, lc_lnfp - ld_lnfp AS prior_fp FROM k),
       |dt AS (SELECT doc_id, unnest($toksSql) AS w FROM $rel),
       |pd AS (SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(coalesce(wv.wfp, 0)) AS BIGINT) AS s
       |  FROM dt LEFT JOIN wv USING (w) GROUP BY dt.doc_id),
       |sc AS (SELECT d.doc_id, d.source,
       |  CAST(coalesce(pd.n, 0) AS BIGINT) AS n_tokens,
       |  CAST(kk.prior_fp + coalesce(pd.n, 0) * kk.pertok_fp + coalesce(pd.s, 0) AS BIGINT) AS logodds_fp
       |  FROM $rel d LEFT JOIN pd ON d.doc_id = pd.doc_id CROSS JOIN kk)""".stripMargin
  }

  /** The HASHED-feature NB scoring replay (q147/q148): q108's union-vocab
    * FULL-JOIN chain with the word domain swapped for q123's hashed
    * unigram+bigram bucket domain — feature generation and the
    * polyHash-mod bucketing are copied verbatim from the q123 twin, so
    * the two oracles cannot drift apart on what a "feature" is.
    */
  private lazy val nbHashedScoreCtesSql: String = nbBucketScoreCtes(
    s"""t AS (SELECT doc_id, source, $toksSql AS w FROM documents),
       |fb AS (SELECT doc_id, source, ${polyHashSql("f")} % $DsirBuckets AS b
       |  FROM (SELECT doc_id, source, unnest(list_concat(w,
       |    list_transform(range(1, len(w)), bi -> w[bi] || ' ' || w[bi + 1]))) AS f FROM t))""".stripMargin)

  /** q149's feature CTEs: char 3-gram windows of the normalized token
    * stream (tokens re-joined by single spaces — the Spark side's
    * array_join), the winnowFpSql LATERAL-range idiom; texts shorter
    * than 3 chars contribute no rows, matching the Spark guard.
    */
  private lazy val nbCharNgramScoreCtesSql: String = nbBucketScoreCtes(
    s"""t AS (SELECT doc_id, source, $toksSql AS w FROM documents),
       |nrm AS (SELECT doc_id, source, array_to_string(w, ' ') AS s FROM t),
       |fb AS (SELECT doc_id, source,
       |  ${polyHashSql("substr(s, CAST(i AS INT), 3)")} % $DsirBuckets AS b
       |  FROM nrm, LATERAL (SELECT unnest(range(1, len(s) - 1)) AS i) ix
       |  WHERE len(s) >= 3)""".stripMargin)

  /** The NB scoring chain over ANY `fb(doc_id, source, b)` feature CTE —
    * shared by the word-bigram (q147/q148) and char-n-gram (q149)
    * twins, so the feature space is the only thing that can differ.
    */
  private def nbBucketScoreCtes(featureCtes: String): String = {
    def steps(p: String, x: String): String =
      graft.functions.PinnedMath.lnFpSteps(p, x)
        .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
    s"""$featureCtes,
       |ptf AS (SELECT b, CAST(count(*) AS BIGINT) AS tfp FROM fb
       |  WHERE source IN (${nbSrcList(NbPosSources)}) GROUP BY b),
       |ntf AS (SELECT b, CAST(count(*) AS BIGINT) AS tfn FROM fb
       |  WHERE source IN (${nbSrcList(NbNegSources)}) GROUP BY b),
       |vocab AS (SELECT coalesce(ptf.b, ntf.b) AS b,
       |  coalesce(tfp, 0) AS tfp, coalesce(tfn, 0) AS tfn
       |  FROM ptf FULL JOIN ntf ON ptf.b = ntf.b),
       |ww AS (SELECT b, ${steps("lp", "(tfp + 1)")}, ${steps("lq", "(tfn + 1)")} FROM vocab),
       |wv AS (SELECT b, lp_lnfp - lq_lnfp AS wfp FROM ww),
       |cn AS (SELECT CAST(sum(tfp) + count(*) AS BIGINT) AS __npv,
       |  CAST(sum(tfn) + count(*) AS BIGINT) AS __nnv FROM vocab),
       |dc AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents
       |    WHERE source IN (${nbSrcList(NbPosSources)})) AS __dp,
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents
       |    WHERE source IN (${nbSrcList(NbNegSources)})) AS __dn),
       |k AS (SELECT ${steps("la", "__npv")}, ${steps("lb", "__nnv")},
       |  ${steps("lc", "__dp")}, ${steps("ld", "__dn")} FROM cn CROSS JOIN dc),
       |kk AS (SELECT lb_lnfp - la_lnfp AS pertok_fp, lc_lnfp - ld_lnfp AS prior_fp FROM k),
       |pd AS (SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(coalesce(wv.wfp, 0)) AS BIGINT) AS s
       |  FROM fb LEFT JOIN wv USING (b) GROUP BY fb.doc_id),
       |sc AS (SELECT d.doc_id, d.source,
       |  CAST(coalesce(pd.n, 0) AS BIGINT) AS n_feats,
       |  CAST(kk.prior_fp + coalesce(pd.n, 0) * kk.pertok_fp + coalesce(pd.s, 0) AS BIGINT) AS logodds_fp
       |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id CROSS JOIN kk)""".stripMargin
  }

  /** The q90 grouped-TV-drift tail parameterized over its input: per-bin
    * HUGEINT term, absent-bin closed form, pinned exact-ppm division —
    * `v0Body` must yield `(g, x)`.
    */
  private def tvDriftOracleSql(prefixCtes: String, v0Body: String,
      precision: Int, groupName: String): String =
    s"""WITH $prefixCtes,
       |v0 AS ($v0Body),
       |h AS (SELECT g, round(x, $precision) AS v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM v0 WHERE x IS NOT NULL GROUP BY g, v),
       |tot AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS cnt_all FROM h GROUP BY v),
       |ng AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_group FROM h GROUP BY g),
       |na AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM h),
       |t AS (SELECT h.g, h.cnt, tot.cnt_all, ng.n_group, na.n_total,
       |  abs(CAST(h.cnt AS HUGEINT) * (na.n_total - ng.n_group)
       |    - CAST(tot.cnt_all - h.cnt AS HUGEINT) * ng.n_group) AS term
       |  FROM h JOIN tot USING (v)
       |  JOIN ng ON h.g IS NOT DISTINCT FROM ng.g CROSS JOIN na)
       |SELECT g AS $groupName,
       |  CAST(max(n_group) AS BIGINT) AS n_group,
       |  CAST(max(n_total) - max(n_group) AS BIGINT) AS n_rest,
       |  CAST((2000000 * (sum(term)
       |        + CAST(max(n_total) - sum(cnt_all) AS HUGEINT) * max(n_group))
       |        + 2 * CAST(max(n_group) AS HUGEINT) * (max(n_total) - max(n_group)))
       |    // (4 * CAST(max(n_group) AS HUGEINT) * (max(n_total) - max(n_group))) AS DOUBLE) / 1000000 AS tv_vs_rest
       |FROM t GROUP BY g
       |HAVING max(n_total) - max(n_group) > 0""".stripMargin

  /** q83's containment threshold. */
  private val ContainThreshold = 0.6

  /** q95's substring-dedup contract: report doc pairs sharing a verbatim
    * passage of >= SubstrLen chars, anchored on SubstrK-grams (winnowing
    * window w = len - k + 1 = 33). 48 chars sits below the corpus's
    * shortest doc and well above shingle width — the probe that found
    * ~5.4k shared 48-char grams at sf0.01 confirms the relation is real.
    */
  private val SubstrLen = 48
  private val SubstrK = 16

  /** q98's train/benchmark id split (bench = doc_id <= this). */
  private val ContamSplitId = 100L

  /** q100's stored-vs-new-shard id split. */
  private val IncrSplitId2 = 250L

  /** q109b's bounded re-quantization: floor(kl_fp / (n_tokens * 1e6)) =
    * per-token millinats as a BIGINT. Both engines' `div`/`//` truncate
    * toward zero and `%` carries the dividend's sign (verified on DuckDB
    * 1.0.0), so floor division is spelled as the identical
    * truncate-then-adjust CASE on both sides. n_tokens is widened to
    * DECIMAL before the *1e6 so the divisor can't wrap BIGINT on a
    * ~1e13-token source.
    */
  private val KlMillinatsExpr: String = {
    val d = "(CAST(n_tokens AS DECIMAL(38,0)) * 1000000)"
    s"""CAST(CASE WHEN kl_fp < 0 AND kl_fp % $d != 0
       | THEN kl_fp div $d - 1 ELSE kl_fp div $d END AS BIGINT)""".stripMargin
  }

  /** q101's sample size. */
  private val WeightedSampleN = 30

  /** q97's piece-vocabulary size and packing budget. */
  private val BpeVocabK = 40
  private val BpeBudget = 32

  /** q97's bounded greedy fold depth (>= the longest corpus word). */
  private val BpeMaxWordLen = 24

  /** q137's fixed training-row length. */
  private val PackSeqLen = 64

  /** The q104 merge replay as reusable CTE text (q136/q137 encode over
    * the same learned table): per round — pair counts from the
    * ||-fenced symbolization, lexicographic-tie argmax, replace-all
    * rewrite.
    */
  private lazy val bpeMergeCtesSql: String = {
    val steps = (1 to BpeMerges).map { i =>
      s"""p$i AS (SELECT pa, pb, CAST(sum(tf) AS BIGINT) AS pair_tf FROM (
         |  SELECT tf, s[i] AS pa, s[i + 1] AS pb
         |  FROM (SELECT tf, string_split(trim(r, '|'), '||') AS s FROM st${i - 1}) tt,
         |  LATERAL (SELECT unnest(range(1, len(s))) AS i) ii
         |) GROUP BY pa, pb),
         |b$i AS (SELECT CAST($i AS INT) AS step, pa, pb, pa || pb AS merged, pair_tf
         |  FROM p$i ORDER BY pair_tf DESC, pa ASC, pb ASC LIMIT 1),
         |st$i AS (SELECT tf,
         |  replace(r, '|' || pa || '||' || pb || '|', '|' || pa || pb || '|') AS r
         |  FROM st${i - 1} CROSS JOIN b$i)""".stripMargin
    }
    s"""wt AS (SELECT unnest($toksSql) AS w FROM documents),
       |wtf AS (SELECT w, CAST(count(*) AS BIGINT) AS tf FROM wt GROUP BY w),
       |st0 AS (SELECT tf, regexp_replace(w, '(.)', '||\\1', 'g') || '||' AS r FROM wtf),
       |${steps.mkString(",\n")}""".stripMargin
  }

  private lazy val bpeMergeUnionSql: String = (1 to BpeMerges)
    .map(i => s"SELECT step, pa, pb, merged, pair_tf FROM b$i")
    .mkString("\nUNION ALL\n")

  /** q136's encode replay: greedy longest-match ids per DISTINCT word
    * (integer-packed best-match table: len * 1e6 - id, max -> longest
    * piece then earliest merge), words joined with <sp>=2, char ids by
    * ascii arithmetic (a..z -> 3..28, 0..9 -> 29..38), merge ids
    * 38 + step — [[graft.operators.Packing]]'s exact id scheme.
    */
  private lazy val encodeIdsCtesSql: String = {
    def charId(pos: String): String =
      s"CASE WHEN ascii(substr(w, CAST($pos AS INT), 1)) >= 97 " +
        s"THEN ascii(substr(w, CAST($pos AS INT), 1)) - 94 " +
        s"ELSE ascii(substr(w, CAST($pos AS INT), 1)) - 19 END"
    val fold =
      s"""list_reduce(
         |  list_prepend(struct_pack(s := '', pos := 1),
         |    list_transform(range(1, ${BpeMaxWordLen + 1}),
         |      x -> struct_pack(s := '', pos := 0))),
         |  (a, b) -> CASE WHEN a.pos > length(w) THEN a ELSE struct_pack(
         |    s := a.s || ',' || CAST(CASE WHEN best[a.pos] > 0
         |      THEN ((best[a.pos] + 999999) // 1000000) * 1000000 - best[a.pos]
         |      ELSE ${charId("a.pos")} END AS VARCHAR),
         |    pos := CAST(a.pos + greatest(1, (best[a.pos] + 999999) // 1000000) AS INT)) END)""".stripMargin
    s"""$bpeMergeCtesSql,
       |mt AS ($bpeMergeUnionSql),
       |mpl AS (SELECT list(struct_pack(piece := merged, id := CAST(38 + step AS BIGINT))) AS mp FROM mt),
       |dw AS (SELECT DISTINCT w FROM wt),
       |pb AS (SELECT w, list_transform(range(1, length(w) + 1),
       |    i -> greatest(0, list_aggregate(list_transform(mp,
       |      p -> CASE WHEN substr(w, CAST(i AS INT), length(p.piece)) = p.piece
       |        THEN CAST(length(p.piece) AS BIGINT) * 1000000 - p.id ELSE 0 END), 'max'))) AS best
       |  FROM dw CROSS JOIN mpl),
       |pf AS (SELECT w, $fold AS f FROM pb),
       |pw AS (SELECT w, list_transform(string_split(substr(
       |    f.s || coalesce(list_aggregate(list_transform(range(f.pos, length(w) + 1),
       |      i -> ',' || CAST(${charId("i")} AS VARCHAR)), 'string_agg', ''), ''),
       |    2), ','), x -> CAST(x AS INT)) AS ids FROM pf),
       |dt AS (SELECT doc_id, unnest(l) AS w, unnest(generate_series(1, len(l))) AS pos
       |  FROM (SELECT doc_id, $toksSql AS l FROM documents)),
       |enc0 AS (SELECT dt.doc_id, flatten(list(list_append(pw.ids, 2) ORDER BY dt.pos)) AS fl
       |  FROM dt JOIN pw USING (w) GROUP BY dt.doc_id),
       |enc AS (SELECT d.doc_id, coalesce(e.fl[1:len(e.fl) - 1], CAST([] AS INT[])) AS ids
       |  FROM documents d LEFT JOIN enc0 e ON d.doc_id = e.doc_id)""".stripMargin
  }

  /** q104's merge-round count (each round unrolls into 3 oracle CTEs). */
  private val BpeMerges = 8

  /** q105's epoch number (any value works; pinned for the oracle). */
  private val ShuffleEpoch = 3

  /** q106's target mixture (ppm, sums to 0.9e6 — srcs 4+ are excluded
    * and must still appear in the plan with weight 0) and token budget.
    */
  private val MixWeightsPpm = Map(
    "src0" -> 400000L, "src1" -> 250000L, "src2" -> 150000L, "src3" -> 100000L)
  private val MixBudgetTokens = 1000000L

  /** q84's per-category sample size. */
  private val ExactN = 30

  /** q82's reference-vocabulary size. */
  private val OovVocabK = 20

  /** q80's stored-vs-shard id split. */
  private val IncrSplitId = 250L

  /** q146's stored-vs-shard key split (media ids are 2k/2k+1, so the
    * payload population splits cleanly at the doc-key boundary). */
  private val MediaSplitId = 250L

  // ---- bench-only tokenizer attribution twins -------------------------

  /** Materialize the frozen tokenizer-chain artifacts once per bench run
    * (trained merge table, encoded ids, packed head) so the b136/b137/
    * b140 twins below time ONE stage each. The q137/q140 contract
    * timings embed the 8-round BPE merge training — the honest
    * end-to-end cost, but it means a pack-only regression hides behind
    * training cost (exactly the q15-q17 dilution b15-b17 solved).
    * Production amortizes training via `App bpe-train`; the twins time
    * the amortized shape.
    */
  def materializeTokenizerArtifacts(s: SparkSession, dir: String,
                                    base: String): Unit = {
    val d = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    Packing.bpeMergeTable(d, nMerges = BpeMerges)
      .write.mode("overwrite").parquet(s"$base/merges")
    Packing.encodeToIds(d, s.read.parquet(s"$base/merges"),
      maxWordLen = BpeMaxWordLen)
      .write.mode("overwrite").parquet(s"$base/encoded")
    Packing.packTokenRows(
      s.read.parquet(s"$base/encoded").filter(col("doc_id") <= IncrSplitId2),
      seqLen = PackSeqLen)
      .write.mode("overwrite").parquet(s"$base/packed_head")
  }

  /** Bench-only attribution twins against [[materializeTokenizerArtifacts]]:
    * encode alone (frozen merges), pack alone (pre-encoded ids), and the
    * incremental tail-replacement alone (pre-packed head + pre-encoded
    * shard). NOT oracle-gated — q136/q137/q140 gate the same operators;
    * these split their cost by stage and stay out of the headline total.
    */
  def tokenizerAttribution(base: String): Map[String, (SparkSession, String) => DataFrame] = Map(
    "b136_encode_only" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      Packing.encodeToIds(d, s.read.parquet(s"$base/merges"),
        maxWordLen = BpeMaxWordLen)
    }),
    "b137_pack_only" -> ((s, _) =>
      Packing.packTokenRows(s.read.parquet(s"$base/encoded"),
        seqLen = PackSeqLen)),
    "b140_pack_incr_only" -> ((s, _) => {
      val head = s.read.parquet(s"$base/packed_head")
      Packing.replaceTail(head,
        Packing.packTokenRowsIncremental(head,
          s.read.parquet(s"$base/encoded").filter(col("doc_id") > IncrSplitId2),
          seqLen = PackSeqLen))
    }))

  // ---- bench-only LM attribution twins ---------------------------------

  /** Materialize trigram-LM state once per bench run (whole-corpus state
    * + the q153 half-corpus head) so the twins below time scoring and
    * shard ingest in isolation — q152/q153's contract timings retrain the
    * model inside the query (the honest end-to-end cost; `App
    * trigram-train` amortizes it), so a scoring regression hides behind
    * training cost, the b136-b140 dilution one family over.
    */
  def materializeLmState(s: SparkSession, dir: String, base: String): Unit = {
    val d = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    LmScore.trigramState(d)
      .write.mode("overwrite").parquet(s"$base/state_full")
    LmScore.trigramState(d.filter(col("doc_id") <= IncrSplitId2))
      .write.mode("overwrite").parquet(s"$base/state_head")
  }

  /** Bench-only attribution twins against [[materializeLmState]]: score
    * alone (frozen whole-corpus state — the `App trigram-score` shape)
    * and shard ingest alone (stored head state + the second-half shard).
    * NOT oracle-gated — q152/q153 gate the same operators; these split
    * train/ingest/score cost and stay out of the headline total.
    */
  def lmAttribution(base: String): Map[String, (SparkSession, String) => DataFrame] = Map(
    "b152_trigram_score_only" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      LmScore.trigramSurprisalFromState(d, s.read.parquet(s"$base/state_full"))
    }),
    "b153_trigram_ingest_only" -> ((s, dir) =>
      LmScore.incrementTrigramState(
        s.read.parquet(s"$base/state_head"),
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") > IncrSplitId2))))

  // ---- bench-only NB attribution twins ---------------------------------

  /** Materialize the trained NB models once per bench run (hashed and
    * char-n-gram weight/constant tables, plus the hashed-scored seeds for
    * the sweep twin) so the twins below time per-doc SCORING and the
    * calibration fan-out in isolation — q147/q148/q149's contract timings
    * retrain the model inside the query (the honest end-to-end cost;
    * production amortizes it via the nb*Model split), so a scoring
    * regression hides behind featurization+training cost, the b136-b140
    * dilution one family over. q149 was r13's most burst-exposed query
    * precisely because it had no twin to bisect with.
    */
  def materializeNbModel(s: SparkSession, dir: String, base: String): Unit = {
    val d = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val pos = d.filter(col("source").isin(NbPosSources: _*))
    val neg = d.filter(col("source").isin(NbNegSources: _*))
    val (hw, hc) = graft.operators.QualityClassifier.nbHashedModel(
      pos, neg, buckets = DsirBuckets)
    hw.write.mode("overwrite").parquet(s"$base/hashed_w")
    hc.write.mode("overwrite").parquet(s"$base/hashed_c")
    val (cw, cc) = graft.operators.QualityClassifier.nbCharNgramModel(
      pos, neg, n = 3, buckets = DsirBuckets)
    cw.write.mode("overwrite").parquet(s"$base/char_w")
    cc.write.mode("overwrite").parquet(s"$base/char_c")
    val seeds = d.filter(col("source").isin((NbPosSources ++ NbNegSources): _*))
      .withColumn("label", col("source").isin(NbPosSources: _*).cast("int"))
    graft.operators.QualityClassifier.nbLogOddsHashed(
        seeds, pos, neg, buckets = DsirBuckets)
      .write.mode("overwrite").parquet(s"$base/scored_seeds")
    seeds.select(col("doc_id"), col("label"))
      .write.mode("overwrite").parquet(s"$base/seed_labels")
    // corpus WORD-NB scores for the b160 fusion twin (q160's signal A)
    graft.operators.QualityClassifier.nbLogOdds(d, pos, neg)
      .select(col("doc_id"), col("logodds_fp").as("score_fp"))
      .write.mode("overwrite").parquet(s"$base/scored_corpus")
  }

  /** Bench-only attribution twin for q160: the RRF fuse alone, off
    * pre-materialized corpus NB scores ([[materializeNbModel]]) and
    * stored PageRank host ranks ([[TrainingDataQueries
    * .materializePageRank]]) — q160's contract timing re-runs NB training
    * AND the 5-iteration power iteration inside the query, so a
    * fusion-side regression would be diluted ~20:1 without this.
    */
  def fusionAttribution(nbBase: String, prBase: String): Map[String, (SparkSession, String) => DataFrame] = Map(
    "b160_rrf_only" -> ((s, dir) => {
      val auth = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), expr("doc_id div 16").as("host"))
        .join(s.read.parquet(s"$prBase/ranks"), "host")
        .select(col("doc_id"), col("rank_ppm").as("score_fp"))
      graft.operators.Fusion.reciprocalRankFusion(
        Seq(s.read.parquet(s"$nbBase/scored_corpus"), auth), m = RrfListDepth)
    }))

  /** Bench-only attribution twins against [[materializeNbModel]]: hashed
    * scoring alone (frozen weights+constants — the broadcast-model
    * production shape), the calibration sweep alone (pre-scored seeds),
    * and char-n-gram scoring alone. NOT oracle-gated — q147/q148/q149
    * gate the same operators; these split train vs score cost and stay
    * out of the headline total.
    */
  def nbAttribution(base: String): Map[String, (SparkSession, String) => DataFrame] = Map(
    "b147_nb_hashed_score_only" -> ((s, dir) =>
      graft.operators.QualityClassifier.nbScoreHashedFromModel(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")),
        s.read.parquet(s"$base/hashed_w"), s.read.parquet(s"$base/hashed_c"),
        buckets = DsirBuckets)),
    "b148_nb_sweep_only" -> ((s, _) =>
      graft.operators.QualityClassifier.thresholdSweepFromScores(
        s.read.parquet(s"$base/scored_seeds"),
        s.read.parquet(s"$base/seed_labels"),
        thresholdsFp = NbSweepThresholdsFp)),
    "b149_nb_chargram_score_only" -> ((s, dir) =>
      graft.operators.QualityClassifier.nbScoreCharNgramFromModel(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")),
        s.read.parquet(s"$base/char_w"), s.read.parquet(s"$base/char_c"),
        n = 3, buckets = DsirBuckets)))

  // ---- bench-only media attribution twins -----------------------------

  /** Materialize the media-dedup fixture payloads once per bench run
    * (real PNG+JPEG cards, WAV+AU tones, MJPEG-AVI clips as parquet) so
    * the twins below time fingerprint + pair join against STORED bytes —
    * the production shape, where payloads live in the lake and nobody
    * re-renders them per query. q96/q138/q145's contract timings encode
    * the fixture inside the query (the corpus ships no binary media), so
    * an operator regression hides behind ImageIO/PCM encode cost —
    * the same dilution b136-b140 solved for the tokenizer chain.
    */
  def materializeMediaFixtures(s: SparkSession, dir: String,
                               base: String): Unit = {
    val keys = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
    Multimodal.testCardMedia(keys, "doc_id")
      .write.mode("overwrite").parquet(s"$base/images")
    Multimodal.testToneMedia(keys, "doc_id")
      .write.mode("overwrite").parquet(s"$base/tones")
    Multimodal.testVideoMedia(keys, "doc_id")
      .write.mode("overwrite").parquet(s"$base/videos")
    // pre-built audio fingerprint STATE: the b138s twin times the pair
    // join with decode fully out of band (the q138 production shape)
    Multimodal.audioFingerprintState(s.read.parquet(s"$base/tones"))
      .write.mode("overwrite").parquet(s"$base/tone_state")
  }

  /** Bench-only attribution twins against [[materializeMediaFixtures]]:
    * each runs its modality's decode + fingerprint + pigeonhole join off
    * pre-materialized payload parquet. NOT oracle-gated — q96/q138/q145
    * gate the same operators; these split fixture-encode cost from
    * operator cost and stay out of the headline total.
    */
  def mediaAttribution(base: String): Map[String, (SparkSession, String) => DataFrame] = Map(
    "b96_image_pairs_only" -> ((s, _) =>
      Multimodal.perceptualImagePairs(s.read.parquet(s"$base/images"))),
    "b138_audio_pairs_only" -> ((s, _) =>
      Multimodal.perceptualAudioPairs(s.read.parquet(s"$base/tones"))),
    // b138 minus b138s attributes the decode: b138 decodes stored payload
    // bytes then joins; b138s joins pre-built (id, hash) state — the q138
    // contract's production shape with zero payload reads
    "b138s_audio_pairs_from_state" -> ((s, _) =>
      Multimodal.perceptualPairsFromState(s.read.parquet(s"$base/tone_state"))),
    "b145_video_pairs_only" -> ((s, _) =>
      Multimodal.perceptualVideoPairs(s.read.parquet(s"$base/videos"))))

  // ==== DuckDB oracle twins ============================================

  /** Winnowing fingerprint CTE chain over source CTE `src` (doc_id, text,
    * n), emitting `fp_$tag` (doc_id, text, n, h, apos) — shared by the
    * q95 and q98 twins; constants interpolated from [[graft.functions
    * .WinnowFingerprints]] so the selections cannot drift from the kernel.
    */
  private def winnowFpSql(tag: String, src: String): String = {
    val k = SubstrK; val w = SubstrLen - SubstrK + 1
    val posM = graft.functions.WinnowFingerprints.PosM
    s"""g_$tag AS (SELECT doc_id, text, n, CAST(i AS BIGINT) AS pos,
       |  ${polyHashSql(s"substr(text, CAST(i AS INT), $k)")} AS h
       |  FROM $src, LATERAL (SELECT unnest(range(1, n - $k + 2)) AS i) t),
       |sel_$tag AS (SELECT doc_id, text, n, pos,
       |  min(h * $posM + ($posM - pos)) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS mkey
       |  FROM g_$tag),
       |fp_$tag AS (SELECT DISTINCT doc_id, text, n,
       |  mkey // $posM AS h, $posM - (mkey % $posM) AS apos
       |  FROM sel_$tag WHERE pos >= $w)""".stripMargin
  }

  /** q75's redaction CTE chain, GENERATED from [[TextFunctions.PiiPatterns]]
    * — the same regex literals, the same order, counts on the same
    * intermediate text — so the twin cannot drift from the operator.
    */
  private def piiChainSql: String = {
    val steps = TextFunctions.PiiPatterns.zipWithIndex.map {
      case ((name, re, tok), i) =>
        s"""s${i + 1} AS (SELECT *,
           |  CAST(len(regexp_extract_all(t$i, '$re')) AS BIGINT) AS n_$name,
           |  regexp_replace(t$i, '$re', '$tok', 'g') AS t${i + 1} FROM s$i)""".stripMargin
    }
    (s"s0 AS (SELECT doc_id, $injectedPiiSql AS t0 FROM documents)" +: steps)
      .mkString(",\n")
  }

  /** The `(n DIV qDen) * qNum + ceil((n % qDen) * qNum / qDen)` type-1
    * rank, shared with [[Quantiles.thresholdFromHistogram]]'s expression.
    */
  private def rankSql(qNum: Long, qDen: Long): String =
    s"(n // $qDen) * $qNum + ((n % $qDen) * $qNum + ${qDen - 1L}) // $qDen"

  /** q74's full-recompute SQL — and, restricted to the shard ids, q80's
    * oracle (one definition, so the increment contract can never drift
    * from the batch twin).
    */
  private val segmentDedupSql: String =
    s"""WITH p0 AS (SELECT doc_id, string_split(text, '$SegDelim') AS l FROM documents),
       |p AS (SELECT doc_id, unnest(l) AS seg,
       |  unnest(generate_series(0, len(l) - 1)) AS pos FROM p0),
       |k AS (SELECT doc_id, seg, pos,
       |  row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn FROM p),
       |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |  string_agg(seg, '$SegDelim' ORDER BY pos) AS text_dedup
       |  FROM k WHERE rn = 1 GROUP BY doc_id)
       |SELECT p0.doc_id, CAST(len(p0.l) AS BIGINT) AS n_segments,
       |  coalesce(r.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       |  CAST(len(p0.l) AS BIGINT) - coalesce(r.n_kept, CAST(0 AS BIGINT)) AS n_dropped,
       |  coalesce(r.text_dedup, '') AS text_dedup
       |FROM p0 LEFT JOIN r ON p0.doc_id = r.doc_id""".stripMargin

  /** The KL-drift replay shared by q109/q109a/q109b/q115 (per-(group,
    * word) counts sum-merge exactly, so the incremental formulation
    * equals this one-shot audit): identical pinned-ln steps on the three
    * distinct domains, the weighted sum kept in HUGEINT — the gated
    * variants below re-emit it as a canonical digit VARCHAR or a bounded
    * BIGINT, never as DECIMAL (the round-10 driver-divergence finding).
    */
  private lazy val sourceKlCoreSql: String = {
    def steps(p: String, x: String): String =
      graft.functions.PinnedMath.lnFpSteps(p, x)
        .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
    s"""WITH gw0 AS (SELECT source AS g, unnest($toksSql) AS w FROM documents),
       |gw AS (SELECT g, w, CAST(count(*) AS BIGINT) AS tf_g FROM gw0 GROUP BY g, w),
       |wa AS (SELECT w, ${steps("lnw", "tf_all")}
       |  FROM (SELECT w, CAST(sum(tf_g) AS BIGINT) AS tf_all FROM gw GROUP BY w)),
       |gt AS (SELECT g, n_g, v_g, ${steps("lng", "n_g")}
       |  FROM (SELECT g, CAST(sum(tf_g) AS BIGINT) AS n_g,
       |    CAST(count(*) AS BIGINT) AS v_g FROM gw GROUP BY g)),
       |tt AS (SELECT ${steps("lnt", "n_all")}
       |  FROM (SELECT CAST(sum(tf_g) AS BIGINT) AS n_all FROM gw)),
       |t AS (SELECT g, w, tf_g, ${steps("lgw", "tf_g")} FROM gw),
       |term AS (SELECT t.g, gt.n_g, gt.v_g,
       |  CAST(t.tf_g AS HUGEINT)
       |    * (t.lgw_lnfp - gt.lng_lnfp - wa.lnw_lnfp + tt.lnt_lnfp) AS term
       |  FROM t JOIN wa USING (w) JOIN gt ON t.g = gt.g CROSS JOIN tt)
       |SELECT g AS source,
       |  CAST(max(n_g) AS BIGINT) AS n_tokens,
       |  CAST(max(v_g) AS BIGINT) AS n_distinct,
       |  sum(term) AS kl_hug
       |FROM term GROUP BY g""".stripMargin
  }

  /** q109/q115's gated shape: the exact HUGEINT as canonical digits. */
  private lazy val sourceKlOracleSql: String =
    s"""WITH base AS ($sourceKlCoreSql)
       |SELECT source, n_tokens, n_distinct,
       |  CAST(kl_hug AS VARCHAR) AS kl_str FROM base""".stripMargin

  /** q109a's two-column bisection core: same replay, kl_str only. */
  private lazy val sourceKlProbeOracleSql: String =
    s"""WITH base AS ($sourceKlCoreSql)
       |SELECT source, CAST(kl_hug AS VARCHAR) AS kl_str FROM base""".stripMargin

  /** q109b's BIGINT re-quantization: floor(kl / (n_tokens * 1e6)) —
    * `//` truncates toward zero in DuckDB (verified), so floor is the
    * same truncate-then-adjust CASE the Spark side uses.
    */
  private lazy val sourceKlMillinatsOracleSql: String =
    s"""WITH base AS ($sourceKlCoreSql)
       |SELECT source,
       |  CAST(CASE WHEN kl_hug < 0
       |      AND kl_hug % (CAST(n_tokens AS HUGEINT) * 1000000) != 0
       |    THEN kl_hug // (CAST(n_tokens AS HUGEINT) * 1000000) - 1
       |    ELSE kl_hug // (CAST(n_tokens AS HUGEINT) * 1000000)
       |  END AS BIGINT) AS kl_millinats_per_token
       |FROM base""".stripMargin

  /** q96's oracle: replay the perceptual-dedup output — including the
    * DECODE, not just the join — in pure SQL. This is possible because
    * the fixture is deterministic end-to-end: [[graft.operators.
    * Multimodal.renderTestCard]] paints 9x8 uniform blocks whose gray
    * level is an integer mix of (doc_id, cell); PNG decode is lossless,
    * so [[graft.operators.Multimodal.imageHashes]]'s integer grid means
    * recover those exact levels; and the card's >= 25-level
    * adjacent-cell margin means JPEG noise cannot flip a dHash
    * comparison — both encodings of a key carry the SAME dhash. The SQL
    * recomputes the splitmix-style mix with HUGEINT mod-2^64 arithmetic
    * (wrapping multiply via 32-bit halves; unsigned shifts as integer
    * division; xor on BIGINT halves), assembles dhash as (hi, lo)
    * 32-bit words (bit 63 would overflow a signed BIGINT literal sum),
    * and replays the 4x16-bit pigeonhole band join + Hamming filter. If
    * ImageIO, the JPEG round trip, or the band join ever disagree with
    * the model, the hash gate catches it.
    */
  private lazy val imageNearDupOracleSql: String = {
    val gold = java.lang.Long.toUnsignedString(0x9e3779b97f4a7c15L)
    val cHi = 0xbf58476d1ce4e5b9L >>> 32
    val cLo = 0xbf58476d1ce4e5b9L & 0xffffffffL
    val p32 = "4294967296"
    val p64 = "18446744073709551616"
    val p29 = "536870912"
    s"""WITH cells AS (SELECT CAST(range AS BIGINT) AS i FROM range(72)),
       |docs AS (SELECT CAST(doc_id AS BIGINT) AS k FROM documents),
       |m0 AS (SELECT k, i,
       |  (CAST(k AS HUGEINT)*1000003 + CAST(i AS HUGEINT)*$gold) % $p64 AS u0
       |  FROM docs CROSS JOIN cells),
       |m1 AS (SELECT k, i,
       |  CAST(xor(CAST(u0 // $p32 AS BIGINT), CAST((u0 // $p29) // $p32 AS BIGINT)) AS HUGEINT) * $p32
       |   + CAST(xor(CAST(u0 % $p32 AS BIGINT), CAST((u0 // $p29) % $p32 AS BIGINT)) AS HUGEINT) AS u1
       |  FROM m0),
       |m2 AS (SELECT k, i,
       |  ((u1 % $p32) * $cLo
       |   + (((u1 % $p32) * $cHi + (u1 // $p32) * $cLo) % $p32) * $p32) % $p64 AS u2
       |  FROM m1),
       |lvl AS (SELECT k, i,
       |  40 + (xor(CAST(u2 % $p32 AS BIGINT), CAST(u2 // $p32 AS BIGINT)) % 4) * 50
       |     + ((i % 9) % 2) * 25 AS b
       |  FROM m2),
       |dbits AS (
       |  SELECT l.k, (l.i // 9) * 8 + (l.i % 9) AS bit
       |  FROM lvl l JOIN lvl r ON r.k = l.k AND r.i = l.i + 1
       |  WHERE l.i % 9 < 8 AND r.b > l.b),
       |hashes AS (
       |  SELECT d.k,
       |    coalesce(sum(CASE WHEN bit < 32 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END), 0) AS dh_lo,
       |    coalesce(sum(CASE WHEN bit >= 32 THEN (CAST(1 AS BIGINT) << (bit - 32)) ELSE 0 END), 0) AS dh_hi
       |  FROM docs d LEFT JOIN dbits ON dbits.k = d.k GROUP BY d.k),
       |media AS (SELECT 2 * k AS id, dh_hi, dh_lo FROM hashes
       |          UNION ALL SELECT 2 * k + 1, dh_hi, dh_lo FROM hashes),
       |blk AS (SELECT id, dh_hi, dh_lo, b.blk,
       |   CASE b.blk WHEN 0 THEN dh_lo % 65536 WHEN 1 THEN dh_lo // 65536
       |              WHEN 2 THEN dh_hi % 65536 ELSE dh_hi // 65536 END AS key
       |   FROM media CROSS JOIN (VALUES (0),(1),(2),(3)) b(blk)),
       |pairs AS (SELECT DISTINCT a.id AS id_a, bb.id AS id_b,
       |    bit_count(xor(a.dh_hi, bb.dh_hi)) + bit_count(xor(a.dh_lo, bb.dh_lo)) AS hamming
       |  FROM blk a JOIN blk bb ON a.blk = bb.blk AND a.key = bb.key AND a.id < bb.id)
       |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM pairs WHERE hamming <= 3""".stripMargin
  }

  /** q152/q153's oracle: the full trigram stupid-backoff CTE chain.
    * `refWhere` restricts the TRAINING reference (q152: first half);
    * empty = whole corpus, the q153 incremental-state one-shot replay.
    */
  private def trigramSurprisalOracleSql(refWhere0: String): String = {
    val refWhere = if (refWhere0.isEmpty) "" else " " + refWhere0
    def steps(p: String, x: String): String =
      graft.functions.PinnedMath.lnFpSteps(p, x)
        .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
    s"""WITH rt AS (SELECT doc_id, $toksSql AS w FROM documents$refWhere),
         |st AS (SELECT doc_id, $toksSql AS w FROM documents),
         |wt AS (SELECT unnest(w) AS v FROM rt),
         |vocab AS (SELECT v, CAST(count(*) AS BIGINT) AS tf FROM wt GROUP BY v),
         |tot AS (SELECT CAST((sum(tf) + count(*)) * 25 AS BIGINT) AS __d25 FROM vocab),
         |lnd AS (SELECT ${steps("lnd", "__d25")} FROM tot),
         |rbg AS (SELECT unnest(list_transform(range(1, len(w)),
         |  bi -> w[bi] || ' ' || w[bi + 1])) AS bg FROM rt),
         |bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS cuv FROM rbg GROUP BY bg),
         |pre AS (SELECT split_part(bg, ' ', 1) AS u, CAST(sum(cuv) AS BIGINT) AS cu
         |  FROM bgc GROUP BY 1),
         |seen2 AS (SELECT bg, ${steps("l5cu", "(5 * cu)")}, ${steps("l2cuv", "(2 * cuv)")}
         |  FROM bgc JOIN pre ON split_part(bgc.bg, ' ', 1) = pre.u),
         |s2 AS (SELECT bg, CAST(l5cu_lnfp - l2cuv_lnfp AS BIGINT) AS s2_fp FROM seen2),
         |rtg AS (SELECT unnest(list_transform(range(1, len(w) - 1),
         |  ti -> w[ti] || ' ' || w[ti + 1] || ' ' || w[ti + 2])) AS tg FROM rt),
         |tgc AS (SELECT tg, CAST(count(*) AS BIGINT) AS c3 FROM rtg GROUP BY tg),
         |pre3 AS (SELECT split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS p2,
         |  CAST(sum(c3) AS BIGINT) AS c2x FROM tgc GROUP BY 1),
         |seen3 AS (SELECT tg, ${steps("lc2x", "c2x")}, ${steps("lc3", "c3")}
         |  FROM tgc JOIN pre3
         |  ON split_part(tgc.tg, ' ', 1) || ' ' || split_part(tgc.tg, ' ', 2) = pre3.p2),
         |s3 AS (SELECT tg, CAST(lc2x_lnfp - lc3_lnfp AS BIGINT) AS s3_fp FROM seen3),
         |bk AS (SELECT v, ${steps("lbk", "(4 * (tf + 1))")} FROM vocab),
         |dt AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
         |  ti -> w[ti] || ' ' || w[ti + 1] || ' ' || w[ti + 2])) AS tg FROM st),
         |tr AS (SELECT dt.doc_id,
         |  coalesce(s3.s3_fp, s2.s2_fp,
         |    lnd.lnd_lnfp - coalesce(bk.lbk_lnfp, ${graft.functions.PinnedMath.lnFp(4L)})) AS t_fp
         |  FROM dt LEFT JOIN s3 USING (tg)
         |  LEFT JOIN s2 ON split_part(dt.tg, ' ', 2) || ' ' || split_part(dt.tg, ' ', 3) = s2.bg
         |  LEFT JOIN bk ON split_part(dt.tg, ' ', 3) = bk.v
         |  CROSS JOIN lnd),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt,
         |  CAST(sum(t_fp) AS BIGINT) AS s FROM tr GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(pd.nt, 0) AS BIGINT) AS n_trigrams,
         |  CAST(coalesce(pd.s, 0) AS BIGINT) AS surprisal_fp,
         |  CASE WHEN coalesce(pd.nt, 0) = 0 THEN NULL
         |    ELSE CAST(coalesce(pd.s, 0) AS DOUBLE) / CAST(pd.nt AS DOUBLE)
         |      / CAST(${graft.functions.PinnedMath.FpScale} AS DOUBLE) END AS mean_surprisal
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // segment-dedup twin: zip-unnest for (seg, pos), first occurrence via
    // row_number over (doc_id, pos), ordered string_agg rebuild, LEFT JOIN
    // so fully-deduped docs survive with empty text
    "q74_segment_dedup" -> segmentDedupSql,

    // increment == full: the one-shot recompute over (stored ∪ shard),
    // keeping only the shard's rows
    "q80_segment_dedup_incremental" ->
      s"SELECT * FROM ($segmentDedupSql) WHERE doc_id > $IncrSplitId",

    // cluster twin: q37's recursive-CTE components, split decided by the
    // KEEPER's text through the shared split CASE
    "q81_cluster_split" ->
      s"""WITH RECURSIVE ${TrainingDataQueries.minhashCtesSql},
         |${TrainingDataQueries.componentCtes}
         |SELECT d.doc_id, lab.cluster_id,
         |  ${TrainingDataQueries.splitCaseSql("kd.text")} AS split
         |FROM documents d
         |JOIN lab ON d.doc_id = lab.id
         |JOIN documents kd ON lab.cluster_id = kd.doc_id""".stripMargin,

    // containment twin: the prefix filter is a lossless optimization, so
    // the oracle is the NAIVE all-sharing-pairs join + directed verify
    // (same equivalence q24's oracle relies on); shares docSetsSql so the
    // shingle population can't drift
    "q83_dedup_containment" ->
      s"""WITH ${TrainingDataQueries.docSetsSql},
         |posting AS (SELECT id, unnest(hashes) AS h FROM sets),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM posting a JOIN posting b ON a.h = b.h AND a.id <> b.id),
         |j AS (SELECT id_a, id_b,
         |  round(len(list_intersect(sa.hashes, sb.hashes)) * 1.0 / len(sa.hashes), 6) AS containment
         |  FROM cand JOIN sets sa ON cand.id_a = sa.id JOIN sets sb ON cand.id_b = sb.id)
         |SELECT id_a, id_b, containment FROM j WHERE containment >= $ContainThreshold""".stripMargin,

    // exact-N twin: the single-window formulation (salt-invariant, like
    // q69's oracle), ordered by the shared content hash then id
    "q84_exact_n_sample" ->
      s"""SELECT doc_id, lang, CAST(rank AS INT) AS rank FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${polyHashSql("text")}, doc_id) AS rank
         |  FROM documents)
         |WHERE rank <= $ExactN""".stripMargin,

    // contingency twin: the shared split CASE, one cell aggregate, then
    // marginal windows over the bounded cell frame; every ratio is one
    // pinned double division of exact integer products
    "q86_split_balance" ->
      s"""WITH sp AS (SELECT ${TrainingDataQueries.splitCaseSql("text")} AS split, lang FROM documents),
         |o AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n_obs FROM sp GROUP BY 1, 2),
         |w AS (SELECT split, lang, n_obs,
         |  CAST(sum(n_obs) OVER (PARTITION BY split) AS BIGINT) AS n_a,
         |  CAST(sum(n_obs) OVER (PARTITION BY lang) AS BIGINT) AS n_b,
         |  CAST(sum(n_obs) OVER () AS BIGINT) AS n_total FROM o)
         |SELECT split, lang, n_obs, n_a, n_b, n_total,
         |  round(CAST(n_a * n_b AS DOUBLE) / n_total, 6) AS expected,
         |  round(CAST(n_obs * n_total AS DOUBLE) / (n_a * n_b), 6) AS obs_over_exp
         |FROM w""".stripMargin,

    // standardize twin: HUGEINT moments (exact like Spark's DECIMAL(38)),
    // the same single double conversion, sqrt correctly rounded on both
    "q87_standardize" ->
      """WITH m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(n_chars AS HUGEINT)) AS s,
        |  sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS ss
        |FROM documents GROUP BY lang),
        |v AS (SELECT lang, n, s, ss,
        |  CAST(s AS DOUBLE) / n AS mean,
        |  CASE WHEN n > 1 AND CAST(n * ss - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) > 0
        |    THEN sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) END AS std
        |FROM m)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  round(v.mean, 6) AS group_mean,
        |  round(v.std, 6) AS group_std,
        |  round((CAST(d.n_chars AS DOUBLE) - v.mean) / v.std, 6) AS z
        |FROM documents d JOIN v ON d.lang IS NOT DISTINCT FROM v.lang""".stripMargin,

    // bigram twin: the same space-joined word pairs as wordShingles(_, 2)
    "q88_bigram_topk" ->
      s"""WITH t AS (SELECT $toksSql AS w FROM documents),
         |b AS (SELECT unnest(list_transform(range(1, len(w)),
         |  bi -> w[bi] || ' ' || w[bi + 1])) AS bigram FROM t)
         |SELECT bigram, CAST(count(*) AS BIGINT) AS tf FROM b
         |GROUP BY bigram ORDER BY tf DESC, bigram ASC LIMIT 25""".stripMargin,

    // decile twin: the shared histogram/rank CTEs against a 9-row spine
    "q93_decile_profile" ->
      """WITH v0 AS (SELECT lang, CAST(n_chars AS DOUBLE) AS x FROM documents),
        |h AS (SELECT lang, round(x, 6) AS v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM v0 WHERE x IS NOT NULL GROUP BY lang, v),
        |hc AS (SELECT lang, v,
        |  CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n FROM h),
        |sp AS (SELECT unnest(range(1, 10)) AS q)
        |SELECT lang, CAST(q AS BIGINT) AS q, min(v) AS threshold
        |FROM hc CROSS JOIN sp
        |WHERE cum >= (n // 10) * q + ((n % 10) * q + 9) // 10
        |GROUP BY lang, q""".stripMargin,

    // log-bucket twin: the fixed-point magnitude and significant-digit
    // truncation CASE are GENERATED from the same Pow10 constants the
    // Spark when-chain uses ([[Quantiles.sigTruncCaseSql]]) — the two
    // bucketings cannot drift; rank math is the shared decile spine
    "q94_logbucket_profile" ->
      s"""WITH v0 AS (SELECT event_type, value AS x FROM events WHERE value IS NOT NULL),
         |fx AS (SELECT event_type, CASE WHEN x < 0 THEN -1 ELSE 1 END AS sgn,
         |  ${Quantiles.fixedPointSql("x", 2)} AS m FROM v0),
         |bk AS (SELECT event_type, sgn * (${Quantiles.sigTruncCaseSql("m", 2)}) AS b FROM fx),
         |h AS (SELECT event_type, b, CAST(count(*) AS BIGINT) AS cnt FROM bk GROUP BY event_type, b),
         |hc AS (SELECT event_type, b,
         |  CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |  CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM h),
         |sp AS (SELECT unnest(range(1, 10)) AS q)
         |SELECT event_type, CAST(q AS BIGINT) AS q,
         |  CAST(min(b) AS DOUBLE) / 100.0 AS threshold
         |FROM hc CROSS JOIN sp
         |WHERE cum >= (n // 10) * q + ((n % 10) * q + 9) // 10
         |GROUP BY event_type, q""".stripMargin,

    // winnowing twin: per-position k-gram polyhashes (the shared
    // polyHashSql fold), the SAME encoded (hash, rightmost-pos) window
    // minimum the kernel uses (constants interpolated from WinnowFingerprints,
    // so the selections cannot drift), then the offset-spine substr
    // verification (provably the predicate the Spark side's O(extent)
    // kernel evaluates)
    "q95_substring_dedup" -> {
      val k = SubstrK; val len = SubstrLen; val w = len - k + 1
      s"""WITH dcs AS (SELECT doc_id, text, length(text) AS n FROM documents),
         |${winnowFpSql("d", "dcs")},
         |cand AS (SELECT a.doc_id AS id_a, a.apos AS pos_a, a.text AS ta, a.n AS la,
         |  b.doc_id AS id_b, b.apos AS pos_b, b.text AS tb, b.n AS lb
         |  FROM fp_d a JOIN fp_d b ON a.h = b.h AND a.doc_id < b.doc_id),
         |sp AS (SELECT unnest(range(0, $w)) AS dd),
         |ver AS (SELECT DISTINCT id_a, id_b, pos_a, pos_b FROM cand CROSS JOIN sp
         |  WHERE pos_a - dd >= 1 AND pos_b - dd >= 1
         |    AND pos_a - dd + $len - 1 <= la AND pos_b - dd + $len - 1 <= lb
         |    AND substr(ta, CAST(pos_a - dd AS INT), $len) = substr(tb, CAST(pos_b - dd AS INT), $len))
         |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_anchors
         |FROM ver GROUP BY id_a, id_b""".stripMargin
    },

    // incremental-substring twin: the FULL q95 recompute restricted to
    // pairs that touch the new shard — what the increment must equal
    "q100_substring_incremental" -> {
      val k = SubstrK; val len = SubstrLen; val w = len - k + 1
      s"""WITH dcs AS (SELECT doc_id, text, length(text) AS n FROM documents),
         |${winnowFpSql("d", "dcs")},
         |cand AS (SELECT a.doc_id AS id_a, a.apos AS pos_a, a.text AS ta, a.n AS la,
         |  b.doc_id AS id_b, b.apos AS pos_b, b.text AS tb, b.n AS lb
         |  FROM fp_d a JOIN fp_d b ON a.h = b.h AND a.doc_id < b.doc_id
         |  WHERE a.doc_id > $IncrSplitId2 OR b.doc_id > $IncrSplitId2),
         |sp AS (SELECT unnest(range(0, $w)) AS dd),
         |ver AS (SELECT DISTINCT id_a, id_b, pos_a, pos_b FROM cand CROSS JOIN sp
         |  WHERE pos_a - dd >= 1 AND pos_b - dd >= 1
         |    AND pos_a - dd + $len - 1 <= la AND pos_b - dd + $len - 1 <= lb
         |    AND substr(ta, CAST(pos_a - dd AS INT), $len) = substr(tb, CAST(pos_b - dd AS INT), $len))
         |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_anchors
         |FROM ver GROUP BY id_a, id_b""".stripMargin
    },

    // substring-contamination twin: the same two-sided winnowing chains,
    // extent computed RELATIONALLY — the largest l whose length-l block
    // before (after) the anchor matches IS the consecutive run (any
    // longer block contains the first mismatch), so list-max over block
    // equalities replays CommonExtent exactly, max_extent included
    "q98_substring_contamination" -> {
      val k = SubstrK; val len = SubstrLen
      s"""WITH trd AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id > $ContamSplitId),
         |bnd AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id <= $ContamSplitId),
         |${winnowFpSql("tr", "trd")},
         |${winnowFpSql("be", "bnd")},
         |cand AS (SELECT t.doc_id AS tr_id, t.text AS ta, t.n AS la, t.apos AS pa,
         |  b.doc_id AS be_id, b.text AS tb, b.n AS lb, b.apos AS pb
         |  FROM fp_tr t JOIN fp_be b ON t.h = b.h),
         |ext AS (SELECT tr_id, be_id, pa, pb,
         |  CASE WHEN substr(ta, CAST(pa AS INT), $k) = substr(tb, CAST(pb AS INT), $k)
         |    THEN $k
         |      + coalesce(list_aggregate(list_transform(range(0, least(pa, pb)),
         |          l -> CASE WHEN substr(ta, CAST(pa - l AS INT), CAST(l AS INT))
         |                     = substr(tb, CAST(pb - l AS INT), CAST(l AS INT)) THEN l END), 'max'), 0)
         |      + coalesce(list_aggregate(list_transform(range(0, least(la - pa - $k + 1, lb - pb - $k + 1) + 1),
         |          r -> CASE WHEN substr(ta, CAST(pa + $k AS INT), CAST(r AS INT))
         |                     = substr(tb, CAST(pb + $k AS INT), CAST(r AS INT)) THEN r END), 'max'), 0)
         |    ELSE 0 END AS extent
         |  FROM cand)
         |SELECT tr_id AS doc_id,
         |  CAST(count(DISTINCT be_id) AS BIGINT) AS n_bench_docs,
         |  CAST(count(*) AS BIGINT) AS n_anchors,
         |  CAST(max(extent) AS BIGINT) AS max_extent
         |FROM ext WHERE extent >= $len GROUP BY tr_id""".stripMargin
    },

    // bigram-surprisal twin: q88's bigram extraction, prefix totals from
    // the bigram table, the shared pinned-ln steps on both the seen path
    // (ln cu - ln cuv) and the 0.4-backoff path (ln 5D - ln 2(tf+1)),
    // the lnfp(2) OOV literal from the same driver-side series mirror
    "q103_bigram_surprisal" -> {
      def steps(p: String, x: String): String =
        graft.functions.PinnedMath.lnFpSteps(p, x)
          .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
      s"""WITH rt AS (SELECT doc_id, $toksSql AS w FROM documents WHERE doc_id <= $IncrSplitId2),
         |st AS (SELECT doc_id, $toksSql AS w FROM documents),
         |wt AS (SELECT unnest(w) AS v FROM rt),
         |vocab AS (SELECT v, CAST(count(*) AS BIGINT) AS tf FROM wt GROUP BY v),
         |tot AS (SELECT CAST((sum(tf) + count(*)) * 5 AS BIGINT) AS __d5 FROM vocab),
         |lnd AS (SELECT ${steps("lnd", "__d5")} FROM tot),
         |rbg AS (SELECT unnest(list_transform(range(1, len(w)),
         |  bi -> w[bi] || ' ' || w[bi + 1])) AS bg FROM rt),
         |bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS cuv FROM rbg GROUP BY bg),
         |pre AS (SELECT split_part(bg, ' ', 1) AS u, CAST(sum(cuv) AS BIGINT) AS cu
         |  FROM bgc GROUP BY 1),
         |seen AS (SELECT bg, ${steps("lcu", "cu")}, ${steps("lcuv", "cuv")}
         |  FROM bgc JOIN pre ON split_part(bgc.bg, ' ', 1) = pre.u),
         |sf AS (SELECT bg, CAST(lcu_lnfp - lcuv_lnfp AS BIGINT) AS seen_fp FROM seen),
         |bk AS (SELECT v, ${steps("lbk", "(2 * (tf + 1))")} FROM vocab),
         |dt AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |  bi -> w[bi] || ' ' || w[bi + 1])) AS bg FROM st),
         |tr AS (SELECT dt.doc_id,
         |  coalesce(sf.seen_fp,
         |    lnd.lnd_lnfp - coalesce(bk.lbk_lnfp, ${graft.functions.PinnedMath.lnFp(2L)})) AS t_fp
         |  FROM dt LEFT JOIN sf USING (bg)
         |  LEFT JOIN bk ON split_part(dt.bg, ' ', 2) = bk.v
         |  CROSS JOIN lnd),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt,
         |  CAST(sum(t_fp) AS BIGINT) AS s FROM tr GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(pd.nt, 0) AS BIGINT) AS n_transitions,
         |  CAST(coalesce(pd.s, 0) AS BIGINT) AS surprisal_fp,
         |  CASE WHEN coalesce(pd.nt, 0) = 0 THEN NULL
         |    ELSE CAST(coalesce(pd.s, 0) AS DOUBLE) / CAST(pd.nt AS DOUBLE)
         |      / CAST(${graft.functions.PinnedMath.FpScale} AS DOUBLE) END AS mean_surprisal
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin
    },

    // trigram-surprisal twin: the q103 chain one order up — trigram
    // counts with exact prefix totals on the seen path, the q103 bigram
    // ratio + ln(5/2) (folded as ln(5 cu) - ln(2 cuv)) one level down,
    // and the ln(25 D) - ln(4 (tf+1)) add-one floor (0.4^2 = 4/25)
    "q152_trigram_surprisal" ->
      trigramSurprisalOracleSql(s"WHERE doc_id <= $IncrSplitId2"),

    // incremental-state twin: counts are sum-mergeable, so state(first
    // half) + increment(second half) == model(whole corpus) — the oracle
    // is the ONE-SHOT replay over the full reference (the q143 pattern)
    "q153_trigram_incremental" -> trigramSurprisalOracleSql(""),


    // correlation twin: the same HUGEINT-exact moments, the same single
    // double conversion, sqrt*sqrt (NOT sqrt of the product — the forms
    // differ in the last ulp and both engines must take the same path)
    "q102_correlation" ->
      s"""WITH v0 AS (SELECT lang, CAST(n_chars AS HUGEINT) AS x,
         |  CAST(len($toksSql) AS HUGEINT) AS y FROM documents
         |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |  sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
         |  sum(x*x) AS sxx, sum(y*y) AS syy
         |  FROM v0 GROUP BY lang)
         |SELECT lang, n,
         |  CASE WHEN n >= 2 AND n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
         |    THEN CAST(n*sxy - sx*sy AS DOUBLE)
         |      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
         |    ELSE NULL END AS r
         |FROM m""".stripMargin,

    // weighted-sample twin: the same 61-bit hash steps, the same pinned
    // ln, the same shared lnfp(2^61) literal, one pinned division, an
    // ORDER BY with the id tiebreak
    "q101_weighted_sample" -> {
      def steps(p: String, x: String): String =
        graft.functions.PinnedMath.lnFpSteps(p, x)
          .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
      s"""WITH src AS (SELECT doc_id, text, CAST(n_chars AS BIGINT) AS weight
         |  FROM documents WHERE n_chars > 0),
         |hh AS (SELECT doc_id, weight, ${graft.TrainingDataQueries.polyHash61StepsSql("text")} FROM src),
         |ln1 AS (SELECT doc_id, weight, ${steps("lnu", "(h + 1)")} FROM hh)
         |SELECT doc_id, weight,
         |  CAST(lnu_lnfp - ${graft.functions.PinnedMath.LnFp2Pow61} AS DOUBLE)
         |    / CAST(weight AS DOUBLE)
         |    / CAST(${graft.functions.PinnedMath.FpScale} AS DOUBLE) AS priority
         |FROM ln1 ORDER BY priority DESC, doc_id ASC LIMIT $WeightedSampleN""".stripMargin
    },

    // LM-surprisal twin: the same pinned-ln steps rendered as lateral
    // aliases (the hll-estimate pattern), integer fixed-point sums, one
    // final pinned division chain
    "q99_lm_surprisal" -> {
      def steps(p: String, x: String): String =
        graft.functions.PinnedMath.lnFpSteps(p, x)
          .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
      s"""WITH wt AS (SELECT unnest($toksSql) AS w FROM documents),
         |vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS tf FROM wt GROUP BY w),
         |tot AS (SELECT CAST(sum(tf) + count(*) AS BIGINT) AS __d FROM vocab),
         |lnd AS (SELECT ${steps("lnd", "__d")} FROM tot),
         |wl AS (SELECT w, ${steps("lnw", "(tf + 1)")} FROM vocab),
         |dt AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |pd AS (SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(coalesce(wl.lnw_lnfp, 0)) AS BIGINT) AS s
         |  FROM dt LEFT JOIN wl USING (w) GROUP BY dt.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(pd.n, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(pd.n, 0) * lnd.lnd_lnfp - coalesce(pd.s, 0) AS BIGINT) AS surprisal_fp,
         |  CASE WHEN coalesce(pd.n, 0) = 0 THEN NULL
         |    ELSE CAST(coalesce(pd.n, 0) * lnd.lnd_lnfp - coalesce(pd.s, 0) AS DOUBLE)
         |      / CAST(pd.n AS DOUBLE) / CAST(${graft.functions.PinnedMath.FpScale} AS DOUBLE) END AS mean_surprisal
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id CROSS JOIN lnd""".stripMargin
    },

    // RRF twin: the q108 scoring CTEs + the q155 power-iteration CTEs
    // (CTE namespaces are disjoint), per-signal ORDER BY/LIMIT lists,
    // integer 1e9 // (60 + rank) contributions, BIGINT fuse
    "q160_rrf_fusion" ->
      s"""WITH $nbScoreCtesSql,
         |${TrainingDataQueries.pageRankCtesSql},
         |la AS (SELECT doc_id, logodds_fp AS score_fp FROM sc
         |  ORDER BY score_fp DESC, doc_id ASC LIMIT $RrfListDepth),
         |ra AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY score_fp DESC, doc_id ASC) AS rank FROM la),
         |lb AS (SELECT d.doc_id, pr.r AS score_fp FROM documents d
         |  JOIN r${TrainingDataQueries.PrIters} pr ON d.doc_id // 16 = pr.h
         |  ORDER BY score_fp DESC, doc_id ASC LIMIT $RrfListDepth),
         |rb AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY score_fp DESC, doc_id ASC) AS rank FROM lb),
         |u AS (SELECT * FROM ra UNION ALL SELECT * FROM rb),
         |f AS (SELECT doc_id,
         |  CAST(sum(CAST(1000000000 AS BIGINT) // (60 + rank)) AS BIGINT) AS rrf_fp,
         |  CAST(count(*) AS BIGINT) AS n_signals,
         |  CAST(min(rank) AS INT) AS best_rank
         |  FROM u GROUP BY doc_id)
         |SELECT doc_id, rrf_fp, n_signals, best_rank,
         |  CAST(row_number() OVER (ORDER BY rrf_fp DESC, doc_id ASC) AS INT) AS rank
         |FROM f""".stripMargin,

    // host-quality twin: the q108 scoring CTEs grouped by the synthesized
    // host id; `//` truncates the (possibly negative) log-odds sum
    // toward zero, bit-matching the Spark side's `div`
    "q164_host_quality" ->
      s"""WITH $nbScoreCtesSql,
         |hq AS (SELECT doc_id // 16 AS host, logodds_fp,
         |  CASE WHEN logodds_fp > 0 THEN 1 ELSE 0 END AS p FROM sc)
         |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(CAST(sum(logodds_fp) AS HUGEINT) // count(*) AS BIGINT) AS mean_logodds_fp,
         |  CAST(CAST(sum(p) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS pos_share_ppm
         |FROM hq GROUP BY host""".stripMargin,

    // NB-classifier twin: union vocab via FULL JOIN, per-word pinned-ln
    // weight difference, four one-row constants (smoothing denominators +
    // doc-count priors), all-integer per-doc fold
    "q108_nb_quality" ->
      s"""WITH $nbScoreCtesSql
         |SELECT doc_id, n_tokens, logodds_fp,
         |  CAST(CASE WHEN logodds_fp > 0 THEN 1 ELSE 0 END AS INT) AS predict_pos
         |FROM sc""".stripMargin,

    // calibration-sweep twin: same scored seeds, the same explode-style
    // grid (CROSS JOIN unnest), integer confusion counts, HUGEINT
    // floor-division ppm (operands non-negative, so // == floor on both
    // engines), NULL on empty denominators
    "q120_nb_calibration" ->
      s"""WITH $nbScoreCtesSql,
         |lab AS (SELECT logodds_fp,
         |  CASE WHEN source IN (${nbSrcList(NbPosSources)}) THEN 1 ELSE 0 END AS y
         |  FROM sc WHERE source IN (${nbSrcList(NbPosSources ++ NbNegSources)})),
         |grid AS (SELECT unnest([${NbSweepThresholdsFp.mkString(", ")}]) AS thr_fp),
         |cm AS (SELECT grid.thr_fp,
         |  CAST(sum(CASE WHEN logodds_fp >= thr_fp AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN logodds_fp >= thr_fp AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN logodds_fp < thr_fp AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN logodds_fp < thr_fp AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM lab CROSS JOIN grid GROUP BY grid.thr_fp)
         |SELECT thr_fp, tp, fp, fn, tn,
         |  CASE WHEN tp + fp > 0
         |    THEN CAST(CAST(tp AS HUGEINT) * 1000000 // (tp + fp) AS BIGINT) END AS precision_ppm,
         |  CASE WHEN tp + fn > 0
         |    THEN CAST(CAST(tp AS HUGEINT) * 1000000 // (tp + fn) AS BIGINT) END AS recall_ppm,
         |  CASE WHEN 2 * tp + fp + fn > 0
         |    THEN CAST(CAST(tp AS HUGEINT) * 2000000 // (2 * tp + fp + fn) AS BIGINT) END AS f1_ppm
         |FROM cm""".stripMargin,

    // hashed-feature NB twin: q108's SELECT off the hashed CTE chain
    "q147_nb_hashed" ->
      s"""WITH $nbHashedScoreCtesSql
         |SELECT doc_id, n_feats, logodds_fp,
         |  CAST(CASE WHEN logodds_fp > 0 THEN 1 ELSE 0 END AS INT) AS predict_pos
         |FROM sc""".stripMargin,

    // hashed-feature calibration twin: q120's sweep verbatim over the
    // hashed CTE chain
    "q148_nb_hashed_calibration" ->
      s"""WITH $nbHashedScoreCtesSql,
         |lab AS (SELECT logodds_fp,
         |  CASE WHEN source IN (${nbSrcList(NbPosSources)}) THEN 1 ELSE 0 END AS y
         |  FROM sc WHERE source IN (${nbSrcList(NbPosSources ++ NbNegSources)})),
         |grid AS (SELECT unnest([${NbSweepThresholdsFp.mkString(", ")}]) AS thr_fp),
         |cm AS (SELECT grid.thr_fp,
         |  CAST(sum(CASE WHEN logodds_fp >= thr_fp AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN logodds_fp >= thr_fp AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN logodds_fp < thr_fp AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN logodds_fp < thr_fp AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM lab CROSS JOIN grid GROUP BY grid.thr_fp)
         |SELECT thr_fp, tp, fp, fn, tn,
         |  CASE WHEN tp + fp > 0
         |    THEN CAST(CAST(tp AS HUGEINT) * 1000000 // (tp + fp) AS BIGINT) END AS precision_ppm,
         |  CASE WHEN tp + fn > 0
         |    THEN CAST(CAST(tp AS HUGEINT) * 1000000 // (tp + fn) AS BIGINT) END AS recall_ppm,
         |  CASE WHEN 2 * tp + fp + fn > 0
         |    THEN CAST(CAST(tp AS HUGEINT) * 2000000 // (2 * tp + fp + fn) AS BIGINT) END AS f1_ppm
         |FROM cm""".stripMargin,

    // char-n-gram NB twin: the shared bucket chain over the char-trigram
    // feature CTEs — q147's SELECT verbatim
    "q149_nb_chargram" ->
      s"""WITH $nbCharNgramScoreCtesSql
         |SELECT doc_id, n_feats, logodds_fp,
         |  CAST(CASE WHEN logodds_fp > 0 THEN 1 ELSE 0 END AS INT) AS predict_pos
         |FROM sc""".stripMargin,

    // score-drift twin: the q90 drift tail over whole-nat score buckets
    // (identical double division then round — both engines see the same
    // exact BIGINT numerator)
    "q121_nb_score_drift" -> tvDriftOracleSql(
      nbScoreCtesSql,
      "SELECT source AS g, CAST(logodds_fp AS DOUBLE) / 1000000000 AS x FROM sc",
      precision = 0, groupName = "source"),

    // KL-drift twin: identical pinned-ln steps on the three distinct
    // domains ((g,w) counts, word totals, group totals), the weighted sum
    // in HUGEINT emitted as the same canonical digit string the Spark
    // side casts its DECIMAL(38,0) to
    "q109_source_kl" -> sourceKlOracleSql,

    // q109's bisection probe: the exact two-column core
    "q109a_source_kl_probe" -> sourceKlProbeOracleSql,

    // q109's second-level probe: the value re-quantized to a bounded
    // BIGINT (string-canonicalization vs value bisect)
    "q109b_source_kl_millinats" -> sourceKlMillinatsOracleSql,

    // image-dedup twin: the expected dHashes recompute from doc_id in
    // pure integer SQL (deterministic fixture + lossless PNG + JPEG-proof
    // margins), then the same pigeonhole band join replays
    "q96_image_neardup" -> imageNearDupOracleSql,

    // audio-dedup twin: the tone fixture shares the card's integer mix
    // and its energy ORDER equals the card's level order, so the
    // expected 64-bit signatures — and the whole band join — are the
    // SAME replay; what differs is the engine path being checked
    // (javax.sound PCM decode + integer energy cells vs ImageIO)
    "q138_audio_neardup" -> imageNearDupOracleSql,

    // the fixture clip's majority dHash equals its card's dHash (all
    // frames carry it), and the media-id scheme matches (2k / 2k+1), so
    // the q96 replay is the video twin's oracle verbatim — the q138 reuse
    "q145_video_neardup" -> imageNearDupOracleSql,

    // incremental media-state twin: fingerprints are per-row pure
    // functions of the payload, so state union == fingerprint of the
    // union and the pairs off merged state equal one-shot q96 — its
    // replay is the oracle verbatim (the q143 incremental discipline)
    "q146_image_state_neardup" -> imageNearDupOracleSql,

    // incremental-KL twin: per-(group, word) counts sum-merge exactly
    // (count addition is associative), so state-increment-read equals the
    // one-shot audit — the oracle is q109's text verbatim
    "q115_source_kl_incremental" -> sourceKlOracleSql,

    // Gopher-rules twin: same injection expression, same whitespace
    // split / line split / literal counts, every flag an integer
    // cross-multiplied comparison — no float compare anywhere
    "q118_gopher_rules" -> {
      // single line: the outer stripMargin would re-strip any embedded
      // "||" continuation as a margin
      val inj =
        "text || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '- alpha beta' || chr(10) || '- gamma delta' ELSE '' END" +
          " || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'to be continued...' ELSE '' END" +
          " || CASE WHEN doc_id % 7 = 0 THEN ' ### anomaly #42 ...' ELSE '' END"
      val stopArms = graft.functions.TextFunctions.GopherStopSmall
        .map(s => s"CASE WHEN list_contains(toks, '$s') THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH base AS (SELECT doc_id, $inj AS t FROM documents),
         |w AS (SELECT doc_id, t,
         |  list_filter(string_split_regex(t, '\\s+'), x -> len(x) > 0) AS words,
         |  list_filter(string_split(t, chr(10)), l -> len(trim(l)) > 0) AS lines,
         |  $toksSql AS toks
         |  FROM (SELECT doc_id, t, t AS text FROM base)),
         |m AS (SELECT doc_id,
         |  CAST(len(words) AS BIGINT) AS n_words,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(words, x -> CAST(len(x) AS BIGINT))), (a, x) -> a + x) AS sum_len,
         |  CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
         |  CAST(len(t) - len(replace(t, '#', '')) AS BIGINT)
         |    + CAST((len(t) - len(replace(t, '...', ''))) // 3 AS BIGINT) AS symbol_count,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*]'))) AS BIGINT) AS bullet_lines,
         |  CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS BIGINT) AS ellipsis_lines,
         |  CAST($stopArms AS BIGINT) AS n_stop_present
         |  FROM w),
         |f AS (SELECT doc_id, n_words, sum_len, symbol_count, n_lines,
         |  bullet_lines, ellipsis_lines, alpha_words, n_stop_present,
         |  CAST(CASE WHEN n_words >= ${graft.functions.TextFunctions.GopherMinWords}
         |    AND n_words <= ${graft.functions.TextFunctions.GopherMaxWords} THEN 1 ELSE 0 END AS INTEGER) AS r1_word_count,
         |  CAST(CASE WHEN n_words > 0 AND sum_len >= 3 * n_words AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS INTEGER) AS r2_mean_len,
         |  CAST(CASE WHEN 10 * symbol_count <= n_words THEN 1 ELSE 0 END AS INTEGER) AS r3_symbols,
         |  CAST(CASE WHEN 10 * bullet_lines <= 9 * n_lines THEN 1 ELSE 0 END AS INTEGER) AS r4_bullets,
         |  CAST(CASE WHEN 10 * ellipsis_lines <= 3 * n_lines THEN 1 ELSE 0 END AS INTEGER) AS r5_ellipsis,
         |  CAST(CASE WHEN 5 * alpha_words >= 4 * n_words THEN 1 ELSE 0 END AS INTEGER) AS r6_alpha,
         |  CAST(CASE WHEN n_stop_present >= 2 THEN 1 ELSE 0 END AS INTEGER) AS r7_stopwords
         |  FROM m)
         |SELECT doc_id, n_words,
         |  CASE WHEN n_words > 0
         |    THEN round(CAST(sum_len AS DOUBLE) / n_words, 6) END AS mean_word_len,
         |  symbol_count, n_lines, bullet_lines, ellipsis_lines, alpha_words,
         |  n_stop_present, r1_word_count, r2_mean_len, r3_symbols, r4_bullets,
         |  r5_ellipsis, r6_alpha, r7_stopwords,
         |  r1_word_count * r2_mean_len * r3_symbols * r4_bullets
         |    * r5_ellipsis * r6_alpha * r7_stopwords AS gopher_keep
         |FROM f""".stripMargin
    },

    // TF-IDF twin: per-distinct-word pinned ln(df), one-row ln(D), exact
    // BIGINT scores, the same (score desc, term asc) window cut
    "q110_tfidf_terms" -> {
      def steps(p: String, x: String): String =
        graft.functions.PinnedMath.lnFpSteps(p, x)
          .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
      s"""WITH dt AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |dw AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM dt GROUP BY doc_id, term),
         |dfl AS (SELECT term, ${steps("ldf", "df")}
         |  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY term)),
         |nd AS (SELECT ${steps("lnd", "n_docs")}
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)),
         |sc AS (SELECT dw.doc_id, dw.term, dw.tf,
         |  CAST(dw.tf * (nd.lnd_lnfp - dfl.ldf_lnfp) AS BIGINT) AS score_fp
         |  FROM dw JOIN dfl USING (term) CROSS JOIN nd)
         |SELECT doc_id, term, tf, score_fp,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_fp DESC, term ASC) AS INTEGER) AS rank
         |FROM sc
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score_fp DESC, term ASC) <= 5""".stripMargin
    },

    // PMI twin: same pinned lns on the distinct unigram/bigram domains,
    // split_part == substring_index on single-space bigrams, same
    // (pmi desc, bigram asc) TakeOrdered cut
    "q112_pmi_collocations" -> {
      def steps(p: String, x: String): String =
        graft.functions.PinnedMath.lnFpSteps(p, x)
          .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
      s"""WITH t AS (SELECT $toksSql AS w FROM documents),
         |uc AS (SELECT w0 AS w, CAST(count(*) AS BIGINT) AS cu
         |  FROM (SELECT unnest(w) AS w0 FROM t) GROUP BY w0),
         |ul AS (SELECT w, ${steps("lcu", "cu")} FROM uc),
         |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cuv
         |  FROM (SELECT unnest(list_transform(range(1, len(w)),
         |    bi -> w[bi] || ' ' || w[bi + 1])) AS bigram FROM t) GROUP BY bigram),
         |nb AS (SELECT ${steps("lnb", "n_bi")}
         |  FROM (SELECT CAST(sum(cuv) AS BIGINT) AS n_bi FROM bc)),
         |nu AS (SELECT ${steps("lnu", "n_uni")}
         |  FROM (SELECT CAST(sum(cu) AS BIGINT) AS n_uni FROM uc)),
         |bf AS (SELECT bigram, cuv, ${steps("lcuv", "cuv")} FROM bc WHERE cuv >= 3),
         |j AS (SELECT bf.bigram, bf.cuv,
         |  CAST(bf.lcuv_lnfp - nb.lnb_lnfp - uu.lcu_lnfp - vv.lcu_lnfp
         |    + 2 * nu.lnu_lnfp AS BIGINT) AS pmi_fp
         |  FROM bf JOIN ul uu ON split_part(bf.bigram, ' ', 1) = uu.w
         |         JOIN ul vv ON split_part(bf.bigram, ' ', 2) = vv.w
         |         CROSS JOIN nb CROSS JOIN nu)
         |SELECT bigram, cuv, pmi_fp,
         |  CAST(pmi_fp AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS pmi_nats
         |FROM j ORDER BY pmi_fp DESC, bigram ASC LIMIT 25""".stripMargin
    },

    // BPE-packing twin: the same distinct-word greedy fold as
    // Packing.greedyTokenCounts — n-gram piece vocabulary by (tf desc,
    // piece asc), list_reduce with a struct accumulator (init injected
    // via list_prepend, the polyHashSql trick), single-char fallback,
    // leftover chars past the fold depth count one each
    "q97_bpe_packing" -> {
      val fold =
        s"""list_reduce(
           |  list_prepend(struct_pack(pos := 1, cnt := 0),
           |    list_transform(range(1, ${BpeMaxWordLen + 1}),
           |      s -> struct_pack(pos := 0, cnt := 0))),
           |  (acc, st) -> CASE WHEN acc.pos > length(w) THEN acc
           |    ELSE struct_pack(
           |      pos := acc.pos + greatest(1, list_aggregate(
           |        list_transform(pieces, p -> CASE
           |          WHEN substr(w, CAST(acc.pos AS INT), length(p)) = p
           |          THEN length(p) ELSE 0 END), 'max')),
           |      cnt := acc.cnt + 1) END)""".stripMargin
      s"""WITH wt AS (SELECT unnest($toksSql) AS w FROM documents),
         |wtf AS (SELECT w, CAST(count(*) AS BIGINT) AS tf FROM wt GROUP BY w),
         |cg AS (SELECT substr(wtf.w, CAST(i AS INT), CAST(n AS INT)) AS piece, tf
         |  FROM wtf,
         |  LATERAL (SELECT unnest(range(2, 5)) AS n) nn,
         |  LATERAL (SELECT unnest(range(1, greatest(length(wtf.w) - n + 1, 0) + 1)) AS i) ii),
         |top AS (SELECT piece, CAST(sum(tf) AS BIGINT) AS tf FROM cg GROUP BY piece
         |  ORDER BY tf DESC, piece ASC LIMIT $BpeVocabK),
         |vs AS (SELECT list(piece ORDER BY piece ASC) AS pieces FROM top),
         |pw AS (SELECT w,
         |  CAST((f.cnt + greatest(0, length(w) - f.pos + 1)) AS BIGINT) AS np
         |  FROM (SELECT w, $fold AS f FROM (SELECT DISTINCT w FROM wt) CROSS JOIN vs)),
         |dt AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |agg AS (SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_tokens_ws,
         |  CAST(sum(pw.np) AS BIGINT) AS n_tokens_bpe
         |  FROM dt JOIN pw USING (w) GROUP BY dt.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(agg.n_tokens_ws, 0) AS BIGINT) AS n_tokens_ws,
         |  CAST(coalesce(agg.n_tokens_bpe, 0) AS BIGINT) AS n_tokens_bpe,
         |  CAST((coalesce(agg.n_tokens_ws, 0) + ${BpeBudget - 1}) // $BpeBudget AS BIGINT) AS chunks_ws,
         |  CAST((coalesce(agg.n_tokens_bpe, 0) + ${BpeBudget - 1}) // $BpeBudget AS BIGINT) AS chunks_bpe
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
    },

    // real-BPE twin: the full merge loop unrolled — per round, pair
    // counts from the ||-fenced symbolization, lexicographic-tie argmax,
    // replace-all rewrite. string_split/trim/replace behave identically
    // to Spark's (leftmost non-overlapping replace-all IS BPE merge
    // application); DuckDB range(1, n) is empty when n <= 1, so
    // single-symbol words drop out of pair counting on both engines
    "q104_bpe_merge_table" -> s"WITH $bpeMergeCtesSql\n$bpeMergeUnionSql",

    // encode twin: the same merge replay feeds a per-distinct-word greedy
    // longest-match list_reduce (string-accumulated ids — DuckDB 1.0.0's
    // list_reduce drops LIST-typed struct accumulator fields across
    // iterations, and the (value-field, THEN pos) struct_pack order reads
    // only pre-update fields, so the fold is correct under both the
    // in-place-aliasing implementation and a fixed one), then per-doc
    // assembly with <sp>=2 separators
    "q136_encode_ids" ->
      s"""WITH $encodeIdsCtesSql
         |SELECT doc_id, array_to_string(ids, ' ') AS ids_str,
         |  CAST(len(ids) AS BIGINT) AS n_ids FROM enc""".stripMargin,

    // q136's bisection probe: id counts only (value-vs-representation
    // split if the full string row ever goes red)
    "q136a_encode_ids_counts" ->
      s"""WITH $encodeIdsCtesSql
         |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_ids FROM enc""".stripMargin,

    // incremental-pack twin: the stream only grows at the end, so
    // head + re-opened tail + shard equals the one-shot pack — the
    // oracle is q137's text verbatim (the q135 pattern)
    "q140_pack_ids_incremental" ->
      s"""WITH $encodeIdsCtesSql,
         |stream AS (SELECT flatten(list(list_prepend(0, ids) ORDER BY doc_id)) AS st FROM enc),
         |rows0 AS (SELECT st, len(st) AS t FROM stream),
         |rows1 AS (SELECT r, st[CAST(r * $PackSeqLen + 1 AS INT) :
         |    CAST(least((r + 1) * $PackSeqLen, t) AS INT)] AS ids0
         |  FROM rows0, LATERAL (SELECT unnest(range(0, (t + ${PackSeqLen - 1}) // $PackSeqLen)) AS r) rr)
         |SELECT CAST(r AS BIGINT) AS row_id,
         |  array_to_string(ids0 || CAST(list_transform(range(0, $PackSeqLen - len(ids0)), x -> 1) AS INT[]), ' ') AS ids_str,
         |  CAST($PackSeqLen - len(ids0) AS BIGINT) AS n_pad
         |FROM rows1""".stripMargin,

    // pack twin: the doc-order stream with <doc>=0 boundaries, cut into
    // $PackSeqLen-id rows, tail padded with <pad>=1 — the NAIVE global
    // list build the two-phase Spark prefix sum must equal exactly
    "q137_pack_ids" ->
      s"""WITH $encodeIdsCtesSql,
         |stream AS (SELECT flatten(list(list_prepend(0, ids) ORDER BY doc_id)) AS st FROM enc),
         |rows0 AS (SELECT st, len(st) AS t FROM stream),
         |rows1 AS (SELECT r, st[CAST(r * $PackSeqLen + 1 AS INT) :
         |    CAST(least((r + 1) * $PackSeqLen, t) AS INT)] AS ids0
         |  FROM rows0, LATERAL (SELECT unnest(range(0, (t + ${PackSeqLen - 1}) // $PackSeqLen)) AS r) rr)
         |SELECT CAST(r AS BIGINT) AS row_id,
         |  array_to_string(ids0 || CAST(list_transform(range(0, $PackSeqLen - len(ids0)), x -> 1) AS INT[]), ' ') AS ids_str,
         |  CAST($PackSeqLen - len(ids0) AS BIGINT) AS n_pad
         |FROM rows1""".stripMargin,

    // epoch-shuffle twin: the NAIVE global window over the same
    // epoch-salted avalanching hash — the two-phase decomposition must
    // equal it rank for rank
    "q105_epoch_shuffle" -> {
      val steps = graft.TrainingDataQueries.polyHash61StepsSql(
        s"('$ShuffleEpoch:' || CAST(doc_id AS VARCHAR))")
      s"""SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS shuffle_pos
         |FROM (SELECT doc_id, $steps FROM documents)""".stripMargin
    },

    // mixture-plan twin: same constant CASE chain, same integer ppm math
    "q106_mixture_plan" -> {
      val caseW = "CASE " + MixWeightsPpm.toSeq.sortBy(_._1)
        .map { case (s, w) => s"WHEN source = '$s' THEN $w" }
        .mkString(" ") + " ELSE 0 END"
      s"""WITH t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(CASE WHEN text IS NULL THEN 0 ELSE len($toksSql) END), 0) AS BIGINT) AS n_tokens
         |FROM documents GROUP BY source),
         |w AS (SELECT source, n_docs, n_tokens, CAST($caseW AS BIGINT) AS weight_ppm FROM t)
         |SELECT source, n_docs, n_tokens, weight_ppm,
         |  CAST((weight_ppm * $MixBudgetTokens) // 1000000 AS BIGINT) AS target_tokens,
         |  CAST(CASE WHEN n_tokens > 0
         |    THEN (((weight_ppm * $MixBudgetTokens) // 1000000) * 1000000) // n_tokens
         |    ELSE 0 END AS BIGINT) AS epochs_ppm
         |FROM w""".stripMargin
    },

    // apply twin: the q106 plan CTE + the q76 copy-expansion shape
    // (floor-of-ppm whole copies, polyhash-gated fractional copy)
    "q179_apply_mixture_plan" -> {
      val caseW = "CASE " + MixWeightsPpm.toSeq.sortBy(_._1)
        .map { case (s, w) => s"WHEN source = '$s' THEN $w" }
        .mkString(" ") + " ELSE 0 END"
      s"""WITH t AS (SELECT source,
         |  CAST(coalesce(sum(CASE WHEN text IS NULL THEN 0 ELSE len($toksSql) END), 0) AS BIGINT) AS n_tokens
         |FROM documents GROUP BY source),
         |plan AS (SELECT source, CAST(CASE WHEN n_tokens > 0
         |    THEN (((CAST($caseW AS BIGINT) * $MixBudgetTokens) // 1000000) * 1000000) // n_tokens
         |    ELSE 0 END AS BIGINT) AS epochs_ppm FROM t),
         |x AS (SELECT d.doc_id, d.source, p.epochs_ppm,
         |  p.epochs_ppm // 1000000
         |    + CASE WHEN (${polyHashSql("d.text")} % 1000000) < p.epochs_ppm % 1000000
         |      THEN 1 ELSE 0 END AS n
         |  FROM documents d JOIN plan p ON d.source IS NOT DISTINCT FROM p.source)
         |SELECT doc_id, source, epochs_ppm, CAST(n AS BIGINT) AS n_copies,
         |  CAST(unnest(range(1, n + 1)) AS BIGINT) AS epoch
         |FROM x""".stripMargin
    },

    // keep-best twin: first_value over (score DESC NULLS LAST, id ASC) is
    // exactly the max_by struct keeper
    "q91_dedup_keep_best" ->
      """WITH s AS (SELECT doc_id, text, CAST(n_chars % 97 AS DOUBLE) AS score FROM documents)
        |SELECT doc_id, score, md5(text) AS content_hash,
        |  first_value(doc_id) OVER (PARTITION BY md5(text)
        |    ORDER BY score DESC NULLS LAST, doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keeper_id,
        |  CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS group_size,
        |  CASE WHEN doc_id = first_value(doc_id) OVER (PARTITION BY md5(text)
        |    ORDER BY score DESC NULLS LAST, doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |  THEN 0 ELSE 1 END AS is_dup
        |FROM s""".stripMargin,

    // bucket twin: integer bucket/batch/waste math, one pinned division
    "q89_length_buckets" ->
      s"""WITH t AS (SELECT CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |b AS (SELECT n // 16 AS bucket, n FROM t WHERE n > 0)
         |SELECT bucket,
         |  CAST(bucket * 16 AS BIGINT) AS bucket_lo,
         |  CAST(bucket * 16 + 15 AS BIGINT) AS bucket_hi,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS sum_tokens,
         |  CAST(max(n) AS BIGINT) AS max_tokens,
         |  CAST((count(*) + 7) // 8 AS BIGINT) AS n_batches,
         |  CAST(count(*) * max(n) - sum(n) AS BIGINT) AS padding_waste,
         |  round(CAST(count(*) * max(n) - sum(n) AS DOUBLE)
         |    / (count(*) * max(n)), 6) AS waste_pct
         |FROM b GROUP BY bucket""".stripMargin,

    // drift twin: same per-bin HUGEINT term, same absent-bin closed form,
    // same pinned division
    "q90_source_drift" ->
      """WITH v0 AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS x FROM documents),
        |h AS (SELECT g, round(x, 6) AS v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM v0 WHERE x IS NOT NULL GROUP BY g, v),
        |tot AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS cnt_all FROM h GROUP BY v),
        |ng AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_group FROM h GROUP BY g),
        |na AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM h),
        |t AS (SELECT h.g, h.cnt, tot.cnt_all, ng.n_group, na.n_total,
        |  abs(CAST(h.cnt AS HUGEINT) * (na.n_total - ng.n_group)
        |    - CAST(tot.cnt_all - h.cnt AS HUGEINT) * ng.n_group) AS term
        |  FROM h JOIN tot USING (v)
        |  JOIN ng ON h.g IS NOT DISTINCT FROM ng.g CROSS JOIN na)
        |SELECT g AS source,
        |  CAST(max(n_group) AS BIGINT) AS n_group,
        |  CAST(max(n_total) - max(n_group) AS BIGINT) AS n_rest,
        |  CAST((2000000 * (sum(term)
        |        + CAST(max(n_total) - sum(cnt_all) AS HUGEINT) * max(n_group))
        |        + 2 * CAST(max(n_group) AS HUGEINT) * (max(n_total) - max(n_group)))
        |    // (4 * CAST(max(n_group) AS HUGEINT) * (max(n_total) - max(n_group))) AS DOUBLE) / 1000000 AS tv_vs_rest
        |FROM t GROUP BY g
        |HAVING max(n_total) - max(n_group) > 0""".stripMargin,

    // OOV twin: the same (tf desc, token asc) top-k vocabulary, a LEFT
    // JOIN membership probe, integer counts and one pinned round division
    "q82_oov_rate" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY token),
         |top AS (SELECT token FROM tf ORDER BY tf DESC, token ASC LIMIT $OovVocabK)
         |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN top.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  round(sum(CASE WHEN top.token IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
         |FROM tok LEFT JOIN top ON tok.token = top.token
         |GROUP BY tok.doc_id""".stripMargin,

    "q75_pii_redact" ->
      s"""WITH $piiChainSql
         |SELECT doc_id, ${TextFunctions.PiiPatterns.map { case (n, _, _) => s"n_$n" }.mkString(", ")},
         |  t${TextFunctions.PiiPatterns.size} AS text_redacted
         |FROM s${TextFunctions.PiiPatterns.size}""".stripMargin,

    // epoch-mix twin: the SAME driver-side (whole, frac-ppm) literals the
    // Spark CASE chain embeds, re-generated from the shared helpers
    "q76_epoch_mix" -> {
      def caseOf(of: Double => Long): String =
        "CASE lang " + EpochWeights.toSeq.sortBy(_._1).map { case (c, w) =>
          s"WHEN '$c' THEN ${of(w)}"
        }.mkString(" ") + s" ELSE ${of(1.0)} END"
      s"""WITH w AS (SELECT doc_id, lang,
         |  ${caseOf(Sampling.epochWhole)}
         |  + CASE WHEN (${polyHashSql("text")} % 1000000) < ${caseOf(Sampling.epochFracPpm)}
         |    THEN 1 ELSE 0 END AS n
         |  FROM documents)
         |SELECT doc_id, lang, CAST(unnest(range(1, n + 1)) AS BIGINT) AS epoch,
         |  CAST(n AS BIGINT) AS n_copies
         |FROM w""".stripMargin
    },

    "q77_truncate_budget" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents)
         |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(least(len(w), $TruncTokens) AS BIGINT) AS n_kept,
         |  CASE WHEN len(w) > $TruncTokens THEN 1 ELSE 0 END AS truncated,
         |  array_to_string(w[1:$TruncTokens], ' ') AS text_trunc
         |FROM t""".stripMargin,

    // merge-of-shards == single-pass by sum-associativity, so the twin is
    // the DIRECT corpus tf; n_shards = distinct sources containing the token
    "q78_vocab_merge" ->
      s"""WITH tok AS (SELECT source, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT token, CAST(count(*) AS BIGINT) AS tf,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_shards
         |  FROM tok GROUP BY token)
         |SELECT token, tf, n_shards FROM tf
         |ORDER BY tf DESC, token ASC LIMIT 30""".stripMargin,

    // winsorize twin: two type-1 thresholds off the shared per-lang
    // histogram CTE (q47's window pattern), row-local clamp
    "q79_winsorize" ->
      s"""WITH v0 AS (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS n_chars FROM documents),
         |h AS (SELECT lang, round(n_chars, 6) AS v, CAST(count(*) AS BIGINT) AS cnt
         |  FROM v0 WHERE n_chars IS NOT NULL GROUP BY lang, v),
         |hc AS (SELECT lang, v,
         |  CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |  CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
         |FROM h),
         |lo AS (SELECT lang, min(v) AS group_lo FROM hc
         |  WHERE cum >= ${rankSql(WinsorLo, WinsorDen)} GROUP BY lang),
         |hi AS (SELECT lang, min(v) AS group_hi FROM hc
         |  WHERE cum >= ${rankSql(WinsorHi, WinsorDen)} GROUP BY lang)
         |SELECT v0.doc_id, v0.lang, v0.n_chars, lo.group_lo, hi.group_hi,
         |  greatest(lo.group_lo, least(hi.group_hi, round(v0.n_chars, 6))) AS clamped
         |FROM v0 JOIN lo ON v0.lang IS NOT DISTINCT FROM lo.lang
         |        JOIN hi ON v0.lang IS NOT DISTINCT FROM hi.lang""".stripMargin,

    // DSIR twin: the same hashed unigram+bigram buckets (rolling-hash %
    // B), add-one count-ratio model with both lns the shared pinned
    // steps, per-doc BIGINT folds, and the double-ln Gumbel key from the
    // same 61-bit content hash; selection is the rank the Spark
    // threshold-broadcast flag reproduces without a window
    "q123_dsir_resample" -> {
      def steps(p: String, x: String): String =
        graft.functions.PinnedMath.lnFpSteps(p, x)
          .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
      val lnFpScale = graft.functions.PinnedMath.lnFp(
        graft.functions.PinnedMath.FpScale)
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS w FROM documents),
         |ft AS (SELECT doc_id, source, unnest(list_concat(w,
         |  list_transform(range(1, len(w)), bi -> w[bi] || ' ' || w[bi + 1]))) AS f
         |  FROM t),
         |fb AS (SELECT doc_id, source, ${polyHashSql("f")} % $DsirBuckets AS b FROM ft),
         |cp AS (SELECT b, CAST(count(*) AS BIGINT) AS cp FROM fb
         |  WHERE source IN (${NbPosSources.map(s => s"'$s'").mkString(", ")}) GROUP BY b),
         |cq AS (SELECT b, CAST(count(*) AS BIGINT) AS cq FROM fb GROUP BY b),
         |m AS (SELECT coalesce(cp.b, cq.b) AS b, coalesce(cp, 0) AS cp,
         |  coalesce(cq, 0) AS cq FROM cp FULL JOIN cq ON cp.b = cq.b),
         |bl AS (SELECT b, ${steps("lp", "(cp + 1)")}, ${steps("lq", "(cq + 1)")} FROM m),
         |bw AS (SELECT b, CAST(lp_lnfp - lq_lnfp AS BIGINT) AS dw FROM bl),
         |tt AS (SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cq) AS BIGINT) AS nq FROM m),
         |bb AS (SELECT ${steps("lnp", s"(np + $DsirBuckets)")},
         |  ${steps("lnq", s"(nq + $DsirBuckets)")} FROM tt),
         |base AS (SELECT CAST(lnq_lnfp - lnp_lnfp AS BIGINT) AS base_fp FROM bb),
         |pd AS (SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(coalesce(bw.dw, 0)) AS BIGINT) AS s
         |  FROM fb LEFT JOIN bw USING (b) GROUP BY fb.doc_id),
         |lw AS (SELECT d.doc_id, CAST(coalesce(pd.n, 0) AS BIGINT) AS n_feats,
         |  CAST(coalesce(pd.s, 0) + coalesce(pd.n, 0) * base.base_fp AS BIGINT) AS logw_fp
         |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id CROSS JOIN base),
         |hh AS (SELECT doc_id, ${graft.TrainingDataQueries.polyHash61StepsSql("text")} FROM documents),
         |u1 AS (SELECT doc_id, ${steps("lnu", "(h + 1)")} FROM hh),
         |g1 AS (SELECT doc_id,
         |  greatest(${graft.functions.PinnedMath.LnFp2Pow61} - lnu_lnfp, 1) AS g1 FROM u1),
         |g2 AS (SELECT doc_id, ${steps("lng", "g1")} FROM g1),
         |ky AS (SELECT lw.doc_id, lw.n_feats, lw.logw_fp,
         |  CAST(lw.logw_fp + $lnFpScale - g2.lng_lnfp AS BIGINT) AS key_fp
         |  FROM lw JOIN g2 USING (doc_id))
         |SELECT doc_id, n_feats, logw_fp, key_fp,
         |  (row_number() OVER (ORDER BY key_fp DESC, doc_id ASC)) <= $DsirSampleN AS selected
         |FROM ky""".stripMargin
    },

    // C4-bundle twin: the same injected text (generated from the same
    // fragment table), the same line predicates as list lambdas, counts
    // as len(list_filter), page flags, and the cleaned re-join
    "q124_c4_rules" -> {
      val endsOk = graft.functions.TextFunctions.C4EndMarks
        .map(m => s"ends_with(rtrim(l), '${if (m == "\"") "\"" else m}')")
        .mkString("(", " OR ", ")")
      val policy = graft.functions.TextFunctions.C4PolicyPhrases
        .map(p => s"contains(lower(l), '$p')").mkString("(", " OR ", ")")
      val minW = graft.functions.TextFunctions.C4MinWordsPerLine
      val nw = "len(list_filter(string_split_regex(l, '\\s+'), x -> len(x) > 0))"
      val keepPred = s"$endsOk AND $nw >= $minW AND " +
        s"NOT contains(lower(l), 'javascript') AND NOT $policy"
      s"""WITH base AS (SELECT doc_id, $c4InjectedSql AS t FROM documents),
         |w AS (SELECT doc_id, t,
         |  list_filter(string_split(t, chr(10)), l -> len(trim(l)) > 0) AS lines
         |  FROM base),
         |m AS (SELECT doc_id, t, lines,
         |  list_filter(lines, l -> $keepPred) AS kept
         |  FROM w)
         |SELECT doc_id,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS kept_lines,
         |  CAST(len(list_filter(lines, l -> NOT $endsOk)) AS BIGINT) AS rm_no_terminal,
         |  CAST(len(list_filter(lines, l -> $nw < $minW)) AS BIGINT) AS rm_short,
         |  CAST(len(list_filter(lines, l -> contains(lower(l), 'javascript'))) AS BIGINT) AS rm_javascript,
         |  CAST(len(list_filter(lines, l -> $policy)) AS BIGINT) AS rm_policy,
         |  CAST(CASE WHEN len(kept) >= ${graft.functions.TextFunctions.C4MinKeptLines} THEN 1 ELSE 0 END AS INTEGER) AS c1_min_lines,
         |  CAST(CASE WHEN contains(lower(t), 'lorem ipsum') THEN 0 ELSE 1 END AS INTEGER) AS c2_lorem,
         |  CAST(CASE WHEN contains(t, '{') THEN 0 ELSE 1 END AS INTEGER) AS c3_brace,
         |  CAST(CASE WHEN len(kept) >= ${graft.functions.TextFunctions.C4MinKeptLines}
         |    AND NOT contains(lower(t), 'lorem ipsum')
         |    AND NOT contains(t, '{') THEN 1 ELSE 0 END AS INTEGER) AS c4_keep,
         |  coalesce(array_to_string(kept, chr(10)), '') AS text_clean
         |FROM m""".stripMargin
    },

    // contamination-verdict twin: four gate fragments — q45's posting
    // semi-join, q98's winnowing extent, q127's minhash cross with exact
    // Jaccard, q116's sign-band cross with exact cosine — each reduced to
    // a distinct train-id set, then integer mask arithmetic
    "q134_contamination_verdict" -> {
      val k = SubstrK; val len = SubstrLen
      import graft.TrainingDataQueries.{minhashSigCtesSql, embBaseSql, signKeySql, dotSql}
      s"""WITH $minhashSigCtesSql,
         |ngb AS (SELECT DISTINCT unnest(hashes) AS h FROM sets WHERE id <= $ContamSplitId),
         |ngh AS (SELECT DISTINCT p.id AS doc_id
         |  FROM (SELECT id, unnest(hashes) AS h FROM sets WHERE id > $ContamSplitId) p
         |  JOIN ngb USING (h)),
         |trd AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id > $ContamSplitId),
         |bnd AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id <= $ContamSplitId),
         |${winnowFpSql("tr", "trd")},
         |${winnowFpSql("be", "bnd")},
         |sbc AS (SELECT t.doc_id AS tr_id, t.text AS ta, t.n AS la, t.apos AS pa,
         |  b.text AS tb, b.n AS lb, b.apos AS pb
         |  FROM fp_tr t JOIN fp_be b ON t.h = b.h),
         |sbe AS (SELECT tr_id,
         |  CASE WHEN substr(ta, CAST(pa AS INT), $k) = substr(tb, CAST(pb AS INT), $k)
         |    THEN $k
         |      + coalesce(list_aggregate(list_transform(range(0, least(pa, pb)),
         |          ll -> CASE WHEN substr(ta, CAST(pa - ll AS INT), CAST(ll AS INT))
         |                     = substr(tb, CAST(pb - ll AS INT), CAST(ll AS INT)) THEN ll END), 'max'), 0)
         |      + coalesce(list_aggregate(list_transform(range(0, least(la - pa - $k + 1, lb - pb - $k + 1) + 1),
         |          rr -> CASE WHEN substr(ta, CAST(pa + $k AS INT), CAST(rr AS INT))
         |                     = substr(tb, CAST(pb + $k AS INT), CAST(rr AS INT)) THEN rr END), 'max'), 0)
         |    ELSE 0 END AS extent
         |  FROM sbc),
         |sbh AS (SELECT DISTINCT tr_id AS doc_id FROM sbe WHERE extent >= $len),
         |fzc AS (SELECT DISTINCT a.id AS tr_id, b2.id AS be_id
         |  FROM buckets a JOIN buckets b2 ON a.band = b2.band AND a.key = b2.key
         |  AND a.id > $ContamSplitId AND b2.id <= $ContamSplitId),
         |fzh AS (SELECT DISTINCT fzc.tr_id AS doc_id
         |  FROM fzc JOIN sets sa ON fzc.tr_id = sa.id JOIN sets sb ON fzc.be_id = sb.id
         |  WHERE round(len(list_intersect(sa.hashes, sb.hashes)) * 1.0 /
         |        (len(sa.hashes) + len(sb.hashes) - len(list_intersect(sa.hashes, sb.hashes))), 6) >= 0.5),
         |$embBaseSql,
         |emb2 AS (SELECT vec_id, bb.band AS band, ${signKeySql("v", "bb.band")} AS key
         |  FROM en CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS band) bb),
         |emc AS (SELECT DISTINCT c.vec_id, r.vec_id AS ref_id
         |  FROM emb2 c JOIN emb2 r ON c.band = r.band AND c.key = r.key
         |  WHERE c.vec_id > $ContamSplitId AND r.vec_id <= $ContamSplitId),
         |emh AS (SELECT DISTINCT emc.vec_id AS doc_id
         |  FROM emc JOIN en a ON emc.vec_id = a.vec_id JOIN en b ON emc.ref_id = b.vec_id
         |  WHERE round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 6) >= 0.3),
         |flags AS (SELECT d.doc_id,
         |  CAST(CASE WHEN ngh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS ngram_hit,
         |  CAST(CASE WHEN sbh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS substr_hit,
         |  CAST(CASE WHEN fzh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS fuzzy_hit,
         |  CAST(CASE WHEN emh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS embed_hit
         |  FROM documents d
         |    LEFT JOIN ngh ON d.doc_id = ngh.doc_id
         |    LEFT JOIN sbh ON d.doc_id = sbh.doc_id
         |    LEFT JOIN fzh ON d.doc_id = fzh.doc_id
         |    LEFT JOIN emh ON d.doc_id = emh.doc_id
         |  WHERE d.doc_id > $ContamSplitId)
         |SELECT doc_id, ngram_hit, substr_hit, fuzzy_hit, embed_hit,
         |  CAST(ngram_hit + substr_hit * 2 + fuzzy_hit * 4 + embed_hit * 8 AS INTEGER) AS method_mask,
         |  CAST(CASE WHEN ngram_hit + substr_hit + fuzzy_hit + embed_hit = 0
         |    THEN 1 ELSE 0 END AS INTEGER) AS clean
         |FROM flags""".stripMargin
    },

    // snapshot-diff twin: md5 is lowercase hex on both engines; the same
    // id-range split and % 50 edit
    "q133_snapshot_diff" ->
      s"""WITH oldd AS (SELECT doc_id, md5(text) AS old_hash FROM documents WHERE doc_id <= 400),
         |newd AS (SELECT doc_id, md5(
         |  CASE WHEN doc_id % 50 = 0 THEN text || ' [edited]' ELSE text END) AS new_hash
         |  FROM documents WHERE doc_id > 100)
         |SELECT coalesce(oldd.doc_id, newd.doc_id) AS doc_id,
         |  CASE WHEN oldd.doc_id IS NULL THEN 'added'
         |       WHEN newd.doc_id IS NULL THEN 'removed'
         |       WHEN old_hash = new_hash THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  old_hash, new_hash
         |FROM oldd FULL JOIN newd ON oldd.doc_id = newd.doc_id""".stripMargin,

    // verdict twin: the NB scoring chain + gopher/C4/entropy/dup
    // fragments rebuilt from the SAME TextFunctions constants, all flags
    // integer CASEs, the mask pure integer arithmetic
    "q132_curation_verdict" -> {
      def steps(p: String, x: String): String =
        graft.functions.PinnedMath.lnFpSteps(p, x)
          .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
      val tf = graft.functions.TextFunctions
      val stopArms = tf.GopherStopSmall
        .map(s => s"CASE WHEN list_contains(toks, '$s') THEN 1 ELSE 0 END")
        .mkString(" + ")
      val endsOk = tf.C4EndMarks
        .map(m => s"ends_with(rtrim(l), '${if (m == "\"") "\"" else m}')")
        .mkString("(", " OR ", ")")
      val policy = tf.C4PolicyPhrases
        .map(p => s"contains(lower(l), '$p')").mkString("(", " OR ", ")")
      val nw = "len(list_filter(string_split_regex(l, '\\s+'), x -> len(x) > 0))"
      val keepPred = s"$endsOk AND $nw >= ${tf.C4MinWordsPerLine} AND " +
        s"NOT contains(lower(l), 'javascript') AND NOT $policy"
      s"""WITH docs_inj AS (SELECT doc_id, source, $verdictInjectedSql AS text FROM documents),
         |${nbScoreCtesSqlOver("docs_inj")},
         |gw AS (SELECT doc_id, text AS t,
         |  list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS words,
         |  list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines,
         |  $toksSql AS toks
         |  FROM docs_inj),
         |gm AS (SELECT doc_id,
         |  CAST(len(words) AS BIGINT) AS n_words,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(words, x -> CAST(len(x) AS BIGINT))), (a, x) -> a + x) AS sum_len,
         |  CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
         |  CAST(len(t) - len(replace(t, '#', '')) AS BIGINT)
         |    + CAST((len(t) - len(replace(t, '...', ''))) // 3 AS BIGINT) AS symbol_count,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*]'))) AS BIGINT) AS bullet_lines,
         |  CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS BIGINT) AS ellipsis_lines,
         |  CAST($stopArms AS BIGINT) AS n_stop_present
         |  FROM gw),
         |gk AS (SELECT doc_id, CAST(CASE WHEN
         |  n_words >= ${tf.GopherMinWords} AND n_words <= ${tf.GopherMaxWords}
         |  AND n_words > 0 AND sum_len >= 3 * n_words AND sum_len <= 10 * n_words
         |  AND 10 * symbol_count <= n_words
         |  AND 10 * bullet_lines <= 9 * n_lines
         |  AND 10 * ellipsis_lines <= 3 * n_lines
         |  AND 5 * alpha_words >= 4 * n_words
         |  AND n_stop_present >= 2 THEN 1 ELSE 0 END AS INTEGER) AS g_keep FROM gm),
         |ckk AS (SELECT doc_id, CAST(CASE WHEN
         |  len(list_filter(lines, l -> $keepPred)) >= ${tf.C4MinKeptLines}
         |  AND NOT contains(lower(t), 'lorem ipsum')
         |  AND NOT contains(t, '{') THEN 1 ELSE 0 END AS INTEGER) AS c_keep FROM gw),
         |ewc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest($toksSql) AS w FROM docs_inj) GROUP BY doc_id, w),
         |elc AS (SELECT doc_id, c, ${steps("elnc", "c")} FROM ewc),
         |epd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |  CAST(sum(c * elnc_lnfp) AS BIGINT) AS s FROM elc GROUP BY doc_id),
         |el2 AS (SELECT doc_id, n, s, ${steps("elnn", "n")} FROM epd),
         |ek AS (SELECT doc_id, CAST(CASE WHEN n > 0
         |  AND n * elnn_lnfp - s >= n * ${graft.functions.PinnedMath.FpScale}
         |  THEN 1 ELSE 0 END AS INTEGER) AS entropy_ok FROM el2),
         |ddp AS (SELECT doc_id, CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY text)
         |  THEN 1 ELSE 0 END AS INTEGER) AS not_dup FROM docs_inj),
         |v AS (SELECT d.doc_id, gk.g_keep, ckk.c_keep,
         |  CAST(CASE WHEN sc.logodds_fp >= 0 THEN 1 ELSE 0 END AS INTEGER) AS nb_pos,
         |  CAST(coalesce(ek.entropy_ok, 0) AS INTEGER) AS entropy_ok,
         |  ddp.not_dup
         |  FROM docs_inj d
         |    JOIN gk USING (doc_id) JOIN ckk USING (doc_id)
         |    JOIN sc ON d.doc_id = sc.doc_id
         |    LEFT JOIN ek ON d.doc_id = ek.doc_id
         |    JOIN ddp ON d.doc_id = ddp.doc_id)
         |SELECT doc_id, g_keep, c_keep, nb_pos, entropy_ok, not_dup,
         |  CAST((1 - g_keep) + (1 - c_keep) * 2 + (1 - nb_pos) * 4
         |    + (1 - entropy_ok) * 8 + (1 - not_dup) * 16 AS INTEGER) AS fail_mask,
         |  CAST(CASE WHEN g_keep + c_keep + nb_pos + entropy_ok + not_dup = 5
         |    THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM v""".stripMargin
    },

    // span-removal twin: q95's fingerprint CTEs, then the maximal-extent
    // expansion replayed via the MONOTONE substr trick — the block of l
    // chars immediately left of the anchor matching implies every shorter
    // block matches, so count == max — interval merge as a running-max
    // window, and the rebuild as an ordered string_agg of gap pieces
    "q131_substring_remove" -> {
      val k = SubstrK; val len = SubstrLen
      s"""WITH dcs AS (SELECT doc_id, text, length(text) AS n FROM documents),
         |${winnowFpSql("d", "dcs")},
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, a.apos AS pos_a, a.text AS ta, a.n AS la,
         |  b.doc_id AS id_b, b.apos AS pos_b, b.text AS tb, b.n AS lb
         |  FROM fp_d a JOIN fp_d b ON a.h = b.h AND a.doc_id < b.doc_id
         |  WHERE substr(a.text, CAST(a.apos AS INT), $k) = substr(b.text, CAST(b.apos AS INT), $k)),
         |ext AS (SELECT id_b, pos_b,
         |  len(list_filter(range(1, CAST(least(pos_a, pos_b) AS BIGINT)),
         |    ll -> substr(ta, CAST(pos_a - ll AS INT), CAST(ll AS INT))
         |        = substr(tb, CAST(pos_b - ll AS INT), CAST(ll AS INT)))) AS lft,
         |  len(list_filter(range(1, CAST(least(la - pos_a - $k + 1, lb - pos_b - $k + 1) AS BIGINT) + 1),
         |    rr -> substr(ta, CAST(pos_a + $k AS INT), CAST(rr AS INT))
         |        = substr(tb, CAST(pos_b + $k AS INT), CAST(rr AS INT)))) AS rgt
         |  FROM cand),
         |spans AS (SELECT DISTINCT id_b AS id,
         |  CAST(pos_b - lft AS BIGINT) AS s,
         |  CAST(pos_b - lft + $k + lft + rgt - 1 AS BIGINT) AS e
         |  FROM ext WHERE $k + lft + rgt >= $len),
         |mk AS (SELECT id, s, e,
         |  max(e) OVER (PARTITION BY id ORDER BY s, e
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM spans),
         |mg AS (SELECT id, s, e,
         |  CAST(sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
         |  FROM mk),
         |merged AS (SELECT id, grp, min(s) AS s, max(e) AS e FROM mg GROUP BY id, grp),
         |wt AS (SELECT m.id, m.s, m.e, d.text AS t,
         |  coalesce(lag(m.e) OVER (PARTITION BY m.id ORDER BY m.s), 0) AS pe,
         |  lead(m.s) OVER (PARTITION BY m.id ORDER BY m.s) IS NULL AS islast
         |  FROM merged m JOIN dcs d ON m.id = d.doc_id),
         |pieces AS (
         |  SELECT id, s AS ord, substr(t, CAST(pe + 1 AS INT), CAST(s - pe - 1 AS INT)) AS piece FROM wt
         |  UNION ALL
         |  SELECT id, CAST(2147483647 AS BIGINT) AS ord,
         |    substr(t, CAST(e + 1 AS INT), CAST(length(t) - e AS INT)) AS piece
         |  FROM wt WHERE islast),
         |rebuilt AS (SELECT id, string_agg(piece, '' ORDER BY ord) AS clean FROM pieces GROUP BY id),
         |stats AS (SELECT id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(e - s + 1) AS BIGINT) AS chars_removed FROM merged GROUP BY id)
         |SELECT d.doc_id,
         |  coalesce(st.n_spans, 0) AS n_spans,
         |  coalesce(st.chars_removed, 0) AS chars_removed,
         |  coalesce(rb.clean, d.text) AS text_clean
         |FROM documents d
         |  LEFT JOIN stats st ON d.doc_id = st.id
         |  LEFT JOIN rebuilt rb ON d.doc_id = rb.id""".stripMargin
    },

    // blocklist twin: the same injection expression, token/2-gram/3-gram
    // windows via list_transform(range), VALUES-table list join, and the
    // (hits DESC, category ASC) worst pick as a row_number window — all
    // integer ordering, engine-exact
    "q130_blocklist_screen" -> {
      val values = BlockCats.map { case (c, p) =>
        s"('$c', '$p', ${p.split("\\s+").length})"
      }.mkString(", ")
      s"""WITH base AS (SELECT doc_id, $blockInjectedSql AS text FROM documents),
         |tk AS (SELECT doc_id, $toksSql AS w FROM base),
         |bl(category, phrase, n) AS (SELECT * FROM (VALUES $values)),
         |g1 AS (SELECT doc_id, unnest(w) AS g FROM tk),
         |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), gi -> w[gi]||' '||w[gi+1])) AS g FROM tk),
         |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)-1), gi -> w[gi]||' '||w[gi+1]||' '||w[gi+2])) AS g FROM tk),
         |hits AS (SELECT doc_id, category, CAST(count(*) AS BIGINT) AS hits FROM (
         |  SELECT g1.doc_id, bl.category FROM g1 JOIN bl ON bl.n = 1 AND g1.g = bl.phrase
         |  UNION ALL SELECT g2.doc_id, bl.category FROM g2 JOIN bl ON bl.n = 2 AND g2.g = bl.phrase
         |  UNION ALL SELECT g3.doc_id, bl.category FROM g3 JOIN bl ON bl.n = 3 AND g3.g = bl.phrase)
         |  GROUP BY doc_id, category),
         |pd AS (SELECT doc_id, CAST(sum(hits) AS BIGINT) AS total_hits,
         |  CAST(count(*) AS BIGINT) AS n_categories FROM hits GROUP BY doc_id),
         |wr AS (SELECT doc_id, category AS worst_category FROM (
         |  SELECT doc_id, category,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, category ASC) AS rn
         |  FROM hits) WHERE rn = 1)
         |SELECT d.doc_id,
         |  coalesce(pd.total_hits, 0) AS total_hits,
         |  coalesce(pd.n_categories, 0) AS n_categories,
         |  wr.worst_category,
         |  CAST(CASE WHEN pd.doc_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |  LEFT JOIN wr ON d.doc_id = wr.doc_id""".stripMargin
    },

    // entropy twin: per-(doc, distinct token) pinned ln, HUGEINT-safe
    // integer folds, the same left-join survival rule as q99
    "q129_token_entropy" -> {
      def steps(p: String, x: String): String =
        graft.functions.PinnedMath.lnFpSteps(p, x)
          .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
      s"""WITH wc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest($toksSql) AS w FROM documents) GROUP BY doc_id, w),
         |lc AS (SELECT doc_id, c, ${steps("lnc", "c")} FROM wc),
         |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS v,
         |  CAST(sum(c * lnc_lnfp) AS BIGINT) AS s FROM lc GROUP BY doc_id),
         |l2 AS (SELECT doc_id, n, v, s, ${steps("lnn", "n")} FROM pd)
         |SELECT d.doc_id,
         |  CAST(coalesce(l2.n, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(l2.v, 0) AS BIGINT) AS n_distinct,
         |  CASE WHEN coalesce(l2.n, 0) > 0 THEN round(l2.v * 1.0 / l2.n, 6) END AS ttr,
         |  CAST(l2.n * l2.lnn_lnfp - l2.s AS BIGINT) AS entropy_fp,
         |  CASE WHEN coalesce(l2.n, 0) > 0
         |    THEN CAST(l2.n * l2.lnn_lnfp - l2.s AS DOUBLE) / CAST(l2.n AS DOUBLE)
         |      / CAST(${graft.functions.PinnedMath.FpScale} AS DOUBLE) END AS entropy_nats
         |FROM documents d LEFT JOIN l2 ON d.doc_id = l2.doc_id""".stripMargin
    },

    // CCNet-bucket twin: q99's pinned-ln unigram replay with the model
    // CTEs restricted to the seed sources, integer-millinat means via
    // double floor division (non-negative, so `//` == Spark `div`), the
    // q47-style bounded-histogram window per language, and the rank
    // decomposition mirrored verbatim from Quantiles
    "q126_perplexity_buckets" -> {
      def steps(p: String, x: String): String =
        graft.functions.PinnedMath.lnFpSteps(p, x)
          .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
      def rank(k: Int) = s"(n // 3) * $k + ((n % 3) * $k + 2) // 3"
      s"""WITH ref AS (SELECT text FROM documents WHERE source IN (${nbSrcList(NbPosSources)})),
         |wt AS (SELECT unnest($toksSql) AS w FROM ref),
         |vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS tf FROM wt GROUP BY w),
         |tot AS (SELECT CAST(sum(tf) + count(*) AS BIGINT) AS __d FROM vocab),
         |lnd AS (SELECT ${steps("lnd", "__d")} FROM tot),
         |wl AS (SELECT w, ${steps("lnw", "(tf + 1)")} FROM vocab),
         |dt AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |pd AS (SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(coalesce(wl.lnw_lnfp, 0)) AS BIGINT) AS s
         |  FROM dt LEFT JOIN wl USING (w) GROUP BY dt.doc_id),
         |m AS (SELECT d.doc_id, d.lang,
         |  CAST(coalesce(pd.n, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(pd.n, 0) * lnd.lnd_lnfp - coalesce(pd.s, 0) AS BIGINT) AS surprisal_fp
         |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id CROSS JOIN lnd),
         |mm AS (SELECT *, CASE WHEN n_tokens > 0
         |  THEN CAST((surprisal_fp // n_tokens) // 1000000 AS BIGINT) END AS mean_mnats FROM m),
         |h AS (SELECT lang, mean_mnats AS v, CAST(count(*) AS BIGINT) AS cnt
         |  FROM mm WHERE mean_mnats IS NOT NULL GROUP BY lang, v),
         |hc AS (SELECT lang, v,
         |  CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS BIGINT) AS cumb,
         |  CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM h),
         |b AS (SELECT lang, v, CAST(1
         |  + (CASE WHEN cumb >= ${rank(1)} THEN 1 ELSE 0 END)
         |  + (CASE WHEN cumb >= ${rank(2)} THEN 1 ELSE 0 END) AS INTEGER) AS bucket
         |  FROM hc)
         |SELECT mm.doc_id, mm.lang, mm.n_tokens, mm.surprisal_fp, mm.mean_mnats, b.bucket
         |FROM mm LEFT JOIN b ON mm.lang IS NOT DISTINCT FROM b.lang AND mm.mean_mnats = b.v""".stripMargin
    }
  )
}
