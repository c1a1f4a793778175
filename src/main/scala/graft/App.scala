package graft

import org.apache.spark.sql.functions.{col, lit, to_date}

import graft.domain.{BackfillConfig, OnlineSyncConfig, PointInTimeJoinConfig, Schemas}
import graft.operators.{BackfillPipeline, OnlineSyncPipeline, PointInTimeJoinPipeline}
import graft.serving.FeatureLookup
import graft.sources.{InMemoryKVStore, KVClient}

/** CLI entry point — same subcommands and flag names as the reference
  * (App.scala:33-126; parseArgs App.scala:150-156):
  *
  * {{{
  *   graft.App backfill --events-raw-path <path> --output-table <table>
  *                      --start-date <yyyy-MM-dd> --end-date <yyyy-MM-dd>
  *   graft.App point-in-time-join --labels-path <path>
  *                      --features-table <table> --output-path <path>
  *   graft.App online-sync --features-table <table>
  *                      [--hours-back <n=24>] [--cutoff <yyyy-MM-dd>]
  *                      [--kv memory|redis:host:port[:pw]]
  *                      [--redis-host <h> [--redis-port <p>] [--redis-password <pw>]]
  *   graft.App offline-lookup --features-table <table> --user-id <id>
  *                      --as-of <yyyy-MM-dd>
  *   graft.App corpus-prep --docs-path <path> --output-path <path>
  *                      [--quota <n=100>] [--budget <tokens=512>] [--quality-pct <p=25>]
  *                      [--bucket-width <ids=4096>] [--gate-storage <level=MEMORY_AND_DISK>]
  *                      [--state-path <dir>]
  *   graft.App sketch   (--docs-path <path> | --merge <p1,p2,...>) --output-path <path>
  *                      [--group-col <c=lang>] [--value-col <c=text>] [--log-m <p=14>]
  *                      [--estimate-path <path>]
  *   graft.App demo     [--events-raw-path <path>]
  * }}}
  *
  * `demo` is the reference's `make demo` equivalent: the full
  * backfill -> point-in-time join -> online-sync -> serving-lookup chain in
  * one command against the bundled sample events.
  *
  * The KV store behind online-sync is selected by `--kv`: `memory` (the
  * in-JVM store, default) or `redis:host:port[:password]` — the vendored
  * dependency-free [[graft.sources.RespKVClient]], since SET/GET need no
  * driver jar. Any other store implements [[graft.sources.KVClient]] and
  * registers here; pipelines and payload format don't change. `--cutoff`
  * pins the freshness cutoff for reproducible runs (the reference anchors
  * to current_date()).
  */
object App {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { println(usage); sys.exit(1) }
    val platform = PlatformProvider.createLocal(s"graft-${args(0)}")
    try run(platform, args.toIndexedSeq)
    finally platform.stop()
  }

  /** missing-flag errors name the flag, not a map key */
  private implicit class Flags(o: Map[String, String]) {
    def required(key: String): String = o.getOrElse(key,
      throw new IllegalArgumentException(s"missing required flag --$key"))
  }

  /** Dispatch on a provided platform (tests inject the in-memory one). */
  def run(platform: Platform, args: Seq[String]): Unit = {
    val Platform(spark, fetcher, writer) = platform
    args.head match {
      case "backfill" =>
        val o = parseArgs(args.tail)
        val config = BackfillConfig(
          eventsRawPath = o.required("events-raw-path"),
          outputTable = o.required("output-table"),
          startDate = o.required("start-date"),
          endDate = o.required("end-date"),
          buckets = o.get("buckets").map(_.toInt))
        // --incremental true: replace only the range's day partitions
        // instead of overwriting the whole table
        if (o.get("incremental").exists(_.toBoolean))
          BackfillPipeline.runIncremental(spark, fetcher, writer, config)
        else BackfillPipeline.run(spark, fetcher, writer, config)
        // count what landed, not the plan — counting the returned dataset
        // would re-execute the whole scan + band join
        val written = fetcher.readTable(spark, config.outputTable).count()
        println(s"[graft] backfill: table ${o("output-table")} now holds $written feature rows")

      case "point-in-time-join" =>
        val o = parseArgs(args.tail)
        val out = PointInTimeJoinPipeline.run(spark, fetcher, writer, PointInTimeJoinConfig(
          labelsPath = o.required("labels-path"),
          featuresTable = o.required("features-table"),
          outputPath = o.required("output-path"),
          useUnionPlan = o.getOrElse("plan", "union") match {
            case "union" => true
            case "rank" => false
            case other => throw new IllegalArgumentException(
              s"--plan must be 'union' or 'rank', got '$other'")
          }))
        out match {
          // count what landed, not the plan — counting the returned dataset
          // would re-run the join
          case Some(_) =>
            val written = fetcher.readParquet(spark, o("output-path"), Some(Schemas.trainingData)).count()
            println(s"[graft] point-in-time-join: wrote $written training rows to ${o("output-path")}")
          case None => println("[graft] point-in-time-join: empty join, nothing written")
        }

      case "online-sync" =>
        val o = parseArgs(args.tail)
        val n = runOnlineSync(spark, fetcher, o)
        println(s"[graft] online-sync: wrote $n keys")

      case "corpus-prep" =>
        val o = parseArgs(args.tail)
        val docs = fetcher.readParquet(spark, o.required("docs-path"))
        val quota = o.get("quota").map(_.toLong).getOrElse(100L)
        val budget = o.get("budget").map(_.toLong).getOrElse(512L)
        val qNum = o.get("quality-pct").map(_.toLong).getOrElse(25L)
        // packing parallelism knob (output-invariant — see
        // CorpusPipeline's scaladoc for sizing at scale)
        val bucketWidth = o.get("bucket-width").map(_.toLong).getOrElse(4096L)
        val gateStorage = o.get("gate-storage")
          .map(org.apache.spark.storage.StorageLevel.fromString)
          .getOrElse(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val prepared = o.get("state-path") match {
          case None =>
            operators.CorpusPipeline.prepare(
              docs, quota, budget, qNum, 100L, bucketWidth, gateStorage)
          case Some(statePath) =>
            // incremental mode: --docs-path is ONE SHARD. If state exists,
            // only the shard's text is shingled/scored; the stored corpus
            // re-enters as metadata + signatures. The three state tables
            // then grow by APPEND (never overwritten — appends read only
            // the shard plus, for pairs, the other tables' files, so a
            // reader of the pre-append snapshot is never clobbered).
            import operators.CorpusPipeline
            // normalizeState on read: meta is the append COMMIT ANCHOR
            // (written last), so signature/pair rows from a crashed
            // partial append — or duplicates from its retry — are
            // discarded until their shard's meta lands
            def readState() = CorpusPipeline.normalizeState(CorpusPipeline.CorpusState(
              fetcher.readParquet(spark, s"$statePath/meta"),
              fetcher.readParquet(spark, s"$statePath/signatures"),
              fetcher.readParquet(spark, s"$statePath/pairs")))
            // EXISTENCE decides init-vs-append; a read failure of existing
            // state must abort loudly, never silently re-init (the init
            // branch overwrites — it would destroy every prior shard)
            val prior =
              if (fetcher.exists(spark, s"$statePath/meta")) Some(readState()) else None
            prior match {
              case None =>
                val st = CorpusPipeline.buildState(docs)
                // meta LAST here too: it is the existence probe AND the
                // commit anchor, so a crash mid-init leaves no meta and
                // the retry takes this branch again (meta-first would
                // wedge the path: exists=true, signatures missing, every
                // later run aborting until manual cleanup)
                writer.writeParquet(st.pairs, s"$statePath/pairs")
                writer.writeParquet(st.signatures, s"$statePath/signatures")
                writer.writeParquet(st.meta, s"$statePath/meta")
                println(s"[graft] corpus-prep: initialized state at $statePath")
              case Some(st0) =>
                val inc = CorpusPipeline.shardIncrement(st0, docs)
                // pairs FIRST: its job reads the signatures table's
                // current files; appending sigs before it would race
                writer.writeParquet(inc.pairs, s"$statePath/pairs", mode = "append")
                writer.writeParquet(inc.signatures, s"$statePath/signatures", mode = "append")
                writer.writeParquet(inc.meta, s"$statePath/meta", mode = "append")
                println(s"[graft] corpus-prep: appended shard state at $statePath")
            }
            CorpusPipeline.prepareFromState(readState(),
              quota, budget, qNum, 100L, bucketWidth, gateStorage)
        }
        writer.writeParquet(prepared, o.required("output-path"))
        val kept = fetcher.readParquet(spark, o.required("output-path")).count()
        println(s"[graft] corpus-prep: wrote $kept packed docs to ${o("output-path")}")

      // mergeable cardinality sketches: `sketch --docs-path` builds one
      // dense HLL vector per group for a shard; `sketch --merge a,b,...`
      // element-wise-max-merges shard sketch tables (merge-of-parts ==
      // sketch-of-whole exactly); `--estimate-path` also writes the
      // per-group approx_distinct read off the (merged) vectors
      case "sessionize" =>
        val o = parseArgs(args.tail)
        val events = BackfillPipeline.readEvents(spark, fetcher, o.required("events-raw-path"))
        val gap = o.get("gap-seconds").map(_.toLong).getOrElse(1800L)
        val sessions = operators.Sessionize.sessions(events, gap)
        writer.writeParquet(sessions, o.required("output-path"))
        // funnel/transition reports are tiny (<= types^2 rows) — print them
        // instead of demanding more output flags
        o.get("funnel-steps").foreach { stepsCsv =>
          val steps = stepsCsv.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          operators.Sessionize.funnel(events, gap, steps)
            .orderBy("depth_level").collect().foreach { r =>
              println(s"[graft] funnel depth ${r.getInt(0)} (${r.getString(1)}): ${r.getLong(2)} sessions")
            }
        }
        val n = fetcher.readParquet(spark, o("output-path")).count()
        println(s"[graft] sessionize: wrote $n sessions to ${o("output-path")}")

      case "curate" =>
        // one-command text curation: segment dedup (optionally incremental
        // against a stored segment-state table) -> PII redaction ->
        // optional context truncation -> curated parquet
        val o = parseArgs(args.tail)
        val docs = fetcher.readParquet(spark, o.required("docs-path"))
        val delim = o.getOrElse("delimiter", "\n\n")
        import org.apache.spark.sql.functions.{array_join, col, least, lit, size, slice}
        import graft.functions.TextFunctions
        val (deduped, appendState) = o.get("state-path") match {
          case None =>
            (operators.Dedup.dedupSegments(docs, delimiter = delim), () => ())
          case Some(sp) =>
            // same existence-probe discipline as corpus-prep: a read
            // failure of existing state aborts loudly, never silently
            // re-initializes
            if (!fetcher.exists(spark, s"$sp/segments")) {
              (operators.Dedup.dedupSegments(docs, delimiter = delim), () => {
                writer.writeParquet(
                  operators.Dedup.segmentState(docs, delimiter = delim), s"$sp/segments")
                println(s"[graft] curate: initialized segment state at $sp")
              })
            } else {
              val st = fetcher.readParquet(spark, s"$sp/segments")
              (operators.Dedup.dedupSegmentsIncremental(docs, st, delimiter = delim), () => {
                writer.writeParquet(
                  operators.Dedup.incrementSegmentState(docs, st, delimiter = delim),
                  s"$sp/segments", mode = "append")
                println(s"[graft] curate: appended shard segments at $sp")
              })
            }
        }
        val counts = TextFunctions.piiCounts(col("text_dedup")).map { case (n, c) => c.as(n) }
        val clean = TextFunctions.redactPii(col("text_dedup"))
        val curated = o.get("max-tokens").map(_.toInt) match {
          case None =>
            deduped.select(Seq(col("doc_id"), col("n_segments"), col("n_kept")) ++
              counts :+ clean.as("text_curated"): _*)
          case Some(maxTokens) =>
            require(maxTokens > 0, "--max-tokens must be positive")
            val toks = TextFunctions.tokens(clean)
            deduped.select(Seq(col("doc_id"), col("n_segments"), col("n_kept")) ++
              counts ++ Seq(
                size(toks).cast("long").as("n_tokens"),
                least(size(toks).cast("long"), lit(maxTokens.toLong)).as("n_tokens_kept"),
                array_join(slice(toks, 1, maxTokens), " ").as("text_curated")): _*)
        }
        // OUTPUT first, state append after: a crash between the two leaves
        // state un-appended and the retry redoes the shard idempotently —
        // appending first would make the retry treat the shard's own
        // segments as already seen and drop them all
        writer.writeParquet(curated, o.required("output-path"))
        appendState()
        val nCur = fetcher.readParquet(spark, o("output-path")).count()
        println(s"[graft] curate: wrote $nCur curated docs to ${o("output-path")}")

      case "audit" =>
        // post-curation audit bundle: split-balance contingency, per-source
        // distribution drift, and length-bucket padding cost — the three
        // reports a team reads before shipping a training mix
        val o = parseArgs(args.tail)
        val docs = fetcher.readParquet(spark, o.required("docs-path"))
        val out = o.required("output-path")
        val catCol = o.getOrElse("category-col", "lang")
        val textCol = o.getOrElse("text-col", "text")
        import org.apache.spark.sql.functions.{col, size => asize}
        val balance = operators.Sampling.contingencyAudit(
          operators.Sampling.assignSplit(docs, textCol).select(col("split"), col(catCol)),
          "split", catCol)
        writer.writeParquet(balance, s"$out/split_balance")
        // the drifted VALUE defaults to text length derived from the text
        // column itself, so a docs parquet without n_chars still audits;
        // --drift-value-col picks any numeric column instead
        val driftValue = o.get("drift-value-col").map(col)
          .getOrElse(org.apache.spark.sql.functions.length(col(textCol)))
        val drift = operators.Quantiles.groupedTvDrift(
          docs.select(col(o.getOrElse("drift-col", "source")),
            driftValue.cast("double").as("__audit_v")),
          o.getOrElse("drift-col", "source"), "__audit_v", precision = 6)
        writer.writeParquet(drift, s"$out/source_drift")
        val buckets = operators.Packing.lengthBucketReport(
          docs.select(asize(graft.functions.TextFunctions.tokens(col(textCol))).as("n_tokens")),
          "n_tokens",
          o.get("bucket-width").map(_.toLong).getOrElse(64L),
          o.get("batch-size").map(_.toLong).getOrElse(16L))
        writer.writeParquet(buckets, s"$out/length_buckets")
        val worstCell = fetcher.readParquet(spark, s"$out/split_balance")
          .orderBy(org.apache.spark.sql.functions.abs(col("obs_over_exp") - 1).desc)
          .limit(1).collect().headOption
        val worstDrift = fetcher.readParquet(spark, s"$out/source_drift")
          .orderBy(col("tv_vs_rest").desc).limit(1).collect().headOption
        worstCell.foreach(r => println(
          s"[graft] audit: most skewed split cell ${r.getAs[String]("split")}/${r.get(1)} " +
            s"obs/exp=${r.getAs[Double]("obs_over_exp")}"))
        worstDrift.foreach(r => println(
          s"[graft] audit: most drifted ${o.getOrElse("drift-col", "source")} ${r.get(0)} " +
            s"tv=${r.getAs[Double]("tv_vs_rest")}"))
        println(s"[graft] audit: wrote split_balance, source_drift, length_buckets under $out")

      case "sketch" =>
        val o = parseArgs(args.tail)
        val groupCol = o.getOrElse("group-col", "lang")
        val logM = o.get("log-m").map(_.toInt)
          .getOrElse(operators.Sketches.DefaultLogRegisters)
        val sketches = o.get("merge") match {
          case Some(paths) =>
            val parts = paths.split(",").map(_.trim).filter(_.nonEmpty)
              .map(p => fetcher.readParquet(spark, p))
              .reduce(_ unionByName _)
            operators.Sketches.mergeSketches(parts, Seq(groupCol), "sketch", logM)
          case None =>
            operators.Sketches.sketchVector(
              fetcher.readParquet(spark, o.required("docs-path")),
              Seq(groupCol), o.getOrElse("value-col", "text"), logM)
        }
        writer.writeParquet(sketches, o.required("output-path"))
        o.get("estimate-path").foreach { ep =>
          writer.writeParquet(
            operators.Sketches.estimateVector(
              fetcher.readParquet(spark, o.required("output-path")),
              Seq(groupCol), "sketch", logM), ep)
        }
        val n = fetcher.readParquet(spark, o.required("output-path")).count()
        println(s"[graft] sketch: wrote $n group sketches to ${o("output-path")}")

      case "substring-dedup" =>
        // verbatim-passage reuse: whole-corpus pairs, or the incremental
        // shard path against a stored fingerprint state (--state-path:
        // read stored anchors, report shard-touching pairs, append the
        // shard's anchors — the q100 workflow)
        val o = parseArgs(args.tail)
        val docs = fetcher.readParquet(spark, o.required("docs-path"))
        val minLen = o.get("min-len").map(_.toInt).getOrElse(48)
        val k = o.get("k").map(_.toInt).getOrElse(16)
        val out = o.required("output-path")
        o.get("state-path") match {
          case Some(statePath) =>
            val shard = fetcher.readParquet(spark, o.required("shard-path"))
            val stored = fetcher.readParquet(spark, s"$statePath/fingerprints")
            writer.writeParquet(
              operators.Dedup.substringPairsIncremental(
                stored, shard, docs, minLen, k), out)
            // output first, state append after — the curate crash contract
            writer.writeParquet(
              operators.Dedup.substringState(shard, minLen, k),
              s"$statePath/fingerprints", mode = "append")
          case None =>
            writer.writeParquet(operators.Dedup.substringPairs(docs, minLen, k), out)
            o.get("init-state-path").foreach { sp =>
              writer.writeParquet(
                operators.Dedup.substringState(docs, minLen, k), s"$sp/fingerprints")
            }
        }
        val nPairs = fetcher.readParquet(spark, out).count()
        println(s"[graft] substring-dedup: $nPairs pairs sharing >= $minLen chars -> $out")

      case "contamination" =>
        // eval-leak audit: token-shingle overlap report plus the verbatim
        // substring check (--min-len) against a benchmark parquet
        val o = parseArgs(args.tail)
        val train = fetcher.readParquet(spark, o.required("docs-path"))
        val bench = fetcher.readParquet(spark, o.required("benchmark-path"))
        val out = o.required("output-path")
        val broadcastRef = o.getOrElse("broadcast-reference", "true").toBoolean
        writer.writeParquet(
          operators.Contamination.check(train, bench,
            n = o.get("ngram").map(_.toInt).getOrElse(3),
            broadcastReference = broadcastRef), s"$out/shingle_overlap")
        writer.writeParquet(
          operators.Contamination.substringContamination(train, bench,
            minLen = o.get("min-len").map(_.toInt).getOrElse(48),
            broadcastReference = broadcastRef), s"$out/substring_leaks")
        // the REVERSE direction: per eval item — how much leaked, worst
        // training-side offender (the report an eval owner reads)
        writer.writeParquet(
          operators.Contamination.benchmarkLeakReport(train, bench,
            n = o.get("ngram").map(_.toInt).getOrElse(3),
            broadcastReference = broadcastRef), s"$out/benchmark_report")
        val nLeaks = fetcher.readParquet(spark, s"$out/substring_leaks").count()
        val nItems = fetcher.readParquet(spark, s"$out/benchmark_report")
          .filter(org.apache.spark.sql.functions.col("n_leaked") > 0).count()
        println(s"[graft] contamination: $nLeaks docs with verbatim leaks, " +
          s"$nItems benchmark items touched; reports under $out")

      case "lm-score" =>
        // CCNet-style fluency scoring; --reference-path switches from the
        // self-model to a held-out reference corpus
        val o = parseArgs(args.tail)
        val docs = fetcher.readParquet(spark, o.required("docs-path"))
        val ref = o.get("reference-path").map(fetcher.readParquet(spark, _))
        writer.writeParquet(
          operators.LmScore.unigramSurprisal(docs, ref), o.required("output-path"))
        println(s"[graft] lm-score: wrote surprisal scores to ${o("output-path")}")

      case "lm-train" =>
        // train-once half of the train/score split: persist the unigram
        // model state (word_ln + ln_d) for lm-score-with-model / the
        // streaming surprisal gate
        val o = parseArgs(args.tail)
        val model = operators.LmScore.unigramModel(
          fetcher.readParquet(spark, o.required("reference-path")),
          o.getOrElse("text-col", "text"))
        val out = o.required("model-path")
        writer.writeParquet(model.wordLn, s"$out/word_ln")
        writer.writeParquet(model.lnD, s"$out/ln_d")
        println(s"[graft] lm-train: wrote unigram model state under $out")

      case "lm-score-with-model" =>
        // score-many half: frozen persisted model, only the docs tokenize
        val o = parseArgs(args.tail)
        val mp = o.required("model-path")
        val model = operators.LmScore.UnigramLm(
          fetcher.readParquet(spark, s"$mp/word_ln"),
          fetcher.readParquet(spark, s"$mp/ln_d"))
        writer.writeParquet(
          operators.LmScore.surprisalWithModel(
            fetcher.readParquet(spark, o.required("docs-path")), model,
            o.getOrElse("id-col", "doc_id"), o.getOrElse("text-col", "text")),
          o.required("output-path"))
        println(s"[graft] lm-score-with-model: wrote scores to ${o("output-path")}")

      case "trigram-train" =>
        // trigram stupid-backoff model state: one (ord, gram, cnt) table,
        // sum-mergeable — trigram-ingest appends shard partials without
        // retokenizing stored corpora
        val o = parseArgs(args.tail)
        writer.writeParquet(
          operators.LmScore.trigramState(
            fetcher.readParquet(spark, o.required("reference-path")),
            o.getOrElse("text-col", "text")),
          o.required("state-path"))
        println(s"[graft] trigram-train: wrote gram-count state to ${o("state-path")}")

      case "trigram-ingest" =>
        // append the shard's OWN count partial; readers collapse partials
        // through the sum-merge, so ingest never rewrites stored state
        val o = parseArgs(args.tail)
        writer.writeParquet(
          operators.LmScore.trigramState(
            fetcher.readParquet(spark, o.required("shard-path")),
            o.getOrElse("text-col", "text")),
          o.required("state-path"), mode = "append")
        println(s"[graft] trigram-ingest: appended shard counts to ${o("state-path")}")

      case "trigram-score" =>
        // score-many half: frozen (possibly partial-appended) state, only
        // the docs tokenize — increment == one-shot retrain bit-for-bit
        val o = parseArgs(args.tail)
        writer.writeParquet(
          operators.LmScore.trigramSurprisalFromState(
            fetcher.readParquet(spark, o.required("docs-path")),
            operators.LmScore.normalizeTrigramState(
              fetcher.readParquet(spark, o.required("state-path"))),
            o.getOrElse("id-col", "doc_id"), o.getOrElse("text-col", "text")),
          o.required("output-path"))
        println(s"[graft] trigram-score: wrote trigram surprisal to ${o("output-path")}")

      case "profile" =>
        // the per-column data-quality report; --before-path diffs against
        // a STORED profile snapshot (schema + data drift alert)
        val o = parseArgs(args.tail)
        val table = fetcher.readParquet(spark, o.required("table-path"))
        val cols = o.get("columns")
          .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(table.columns.toSeq)
        val prof = operators.Profile.tableProfile(table, cols)
        writer.writeParquet(prof, o.required("output-path"))
        println(s"[graft] profile: wrote ${cols.size}-column report to ${o("output-path")}")
        o.get("before-path").foreach { bp =>
          val diff = operators.Profile.diffProfiles(
            fetcher.readParquet(spark, bp),
            fetcher.readParquet(spark, o.required("output-path")))
          val diffOut = o.getOrElse("diff-output-path", s"${o("output-path")}_diff")
          writer.writeParquet(diff, diffOut)
          val moved = fetcher.readParquet(spark, diffOut)
            .filter(org.apache.spark.sql.functions.expr(
              "status <> 'common' OR min_changed = 1 OR max_changed = 1 " +
                "OR mode_changed = 1 OR coalesce(abs(null_ppm_delta), 0) > 0"))
            .count()
          println(s"[graft] profile: diff vs $bp -> $moved column(s) moved ($diffOut)")
        }

      case "pagerank" =>
        // host/domain authority over an edge table (src, dst) — integer
        // fixed-point power iteration, deterministic at any partitioning;
        // --report-convergence prints the final round's total |delta| so
        // the caller knows whether --iters sufficed for THEIR graph;
        // --eps-ppm switches to AUTO-K (iterate until the movement drops
        // to eps or --iters bounds the budget)
        val o = parseArgs(args.tail)
        val edges = fetcher.readParquet(spark, o.required("edges-path"))
        val iters = o.getOrElse("iters", "5").toInt
        val (srcCol, dstCol) =
          (o.getOrElse("src-col", "src"), o.getOrElse("dst-col", "dst"))
        val ranks = o.get("eps-ppm") match {
          case Some(eps) =>
            val (r, n, d) = operators.PageRank.rankUntil(
              edges, eps.toLong, maxIters = iters,
              srcCol = srcCol, dstCol = dstCol)
            println(s"[graft] pagerank: stopped after $n iteration(s), " +
              s"final-round total |delta| = $d ppm" +
              (if (d <= eps.toLong) "" else s" (maxIters $iters hit before eps)"))
            r
          case None if o.getOrElse("report-convergence", "false").toBoolean =>
            val (r, d) = operators.PageRank.rankWithConvergence(
              edges, iters, srcCol = srcCol, dstCol = dstCol)
            println(s"[graft] pagerank: final-round total |delta| = $d ppm " +
              s"after $iters iterations" +
              (if (d == 0L) " (fixed point reached)" else ""))
            r
          case None => operators.PageRank.rank(
            edges, iters, srcCol = srcCol, dstCol = dstCol)
        }
        writer.writeParquet(ranks, o.required("output-path"))
        val top = fetcher.readParquet(spark, o.required("output-path"))
          .orderBy(org.apache.spark.sql.functions.col("rank_ppm").desc)
          .limit(1).collect().headOption
        top.foreach(r => println(
          s"[graft] pagerank: top host ${r.get(0)} rank_ppm=${r.getLong(1)}"))
        println(s"[graft] pagerank: wrote host ranks to ${o("output-path")}")

      case "ewma" =>
        // per-user decayed event features: end-of-stream state by default
        // (persistable, incrementable via --state-path), --at-event true
        // for the point-in-time per-event form a training join reads
        val o = parseArgs(args.tail)
        val events = fetcher.readParquet(spark, o.required("events-path"))
        val decay = o.getOrElse("decay-ppm", "850000").toLong
        // the two modes are mutually exclusive: --at-event emits per-event
        // rows, --state-path folds a shard into stored state — silently
        // picking one would discard the other intent (r14 advice)
        require(!(o.contains("state-path") &&
            o.getOrElse("at-event", "false").toBoolean),
          "ewma: --at-event and --state-path are mutually exclusive — " +
            "the per-event form has no incremental state to fold into")
        val out = (o.get("state-path"),
            o.getOrElse("at-event", "false").toBoolean) match {
          case (_, true) =>
            operators.DecayFeatures.ewmaAtEvent(events, decay)
          case (Some(sp), _) =>
            // fold the shard into stored state (train once, ingest forever)
            operators.DecayFeatures.incrementEwma(
              fetcher.readParquet(spark, sp), events, decay)
          case _ => operators.DecayFeatures.ewmaState(events, decay)
        }
        writer.writeParquet(out, o.required("output-path"))
        println(s"[graft] ewma: wrote features to ${o("output-path")}")

      case "rfm" =>
        // per-user recency/frequency/monetary scores: exact value-based
        // quantile buckets (tie-stable — never ntile), recency inverted
        // so --buckets always means best. --state-path folds the shard
        // at events-path into stored metric state (output = updated
        // STATE, the ewma convention — every field an order-free
        // monoid, so shards fold in any order); --from-state true scores
        // a stored state table without rescanning any event
        val o = parseArgs(args.tail)
        val in = fetcher.readParquet(spark, o.required("events-path"))
        val nB = o.getOrElse("buckets", "5").toInt
        val bc = o.getOrElse("broadcast-ranks", "false").toBoolean
        val mt = o.getOrElse("monetary-type", "purchase")
        require(!(o.contains("state-path") &&
            o.getOrElse("from-state", "false").toBoolean),
          "rfm: --state-path and --from-state are mutually exclusive — " +
            "a state fold's input is a shard, not a state table")
        val out = (o.get("state-path"),
            o.getOrElse("from-state", "false").toBoolean) match {
          case (Some(sp), _) =>
            operators.Rfm.incrementRfm(fetcher.readParquet(spark, sp), in, mt)
          case (_, true) => operators.Rfm.rfmFromState(in, nB, bc)
          case _ =>
            operators.Rfm.rfmSegments(in, nB, mt, broadcastRanks = bc)
        }
        writer.writeParquet(out, o.required("output-path"))
        println(s"[graft] rfm: wrote to ${o("output-path")}")

      case "traffic-anomaly" =>
        // day-grain volume anomaly verdicts against the trailing window:
        // exact integer z-test, NULL verdict until the window is
        // complete. --state-path folds the shard's day counts into
        // stored counts (output = updated STATE; sum-merge — late days
        // re-open); --from-state true scores a stored (day, n) table
        val o = parseArgs(args.tail)
        val in = fetcher.readParquet(spark, o.required("events-path"))
        val w = o.getOrElse("window-days", "7").toInt
        val kN = o.getOrElse("k-num", "3").toLong
        val kD = o.getOrElse("k-den", "1").toLong
        require(!(o.contains("state-path") &&
            o.getOrElse("from-state", "false").toBoolean),
          "traffic-anomaly: --state-path and --from-state are mutually " +
            "exclusive — a state fold's input is a shard, not a state table")
        val out = (o.get("state-path"),
            o.getOrElse("from-state", "false").toBoolean) match {
          case (Some(sp), _) => operators.Anomaly.incrementDailyCounts(
            fetcher.readParquet(spark, sp), in)
          case (_, true) =>
            operators.Anomaly.trafficAnomalyFromCounts(in, w, kN, kD)
          case _ => operators.Anomaly.trafficAnomaly(in, w, kN, kD)
        }
        writer.writeParquet(out, o.required("output-path"))
        if (!o.contains("state-path")) {
          val flagged = out.filter(col("is_anomaly") === 1).count()
          println(s"[graft] traffic-anomaly: $flagged anomalous day(s) -> " +
            s"${o("output-path")}")
        } else println(s"[graft] traffic-anomaly: folded day counts into " +
          s"state -> ${o("output-path")}")

      case "expectations" =>
        // declarative data-quality gate: evaluate a rule list in bulk
        // (row-local rules share one scan), write the verdict table, and
        // optionally fail the run on any failed rule
        val o = parseArgs(args.tail)
        val df = fetcher.readParquet(spark, o.required("docs-path"))
        val rules = operators.Expectations.parseRules(
          o.required("rules"), p => fetcher.readParquet(spark, p))
        val out = operators.Expectations.check(df, rules)
        writer.writeParquet(out, o.required("output-path"))
        val failed = out.filter(col("passed") === 0).count()
        println(s"[graft] expectations: $failed failed rule(s) -> ${o("output-path")}")
        if (o.getOrElse("fail-on-violation", "false").toBoolean && failed > 0)
          throw new IllegalStateException(
            s"expectations: $failed rule(s) failed — refusing to promote")

      case "attribution" =>
        // multi-touch conversion attribution with exact credit
        // conservation (anchor touch absorbs floor remainders); --scheme
        // picks linear (default) / position (U-shape 40/20/40) /
        // timedecay (2^half-lives weights); --state-path turns it
        // incremental: events-path is a SHARD whose conversions credit
        // against stored + shard touches (stored conversions immutable),
        // state folds forward era-tagged (the streaming gate's layout —
        // a stream-seeded state serves this command and vice versa)
        val o = parseArgs(args.tail)
        val events = fetcher.readParquet(spark, o.required("events-path"))
        val windowDays = o.getOrElse("window-days", "7").toInt
        val convType = o.getOrElse("conv-type", "purchase")
        val touchType = o.getOrElse("touch-type", "click")
        val scheme = o.getOrElse("scheme", "linear") match {
          case "linear" => operators.Attribution.Linear
          case "position" => operators.Attribution.Position
          case "timedecay" => operators.Attribution.TimeDecay(
            o.getOrElse("half-life-days", "1").toLong * 86400000000L)
          case other => throw new IllegalArgumentException(
            s"attribution: unknown --scheme '$other' (linear|position|timedecay)")
        }
        if (o.getOrElse("unattributed", "false").toBoolean) {
          // the complement report: conversions no scheme credits (no
          // in-window touch) — credits + these values = total value
          writer.writeParquet(operators.Attribution.unattributedConversions(
            events, windowDays, convType, touchType), o.required("output-path"))
          println(s"[graft] attribution: wrote unattributed conversions to ${o("output-path")}")
        } else o.get("state-path") match {
          case None =>
            val fn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
              scheme match {
                case operators.Attribution.Linear =>
                  operators.Attribution.linearAttribution(_, windowDays,
                    convType, touchType)
                case operators.Attribution.Position =>
                  operators.Attribution.positionAttribution(_, windowDays,
                    convType, touchType)
                case operators.Attribution.TimeDecay(_) =>
                  operators.Attribution.timeDecayAttribution(_, windowDays,
                    o.getOrElse("half-life-days", "1").toInt,
                    convType, touchType)
              }
            writer.writeParquet(fn(events), o.required("output-path"))
          case Some(sp) =>
            val path = s"$sp/touch_state"
            val eraDir = s"$sp/touch_state_eras"
            // crash-safe era appends: a Hadoop job commit moves part-files
            // sequentially (NOT atomic), so a crash mid-append leaves a
            // PARTIAL era visible — and a partial era winning
            // latest-era-per-user hands affected users a truncated touch
            // pool (silent under-crediting on retry). The streaming gate is
            // safe via its own-era exclusion (batchId identity); the CLI
            // has no replay identity, so it brackets every append with a
            // pending marker: eras whose marker survived a crash are
            // excluded from reads forever, and nextEra skips past them so
            // a retry never interleaves with a crashed append's partials
            val pending = fetcher.listMarkers(spark, eraDir)
              .filter(_.startsWith("pending_era_"))
              .map(_.stripPrefix("pending_era_").toLong).toSet
            val (stored, nextEra, action) =
              if (fetcher.exists(spark, path)) {
                val raw = fetcher.readParquet(spark, path)
                val committed =
                  if (pending.isEmpty) raw
                  else raw.filter(!col("era").isin(pending.toSeq.map(Long.box): _*))
                val maxData = raw
                  .agg(org.apache.spark.sql.functions.max("era")).head() match {
                    case r if r.isNullAt(0) => -1L
                    case r => r.getLong(0)
                  }
                (operators.Attribution.latestState(committed),
                  math.max(maxData, pending.foldLeft(-1L)(math.max)) + 1L,
                  "folded shard into")
              } else (operators.Attribution.attributionState(
                events.limit(0), windowDays, convType, touchType),
                pending.foldLeft(-1L)(math.max) + 1L, "initialized")
            writer.writeParquet(operators.Attribution.incrementAttribution(
              stored, events, windowDays, scheme, convType, touchType),
              o.required("output-path"))
            // OUTPUT first (the crash-retry rule), then marker -> state
            // append -> marker delete
            writer.putMarker(spark, eraDir, s"pending_era_$nextEra")
            writer.writeParquet(
              operators.Attribution.incrementAttributionState(
                  stored, events, windowDays, convType, touchType)
                .join(events.filter(col("event_type").isin(convType, touchType))
                  .select(col("user_id")).distinct(), Seq("user_id"), "left_semi")
                .withColumn("era", lit(nextEra)),
              path, mode = "append")
            writer.deleteMarker(spark, eraDir, s"pending_era_$nextEra")
            println(s"[graft] attribution: $action touch state at $sp")
        }
        if (!o.getOrElse("unattributed", "false").toBoolean)
          println(s"[graft] attribution: wrote credit table to ${o("output-path")}")

      case "k-anonymity" =>
        // quasi-identifier re-identification audit before a data release;
        // --sensitive-col switches to the l-diversity companion (a class
        // can be k-large yet 1-diverse — homogeneous sensitive values
        // leak even when the class size clears k)
        val o = parseArgs(args.tail)
        val table = fetcher.readParquet(spark, o.required("table-path"))
        val cols = o.required("columns").split(',').toSeq
          .map(_.trim).filter(_.nonEmpty)
        val out = (o.get("sensitive-col"), o.get("t-ppm")) match {
          case (Some(sc), Some(t)) =>
            operators.Profile.tCloseness(table, cols, sc, tPpm = t.toLong)
          case (Some(sc), None) => operators.Profile.lDiversity(table, cols, sc,
            l = o.getOrElse("l", "2").toLong)
          case (None, Some(_)) => throw new IllegalArgumentException(
            "k-anonymity: --t-ppm needs --sensitive-col (t-closeness measures " +
              "the sensitive distribution's distance from the global one)")
          case (None, None) => operators.Profile.kAnonymity(table, cols,
            k = o.getOrElse("k", "5").toLong)
        }
        writer.writeParquet(out, o.required("output-path"))
        val risky = fetcher.readParquet(spark, o.required("output-path"))
          .filter(org.apache.spark.sql.functions.col("at_risk") === 1).count()
        val kind =
          if (o.contains("t-ppm")) "distribution-skewed"
          else if (o.contains("sensitive-col")) "low-diversity"
          else "at-risk"
        println(s"[graft] k-anonymity: $risky $kind class(es) -> ${o("output-path")}")

      case "conversion-paths" =>
        // journey analysis: per conversion the (ts, id)-ordered in-window
        // touch-type path; --rollup true groups to the top-paths table;
        // --removal-effect true reports the per-channel Markov removal
        // effect over the same journeys instead
        val o = parseArgs(args.tail)
        val events = fetcher.readParquet(spark, o.required("events-path"))
        val windowDays = o.getOrElse("window-days", "7").toInt
        val convType = o.getOrElse("conv-type", "purchase")
        val touchTypes = o.getOrElse("touch-types", "click,view,signup")
          .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        val rollup = o.getOrElse("rollup", "false").toBoolean
        val removal = o.getOrElse("removal-effect", "false").toBoolean
        require(!(rollup && removal),
          "conversion-paths: --rollup and --removal-effect are mutually " +
            "exclusive reports — pick one")
        val out =
          if (removal) operators.Attribution.removalEffectAttribution(
            events, windowDays, convType, touchTypes)
          else {
            val paths = operators.Attribution.conversionPaths(
              events, windowDays, convType, touchTypes)
            if (rollup)
              paths.groupBy(col("path")).agg(
                org.apache.spark.sql.functions.count(lit(1)).as("n_conversions"),
                org.apache.spark.sql.functions.sum(col("value_fp")).as("total_value_fp"))
            else paths
          }
        writer.writeParquet(out, o.required("output-path"))
        val kind =
          if (removal) "per-channel removal effects"
          else if (rollup) "top-paths rollup"
          else "per-conversion journeys"
        println(s"[graft] conversion-paths: wrote $kind to ${o("output-path")}")

      case "trustrank" =>
        // seed-personalized PageRank: teleport lands only on the trusted
        // host whitelist — rank measures proximity to trust
        val o = parseArgs(args.tail)
        val edges = fetcher.readParquet(spark, o.required("edges-path"))
        val seeds = fetcher.readParquet(spark, o.required("seeds-path"))
        val iters = o.getOrElse("iters", "5").toInt
        val (srcCol, dstCol) =
          (o.getOrElse("src-col", "src"), o.getOrElse("dst-col", "dst"))
        val ranks = o.get("eps-ppm") match {
          case Some(eps) =>
            val (r, n, d) = operators.PageRank.trustRankUntil(
              edges, seeds, eps.toLong, maxIters = iters,
              srcCol = srcCol, dstCol = dstCol)
            println(s"[graft] trustrank: stopped after $n iteration(s), " +
              s"final-round total |delta| = $d ppm" +
              (if (d <= eps.toLong) "" else s" (maxIters $iters hit before eps)"))
            r
          case None if o.getOrElse("report-convergence", "false").toBoolean =>
            val (r, d) = operators.PageRank.trustRankWithConvergence(
              edges, seeds, iters, srcCol = srcCol, dstCol = dstCol)
            println(s"[graft] trustrank: final-round total |delta| = $d ppm " +
              s"after $iters iterations" +
              (if (d == 0L) " (fixed point reached)" else ""))
            r
          case None => operators.PageRank.trustRank(
            edges, seeds, iters, srcCol = srcCol, dstCol = dstCol)
        }
        writer.writeParquet(ranks, o.required("output-path"))
        println(s"[graft] trustrank: wrote seeded host ranks to ${o("output-path")}")

      case "heavy-hitters" =>
        // the 100 TB modal-value path: CMS-prefiltered EXACT heavy
        // hitters — only plausibly-heavy values cross the exchange
        val o = parseArgs(args.tail)
        val table = fetcher.readParquet(spark, o.required("table-path"))
        val cols = o.get("columns")
          .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(table.columns.toSeq)
        val out = operators.Profile.heavyHitters(table, cols,
          minSharePpm = o.getOrElse("min-share-ppm", "10000").toLong)
        writer.writeParquet(out, o.required("output-path"))
        val n = fetcher.readParquet(spark, o.required("output-path")).count()
        println(s"[graft] heavy-hitters: $n hitter(s) across ${cols.size} column(s) -> ${o("output-path")}")

      case "embed-clusters" =>
        // k-means topic buckets over an embeddings table: trained Lloyd
        // quantizer + full-corpus argmax assignment (+ cohesion profile)
        val o = parseArgs(args.tail)
        val out = operators.SimilaritySearch.embeddingClusters(
          fetcher.readParquet(spark, o.required("input-path")),
          initPred = o.required("init-pred"),
          iters = o.getOrElse("iters", "2").toInt,
          idCol = o.getOrElse("id-col", "vec_id"),
          vecCol = o.getOrElse("vec-col", "embedding"))
        writer.writeParquet(out, o.required("output-path"))
        o.get("profile-path").foreach { pp =>
          writer.writeParquet(operators.SimilaritySearch.clusterProfile(
            fetcher.readParquet(spark, o.required("output-path"))), pp)
          println(s"[graft] embed-clusters: cohesion profile -> $pp")
        }
        println(s"[graft] embed-clusters: wrote assignments to ${o("output-path")}")

      case "rrf" =>
        // reciprocal-rank fusion of N scored signals (comma-separated
        // parquet paths, each (id, score_fp) higher-better)
        val o = parseArgs(args.tail)
        val paths = o.required("signal-paths").split(',').toSeq
          .map(_.trim).filter(_.nonEmpty)
        require(paths.nonEmpty, "rrf: --signal-paths must name at least one parquet table")
        val out = operators.Fusion.reciprocalRankFusion(
          paths.map(fetcher.readParquet(spark, _)),
          m = o.getOrElse("list-depth", "1000").toInt,
          kRrf = o.getOrElse("k-rrf", "60").toLong,
          idCol = o.getOrElse("id-col", "doc_id"),
          scoreCol = o.getOrElse("score-col", "score_fp"))
        writer.writeParquet(out, o.required("output-path"))
        println(s"[graft] rrf: fused ${paths.size} signal(s) -> ${o("output-path")}")

      case "kl-drift" =>
        // per-group token-distribution drift vs the whole corpus
        val o = parseArgs(args.tail)
        val out = operators.LmScore.sourceKlDrift(
          fetcher.readParquet(spark, o.required("docs-path")),
          o.getOrElse("group-col", "source"), o.getOrElse("text-col", "text"))
        writer.writeParquet(out, o.required("output-path"))
        val worst = fetcher.readParquet(spark, o.required("output-path"))
          .orderBy(org.apache.spark.sql.functions.col("kl_nats").desc)
          .limit(1).collect().headOption
        worst.foreach(r => println(
          s"[graft] kl-drift: most drifted ${o.getOrElse("group-col", "source")} " +
            s"${r.get(0)} kl=${r.getAs[Double]("kl_nats")}"))
        println(s"[graft] kl-drift: wrote per-group KL to ${o("output-path")}")

      case "tfidf" =>
        // per-document characteristic terms
        val o = parseArgs(args.tail)
        writer.writeParquet(
          operators.LmScore.tfidfTopTerms(
            fetcher.readParquet(spark, o.required("docs-path")),
            o.get("k").map(_.toInt).getOrElse(5),
            o.getOrElse("id-col", "doc_id"), o.getOrElse("text-col", "text")),
          o.required("output-path"))
        println(s"[graft] tfidf: wrote top terms to ${o("output-path")}")

      case "embed-contamination" =>
        // semantic-leak audit: corpus vectors near any benchmark vector
        val o = parseArgs(args.tail)
        val flagged = operators.SimilaritySearch.crossNearDup(
          fetcher.readParquet(spark, o.required("corpus-path")),
          fetcher.readParquet(spark, o.required("benchmark-path")),
          o.get("threshold").map(_.toDouble).getOrElse(0.9),
          o.get("bands").map(_.toInt).getOrElse(8),
          o.getOrElse("id-col", "vec_id"), o.getOrElse("vec-col", "embedding"))
        writer.writeParquet(flagged, o.required("output-path"))
        val n = fetcher.readParquet(spark, o.required("output-path")).count()
        println(s"[graft] embed-contamination: flagged $n (corpus, benchmark) pairs -> ${o("output-path")}")

      case "fuzzy-contamination" =>
        // paraphrase-leak audit: MinHash near-dups of any benchmark doc
        val o = parseArgs(args.tail)
        val flagged = operators.Contamination.fuzzyContamination(
          fetcher.readParquet(spark, o.required("docs-path")),
          fetcher.readParquet(spark, o.required("benchmark-path")),
          n = o.get("ngram").map(_.toInt).getOrElse(3),
          threshold = o.get("threshold").map(_.toDouble).getOrElse(0.5),
          broadcastReference = o.getOrElse("broadcast-reference", "true").toBoolean)
        writer.writeParquet(flagged, o.required("output-path"))
        val nFuzzy = fetcher.readParquet(spark, o.required("output-path")).count()
        println(s"[graft] fuzzy-contamination: flagged $nFuzzy training docs -> ${o("output-path")}")

      case "perplexity-buckets" =>
        // CCNet head/middle/tail tiers per language against a clean
        // reference corpus
        val o = parseArgs(args.tail)
        writer.writeParquet(
          operators.LmScore.perplexityBuckets(
            fetcher.readParquet(spark, o.required("docs-path")),
            fetcher.readParquet(spark, o.required("reference-path")),
            o.get("buckets").map(_.toInt).getOrElse(3),
            o.getOrElse("group-col", "lang"),
            o.getOrElse("id-col", "doc_id"), o.getOrElse("text-col", "text")),
          o.required("output-path"))
        println(s"[graft] perplexity-buckets: wrote tier assignments to ${o("output-path")}")

      case "dup-profile" =>
        // corpus self-duplication measurement (per-doc duplicated-shingle
        // fraction) — run BEFORE choosing dedup thresholds
        val o = parseArgs(args.tail)
        writer.writeParquet(
          operators.Dedup.duplicationProfile(
            fetcher.readParquet(spark, o.required("docs-path")),
            o.get("ngram").map(_.toInt).getOrElse(3)),
          o.required("output-path"))
        val prof = fetcher.readParquet(spark, o.required("output-path"))
        // avg over an empty profile (every doc shorter than the shingle
        // width) is SQL NULL — report 0 instead of NPEing post-write
        val meanRatio = prof.agg(org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.avg("dup_ratio"),
            org.apache.spark.sql.functions.lit(0.0)))
          .collect().head.getDouble(0)
        println(f"[graft] dup-profile: mean duplicated-shingle ratio $meanRatio%.4f -> ${o("output-path")}")

      case "entropy" =>
        // intrinsic repetitiveness: token entropy + type-token ratio
        val o = parseArgs(args.tail)
        writer.writeParquet(
          operators.LmScore.tokenEntropy(
            fetcher.readParquet(spark, o.required("docs-path")),
            o.getOrElse("id-col", "doc_id"), o.getOrElse("text-col", "text")),
          o.required("output-path"))
        println(s"[graft] entropy: wrote token-entropy scores to ${o("output-path")}")

      case "corpus-card" =>
        // the datasheet-style release report: composition, lengths,
        // duplication pressure, intrinsic quality — one table per facet.
        // --state-path turns it incremental: docs-path is a SHARD whose
        // per-doc sufficient statistics append to stored state, and the
        // card reads off the merged state (== full recompute bit-for-bit)
        val o = parseArgs(args.tail)
        val docs = fetcher.readParquet(spark, o.required("docs-path"))
        val out = o.required("output-path")
        val idCol = o.getOrElse("id-col", "doc_id")
        val textCol = o.getOrElse("text-col", "text")
        val (state, appendState) = o.get("state-path") match {
          case None =>
            (operators.CorpusCard.buildState(docs, idCol, textCol), () => ())
          case Some(sp) =>
            // same existence-probe discipline as curate/corpus-prep: a
            // read failure of existing state aborts loudly, never
            // silently re-initializes. Meta is the COMMIT ANCHOR (probe
            // AND last write — the corpus-prep rule): a crash between
            // the two appends leaves orphan postings that normalizeState
            // discards on every read, and the retry's duplicate rows
            // collapse the same way — appends stay idempotent
            if (!fetcher.exists(spark, s"$sp/meta")) {
              val st = operators.CorpusCard.buildState(docs, idCol, textCol)
              (st, () => {
                writer.writeParquet(st.postings, s"$sp/postings")
                writer.writeParquet(st.meta, s"$sp/meta")
                println(s"[graft] corpus-card: initialized card state at $sp")
              })
            } else {
              val stored = operators.CorpusCard.normalizeState(
                operators.CorpusCard.CardState(
                  fetcher.readParquet(spark, s"$sp/meta"),
                  fetcher.readParquet(spark, s"$sp/postings")),
                idCol)
              val shardSt = operators.CorpusCard.buildState(docs, idCol, textCol)
              val merged = operators.CorpusCard.CardState(
                stored.meta.unionByName(shardSt.meta),
                stored.postings.unionByName(shardSt.postings))
              (merged, () => {
                writer.writeParquet(shardSt.postings, s"$sp/postings", mode = "append")
                writer.writeParquet(shardSt.meta, s"$sp/meta", mode = "append")
                println(s"[graft] corpus-card: appended shard state at $sp")
              })
            }
        }
        val card = operators.CorpusCard.buildFromState(state, idCol)
        card.foreach { case (name, df) => writer.writeParquet(df, s"$out/$name") }
        // OUTPUT first, state append after (the curate crash-retry rule)
        appendState()
        val langs = fetcher.readParquet(spark, s"$out/languages").count()
        val dup = fetcher.readParquet(spark, s"$out/duplication").head()
        println(s"[graft] corpus-card: $langs languages; mean dup ratio " +
          s"${dup.getAs[Double]("mean_dup_ratio")}; tables under $out")

      case "url-dedup" =>
        // the pre-content pass on a web corpus: group by canonical URL,
        // keep the first crawl of each page; --state-path turns it
        // incremental (page counts min/sum-merge; docs-path is a SHARD).
        // Incremental keeper/is_dup verdicts are FINAL at ingest (ids
        // only increase, so the first crawl can never be displaced);
        // group_size in a shard's report is the count as of that ingest
        val o = parseArgs(args.tail)
        val docs = fetcher.readParquet(spark, o.required("docs-path"))
        val urlCol = o.getOrElse("url-col", "url")
        val idCol = o.getOrElse("id-col", "doc_id")
        val report = o.get("state-path") match {
          case None => operators.Dedup.urlDedup(docs, urlCol, idCol)
          case Some(sp) =>
            // APPEND-ONLY per-shard partials (an in-place overwrite would
            // read-and-clobber the same path); normalizeUrlState collapses
            // them at read and makes a crashed append's retry idempotent
            val action = if (fetcher.exists(spark, s"$sp/pages")) "folded shard into"
              else "initialized"
            // Canonical-key version gate: state seeded under an older
            // canonicalizer holds keys this build no longer produces —
            // folding a shard into it would raise "page not in state"
            // MID-JOB on every multi-trailing-slash re-crawl. Fail loudly
            // up front with the re-seed instruction instead.
            val vCur = graft.functions.TextFunctions.UrlCanonVersion
            if (action == "initialized") {
              import spark.implicits._
              writer.writeParquet(Seq(vCur).toDF("canon_version"),
                s"$sp/canon_version")
            } else if (fetcher.exists(spark, s"$sp/canon_version")) {
              val v = fetcher.readParquet(spark, s"$sp/canon_version")
                .head().getInt(0)
              require(v == vCur,
                s"url-dedup: state at $sp was written with URL-canonicalizer " +
                  s"v$v but this build is v$vCur — canonical keys changed " +
                  "(trailing-slash rule); re-seed the state from the full " +
                  "corpus instead of folding shards into stale keys")
            } else
              // pre-v2 state predates the marker entirely = v1 by definition
              throw new IllegalArgumentException(
                s"url-dedup: state at $sp has no canon_version marker " +
                  "(written by a pre-v2 build, whose trailing-slash rule " +
                  s"differs from this build's v$vCur) — re-seed the state " +
                  "from the full corpus")
            writer.writeParquet(operators.Dedup.urlState(docs, urlCol, idCol),
              s"$sp/pages", mode = "append")
            println(s"[graft] url-dedup: $action page state at $sp")
            operators.Dedup.urlDedupFromState(docs,
              operators.Dedup.normalizeUrlState(
                fetcher.readParquet(spark, s"$sp/pages")), urlCol, idCol)
        }
        writer.writeParquet(report, o.required("output-path"))
        val written = fetcher.readParquet(spark, o("output-path"))
        val dups = written.filter(org.apache.spark.sql.functions.col("is_dup") === 1).count()
        println(s"[graft] url-dedup: ${written.count()} rows, $dups re-crawls -> ${o("output-path")}")

      case "host-split" =>
        // site-coherent train/val/test: every page of a canonical host
        // shares its split (the site-level leakage discipline)
        val o = parseArgs(args.tail)
        val out = operators.Sampling.hostCoherentSplit(
          fetcher.readParquet(spark, o.required("docs-path")),
          o.getOrElse("url-col", "url"),
          o.getOrElse("train-pct", "80").toInt,
          o.getOrElse("val-pct", "10").toInt)
        writer.writeParquet(out, o.required("output-path"))
        val counts = fetcher.readParquet(spark, o("output-path"))
          .groupBy("split").count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", ")
        println(s"[graft] host-split: $counts -> ${o("output-path")}")

      case "bpe-train" =>
        // train the merge table once (the tokenizer artifact a run ships);
        // tokenize/pack consume it FROZEN — the incremental contract
        val o = parseArgs(args.tail)
        val merges = operators.Packing.bpeMergeTable(
          fetcher.readParquet(spark, o.required("docs-path")),
          nMerges = o.getOrElse("n-merges", "8").toInt,
          textCol = o.getOrElse("text-col", "text"))
        writer.writeParquet(merges, o.required("merges-path"))
        val n = fetcher.readParquet(spark, o("merges-path")).count()
        println(s"[graft] bpe-train: learned $n merges -> ${o("merges-path")}")

      case "tokenize" =>
        // encode docs to token-id sequences with a stored merge table
        val o = parseArgs(args.tail)
        val encoded = operators.Packing.encodeToIds(
          fetcher.readParquet(spark, o.required("docs-path")),
          fetcher.readParquet(spark, o.required("merges-path")),
          idCol = o.getOrElse("id-col", "doc_id"),
          textCol = o.getOrElse("text-col", "text"),
          maxWordLen = o.getOrElse("max-word-len", "24").toInt)
        writer.writeParquet(encoded, o.required("output-path"))
        // sum over an empty shard is SQL NULL — the dup-profile lesson
        val st = fetcher.readParquet(spark, o("output-path"))
          .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.sum("n_ids"),
              org.apache.spark.sql.functions.lit(0L))).head()
        println(s"[graft] tokenize: ${st.getLong(0)} docs, " +
          s"${st.getLong(1)} ids -> ${o("output-path")}")

      case "pack" =>
        // cut encoded docs into fixed-length training rows; --packed-path
        // appends the encoded SHARD to an existing packed corpus (only
        // the shard computes offsets; rows from the re-opened tail on
        // are REWRITTEN, earlier rows are immutable)
        val o = parseArgs(args.tail)
        val enc = fetcher.readParquet(spark, o.required("encoded-path"))
        val seqLen = o.getOrElse("seq-len", "64").toInt
        val idCol = o.getOrElse("id-col", "doc_id")
        val packed = o.get("packed-path") match {
          case None => operators.Packing.packTokenRows(enc, seqLen, idCol)
          case Some(pp) =>
            val stored = fetcher.readParquet(spark, pp)
            operators.Packing.replaceTail(stored,
              operators.Packing.packTokenRowsIncremental(stored, enc, seqLen, idCol))
        }
        writer.writeParquet(packed, o.required("output-path"))
        val n = fetcher.readParquet(spark, o("output-path")).count()
        println(s"[graft] pack: $n rows of $seqLen ids -> ${o("output-path")}")

      case "media-dedup" =>
        // perceptual near-dup pairs over binary payloads (image dHash /
        // audio band-energy / video majority-dHash), one shared pigeonhole
        // band join; --state-path turns it incremental: payloads
        // fingerprint ONCE into appendable (id, hash) state, later shards
        // join 64-bit signatures only — the url-dedup discipline for media
        val o = parseArgs(args.tail)
        val raw = fetcher.readParquet(spark, o.required("media-path"))
        val media =
          if (raw.schema.fieldNames.contains("meta")) raw
          else operators.Multimodal.asMedia(raw,
            o.getOrElse("id-col", "media_id"),
            o.getOrElse("payload-col", "payload"),
            o.getOrElse("format-col", "format"))
        val modality = o.getOrElse("modality", "image")
        val maxHamming = o.getOrElse("max-hamming", "3").toInt
        def fingerprint(m: org.apache.spark.sql.DataFrame) = modality match {
          case "image" => operators.Multimodal.imageHashState(m)
          case "audio" => operators.Multimodal.audioFingerprintState(m)
          case "video" => operators.Multimodal.videoFingerprintState(m,
            o.getOrElse("stride", "1").toInt)
          case other => throw new IllegalArgumentException(
            s"media-dedup: unknown modality '$other' (image|audio|video)")
        }
        o.get("state-path") match {
          case None =>
            writer.writeParquet(operators.Multimodal.perceptualPairsFromState(
              fingerprint(media), maxHamming), o.required("output-path"))
          case Some(sp) =>
            val action = if (fetcher.exists(spark, s"$sp/hashes"))
              "folded shard into" else "initialized"
            // fingerprint-config marker (the canon_version discipline):
            // modality and stride DEFINE the stored hashes — folding a
            // shard fingerprinted differently would silently mix
            // incompatible signatures into one pair space
            val fpConfig = modality +
              (if (modality == "video") s":stride=${o.getOrElse("stride", "1")}" else "")
            if (action == "initialized") {
              import spark.implicits._
              writer.writeParquet(Seq(fpConfig).toDF("fp_config"), s"$sp/fp_config")
            } else if (fetcher.exists(spark, s"$sp/fp_config")) {
              val stored0 = fetcher.readParquet(spark, s"$sp/fp_config")
                .head().getString(0)
              require(stored0 == fpConfig,
                s"media-dedup: state at $sp holds '$stored0' fingerprints but " +
                  s"this run asked for '$fpConfig' — modality/stride define the " +
                  "signature; use a separate state path per configuration")
            } else
              // hashes exist but no marker: unknown configuration — a
              // silent fold here is the mixed-signature hazard the marker
              // exists to prevent
              throw new IllegalArgumentException(
                s"media-dedup: state at $sp has no fp_config marker — its " +
                  "fingerprint configuration is unknown; re-seed the state")
            // persist: the pair join reads the shard fingerprints twice
            // and the state append once — payloads must decode ONCE
            val shardState = fingerprint(media)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val stored =
                if (action == "initialized") shardState.limit(0)
                else operators.Multimodal.normalizeMediaState(
                  fetcher.readParquet(spark, s"$sp/hashes"))
              // OUTPUT first, state append after (the crash-retry rule)
              writer.writeParquet(operators.Multimodal.perceptualPairsIncremental(
                stored, shardState, maxHamming,
                storage = org.apache.spark.storage.StorageLevel.NONE),
                o.required("output-path"))
              writer.writeParquet(shardState, s"$sp/hashes", mode = "append")
              println(s"[graft] media-dedup: $action fingerprint state at $sp")
            } finally { shardState.unpersist(); () }
        }
        val nPairs = fetcher.readParquet(spark, o("output-path")).count()
        println(s"[graft] media-dedup: $nPairs $modality near-dup pairs -> ${o("output-path")}")

      case "export-shards" =>
        // deterministic training-shard export: pack (or read pre-packed
        // rows), order by the optional epoch permutation, write one
        // size-bounded internally-ordered file per shard — the artifact a
        // data loader streams in filename order. Hive-style shard_id=N
        // directories; shard rows sort by shard_pos inside each file, so
        // concatenating shards in id order reproduces the (possibly
        // epoch-shuffled) packed stream bit-for-bit (AppSpec pins it)
        val o = parseArgs(args.tail)
        val packed = (o.get("packed-path"), o.get("encoded-path")) match {
          case (Some(pp), None) =>
            val raw = fetcher.readParquet(spark, pp)
            // the streaming pack gate's state is an append-only era-tagged
            // log — collapse it transparently, so ingest -> shard export
            // is two commands with no manual state surgery between
            if (raw.schema.fieldNames.contains("era"))
              operators.Packing.latestPackedRows(raw)
            else raw
          case (None, Some(ep)) => operators.Packing.packTokenRows(
            fetcher.readParquet(spark, ep),
            seqLen = o.getOrElse("seq-len", "64").toInt,
            idCol = o.getOrElse("id-col", "doc_id"))
          case _ => throw new IllegalArgumentException(
            "export-shards: exactly one of --packed-path / --encoded-path is required")
        }
        val rps = o.required("rows-per-shard").toInt
        val sharded = operators.Packing.shardPacked(packed, rps,
          o.get("epoch").map(_.toInt))
        // all rows of a shard into one task, ordered — with partitionBy
        // each shard then lands as exactly one file
        writer.writeParquet(
          sharded.repartition(org.apache.spark.sql.functions.col("shard_id"))
            .sortWithinPartitions(
              org.apache.spark.sql.functions.col("shard_id"),
              org.apache.spark.sql.functions.col("shard_pos")),
          o.required("output-path"), partitionBy = Seq("shard_id"))
        // integrity manifest off the WRITTEN bytes (not the pre-write
        // frame): what the loader will read is what gets checksummed.
        // The _-prefixed dir is invisible to parquet reads of the root
        writer.writeParquet(
          operators.Packing.shardManifest(
            fetcher.readParquet(spark, o("output-path"))),
          s"${o("output-path")}/_manifest")
        val st = fetcher.readParquet(spark, o("output-path"))
          .agg(org.apache.spark.sql.functions.countDistinct("shard_id"),
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1))).head()
        println(s"[graft] export-shards: ${st.getLong(1)} rows in " +
          s"${st.getLong(0)} shards of <= $rps -> ${o("output-path")}")

      case "verify-shards" =>
        // loader-side integrity gate: recompute each shard's order-free
        // checksum and compare against the export-time _manifest — a
        // flipped id, dropped/duplicated row, or missing/extra shard
        // fails loudly with the offending shard ids
        val o = parseArgs(args.tail)
        val sp = o.required("shards-path")
        val got = operators.Packing.shardManifest(fetcher.readParquet(spark, sp))
        val want = fetcher.readParquet(spark, s"$sp/_manifest")
        import org.apache.spark.sql.functions.coalesce
        val bad = got.as("g")
          .join(want.as("w"), got("shard_id") === want("shard_id"), "full_outer")
          .filter(
            got("shard_id").isNull || want("shard_id").isNull ||
              got("n_rows") =!= want("n_rows") ||
              got("content_sum") =!= want("content_sum"))
          .select(coalesce(got("shard_id"), want("shard_id")).as("shard_id"))
          .orderBy(col("shard_id")).limit(20)
          .collect().map(_.getLong(0))
        if (bad.nonEmpty)
          throw new IllegalStateException(
            s"verify-shards: ${bad.length}+ shard(s) fail integrity at $sp: " +
              bad.mkString(", "))
        val n = want.count()
        println(s"[graft] verify-shards: $n shards verified at $sp")

      case "curation-verdict" =>
        // the q132 composite on the CLI: five filter families joined into
        // one keep/drop per doc with a failure bitmask saying WHY
        // (1=gopher, 2=c4, 4=nb, 8=entropy, 16=duplicate). NB seeds come
        // from explicit frames or from source values in the docs frame.
        val o = parseArgs(args.tail)
        val docs = fetcher.readParquet(spark, o.required("docs-path"))
        val srcCol = o.getOrElse("source-col", "source")
        def seeds(pathKey: String, srcKey: String): org.apache.spark.sql.DataFrame =
          (o.get(pathKey), o.get(srcKey)) match {
            case (Some(p), _) => fetcher.readParquet(spark, p)
            case (None, Some(srcs)) =>
              docs.filter(org.apache.spark.sql.functions.col(srcCol)
                .isin(srcs.split(',').toSeq: _*))
            case _ => throw new IllegalArgumentException(
              s"curation-verdict needs --$pathKey or --$srcKey")
          }
        val verdict = operators.Verdicts.curationVerdict(docs,
          positive = seeds("positive-path", "positive-sources"),
          negative = seeds("negative-path", "negative-sources"),
          idCol = o.getOrElse("id-col", "doc_id"),
          textCol = o.getOrElse("text-col", "text"))
        writer.writeParquet(verdict, o.required("output-path"))
        val written = fetcher.readParquet(spark, o("output-path"))
        val total = written.count()
        val kept = written.filter(org.apache.spark.sql.functions.col("keep") === 1).count()
        println(s"[graft] curation-verdict: kept $kept / $total docs -> ${o("output-path")}")

      case "contamination-verdict" =>
        // the q134 composite on the CLI: all four leak gates (verbatim
        // n-gram, substring, MinHash fuzzy, embedding-space) joined into
        // one per-train-doc report with a method bitmask (1=ngram,
        // 2=substring, 4=fuzzy, 8=embedding); embedding gates run only
        // when both embedding paths are supplied
        val o = parseArgs(args.tail)
        val train = fetcher.readParquet(spark, o.required("docs-path"))
        val bench = fetcher.readParquet(spark, o.required("benchmark-path"))
        val emb = (o.get("embeddings-path"), o.get("benchmark-embeddings-path")) match {
          case (Some(te), Some(be)) =>
            (Some(fetcher.readParquet(spark, te)), Some(fetcher.readParquet(spark, be)))
          case (None, None) => (None, None)
          case _ => throw new IllegalArgumentException(
            "supply both --embeddings-path and --benchmark-embeddings-path or neither")
        }
        val verdict = operators.Verdicts.contaminationVerdict(
          train = train, bench = bench,
          trainEmb = emb._1, benchEmb = emb._2,
          minLen = o.getOrElse("min-len", "48").toInt,
          k = o.getOrElse("k", "16").toInt,
          fuzzyThreshold = o.getOrElse("fuzzy-threshold", "0.5").toDouble,
          embedThreshold = o.getOrElse("embed-threshold", "0.3").toDouble,
          idCol = o.getOrElse("id-col", "doc_id"),
          textCol = o.getOrElse("text-col", "text"))
        writer.writeParquet(verdict, o.required("output-path"))
        val written = fetcher.readParquet(spark, o("output-path"))
        val total = written.count()
        val clean = written.filter(org.apache.spark.sql.functions.col("clean") === 1).count()
        println(s"[graft] contamination-verdict: $clean / $total train docs clean -> ${o("output-path")}")

      case "release" =>
        // the CAPSTONE: compose every gate a real training-data release
        // runs — curation verdict (q132), contamination verdict (q134),
        // k-anonymity audit (q165), corpus card, tokenize+pack+shard
        // export with integrity manifest — into one release directory
        // whose single manifest JSON records each gate's verdict counts
        // and the shard checksums. The manifest writes LAST: a crash
        // mid-release leaves no manifest, and no manifest = no release.
        val o = parseArgs(args.tail)
        val out = o.required("output-path")
        val docs = fetcher.readParquet(spark, o.required("docs-path"))
        val bench = fetcher.readParquet(spark, o.required("benchmark-path"))
        val srcCol = o.getOrElse("source-col", "source")
        import org.apache.spark.sql.functions.{coalesce => cl, col => c, count => cnt, lit => l, sum => sm}
        def seeds(pathKey: String, srcKey: String): org.apache.spark.sql.DataFrame =
          (o.get(pathKey), o.get(srcKey)) match {
            case (Some(p), _) => fetcher.readParquet(spark, p)
            case (None, Some(srcs)) =>
              docs.filter(c(srcCol).isin(srcs.split(',').toSeq: _*))
            case _ => throw new IllegalArgumentException(
              s"release needs --$pathKey or --$srcKey")
          }
        // gate 0 (optional): declarative expectations over the INPUT —
        // a release from a malformed table (null ids, duplicate keys,
        // broken references) should refuse before any gate spends work.
        // Verdicts land first so a refused release leaves its evidence.
        val expectationsRan = o.get("expectations").map { spec =>
          val rules = operators.Expectations.parseRules(
            spec, p => fetcher.readParquet(spark, p))
          writer.writeParquet(operators.Expectations.check(docs, rules),
            s"$out/expectations")
          val failed = fetcher.readParquet(spark, s"$out/expectations")
            .filter(c("passed") === 0).count()
          require(failed == 0, s"release: $failed expectation rule(s) " +
            s"failed on the input — refusing to release (see $out/expectations)")
          true
        }.getOrElse(false)
        // gate 1: curation — keep/drop with a WHY bitmask
        writer.writeParquet(operators.Verdicts.curationVerdict(docs,
          positive = seeds("positive-path", "positive-sources"),
          negative = seeds("negative-path", "negative-sources")),
          s"$out/curation_verdict")
        val curation = fetcher.readParquet(spark, s"$out/curation_verdict")
        val kept = docs.join(curation.filter(c("keep") === 1)
          .select(c("doc_id")), Seq("doc_id"), "left_semi")
        // gate 2: contamination of the KEPT docs against the benchmark
        val emb = (o.get("embeddings-path"), o.get("benchmark-embeddings-path")) match {
          case (Some(te), Some(be)) =>
            (Some(fetcher.readParquet(spark, te)), Some(fetcher.readParquet(spark, be)))
          case (None, None) => (None, None)
          case _ => throw new IllegalArgumentException(
            "supply both --embeddings-path and --benchmark-embeddings-path or neither")
        }
        writer.writeParquet(operators.Verdicts.contaminationVerdict(
          train = kept, bench = bench, trainEmb = emb._1, benchEmb = emb._2),
          s"$out/contamination_verdict")
        val contamination = fetcher.readParquet(spark, s"$out/contamination_verdict")
        val candidate = kept.join(contamination.filter(c("clean") === 1)
          .select(c("doc_id")), Seq("doc_id"), "left_semi")
        val quasi = o.getOrElse("quasi-columns", "lang,source")
          .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        // optional gate 2b: privacy ENFORCEMENT before anything is written
        // — rows in quasi-classes failing k-anonymity (and l-diversity /
        // t-closeness when their knobs are given) are dropped
        // (--enforce-privacy true|drop) or quasi-generalized to NULL
        // (--enforce-privacy generalize); default false keeps the audits
        // report-only. Post-enforcement, the gate-3 audit below re-runs on
        // the RELEASED rows — in drop mode it must read 0 at-risk classes,
        // and the manifest records the suppressed count.
        val enforceMode = o.getOrElse("enforce-privacy", "false")
        val (released, nSuppressed) = enforceMode match {
          case "false" => (candidate, -1L)
          case m @ ("true" | "drop" | "generalize") =>
            val nCand = candidate.count()
            val enforced = operators.Profile.suppressAtRisk(
              candidate, quasi, k = o.getOrElse("k", "5").toLong,
              sensitiveCol = o.get("sensitive-col"),
              l = o.getOrElse("l", "2").toLong,
              tPpm = o.get("t-ppm").map(_.toLong),
              generalize = m == "generalize")
            (enforced, nCand - enforced.count())
          case other => throw new IllegalArgumentException(
            s"release: unknown --enforce-privacy '$other' " +
              "(false|true|drop|generalize)")
        }
        writer.writeParquet(released, s"$out/documents")
        val releasedDocs = fetcher.readParquet(spark, s"$out/documents")
        val nReleased = releasedDocs.count()
        // a release of nothing is an operator error, not an artifact: the
        // downstream shard export would write an unreadable empty layout
        // and a loader pointed at it would fail later and worse
        require(nReleased > 0,
          "release: zero documents survived the curation + contamination " +
            (if (enforceMode == "false") "gates" else "+ privacy gates") +
            " — nothing to release (inspect " +
            s"$out/curation_verdict fail_mask / $out/contamination_verdict method_mask)")
        // gate 3: k-anonymity audit over the RELEASED rows (report-only
        // unless --enforce-privacy already applied the policy above)
        writer.writeParquet(operators.Profile.kAnonymity(
          releasedDocs.select(quasi.map(c): _*), quasi,
          k = o.getOrElse("k", "5").toLong), s"$out/k_anonymity")
        // optional gate 3b: l-diversity over a sensitive column (a class
        // can clear k yet be homogeneous — the leak k-anonymity misses)
        val lDivStats = o.get("sensitive-col").map { sc =>
          writer.writeParquet(operators.Profile.lDiversity(
            releasedDocs.select((quasi :+ sc).map(c): _*), quasi, sc,
            l = o.getOrElse("l", "2").toLong), s"$out/l_diversity")
          fetcher.readParquet(spark, s"$out/l_diversity")
            .agg(cnt(l(1)), cl(sm(c("at_risk")), l(0L))).head()
        }
        // gate 4: corpus card over the released corpus
        val card = operators.CorpusCard.build(releasedDocs)
        card.foreach { case (name, df) =>
          writer.writeParquet(df, s"$out/corpus_card/$name") }
        // gate 5: tokenize -> pack -> shard export + integrity manifest
        val merges = o.get("merges-path") match {
          case Some(mp) => fetcher.readParquet(spark, mp)
          case None =>
            writer.writeParquet(operators.Packing.bpeMergeTable(releasedDocs,
              nMerges = o.getOrElse("n-merges", "8").toInt), s"$out/merges")
            fetcher.readParquet(spark, s"$out/merges")
        }
        val packed = operators.Packing.packTokenRows(
          operators.Packing.encodeToIds(releasedDocs, merges),
          seqLen = o.getOrElse("seq-len", "64").toInt)
        val rps = o.getOrElse("rows-per-shard", "128").toInt
        writer.writeParquet(
          operators.Packing.shardPacked(packed, rps, epoch = None)
            .repartition(c("shard_id"))
            .sortWithinPartitions(c("shard_id"), c("shard_pos")),
          s"$out/shards", partitionBy = Seq("shard_id"))
        // checksum the WRITTEN bytes — what the loader reads is what the
        // manifest vouches for (the export-shards rule)
        writer.writeParquet(operators.Packing.shardManifest(
          fetcher.readParquet(spark, s"$out/shards")), s"$out/shards/_manifest")
        // the release manifest: every gate's verdict counts + the global
        // shard checksum, one JSON row, written last
        val curStats = curation.agg(cnt(l(1)).as("t"),
          cl(sm(c("keep")), l(0L)).as("k")).head()
        val conStats = contamination.agg(cnt(l(1)).as("t"),
          cl(sm(c("clean")), l(0L)).as("k")).head()
        val kaStats = fetcher.readParquet(spark, s"$out/k_anonymity")
          .agg(cnt(l(1)), cl(sm(c("at_risk")), l(0L))).head()
        // content_sum is DECIMAL(38,0) (sums of 64-bit hashes overflow
        // BIGINT) — it crosses into the JSON manifest as a STRING
        val shStats = fetcher.readParquet(spark, s"$out/shards/_manifest")
          .agg(cnt(l(1)), cl(sm(c("n_rows")), l(0L)),
            cl(sm(c("content_sum")), l(0L).cast("decimal(38,0)")).cast("string")).head()
        locally {
          import spark.implicits._
          val gates = (if (expectationsRan) "expectations," else "") +
            "curation,contamination," +
            (if (enforceMode != "false") "privacy_enforcement," else "") +
            "k_anonymity," +
            (if (lDivStats.isDefined) "l_diversity," else "") +
            "corpus_card,shard_integrity"
          writer.writeJson(Seq((
            gates,
            curStats.getLong(0), curStats.getLong(1),
            conStats.getLong(0), conStats.getLong(1),
            enforceMode, nSuppressed,
            nReleased,
            kaStats.getLong(0), kaStats.getLong(1),
            lDivStats.map(_.getLong(0)).getOrElse(-1L),
            lDivStats.map(_.getLong(1)).getOrElse(-1L),
            card.keys.toSeq.sorted.mkString(","),
            shStats.getLong(0), shStats.getLong(1), shStats.getString(2)
          )).toDF("gates",
            "curation_total", "curation_kept",
            "contamination_checked", "contamination_clean",
            "privacy_enforced", "privacy_suppressed",
            "released_docs",
            "kanonymity_classes", "kanonymity_at_risk",
            "ldiversity_classes", "ldiversity_at_risk",
            "corpus_card_tables",
            "n_shards", "packed_rows", "shard_content_sum")
            .coalesce(1), s"$out/manifest")
        }
        println(s"[graft] release: ${curStats.getLong(1)}/${curStats.getLong(0)} " +
          s"curated, ${conStats.getLong(1)} clean, $nReleased released, " +
          s"${shStats.getLong(0)} shards (${shStats.getLong(1)} rows) -> $out")

      case "pmi" =>
        // corpus collocations by pointwise mutual information
        val o = parseArgs(args.tail)
        writer.writeParquet(
          operators.LmScore.pmiCollocations(
            fetcher.readParquet(spark, o.required("docs-path")),
            o.get("k").map(_.toInt).getOrElse(25),
            o.get("min-count").map(_.toLong).getOrElse(3L),
            o.getOrElse("text-col", "text")),
          o.required("output-path"))
        println(s"[graft] pmi: wrote collocations to ${o("output-path")}")

      case "weighted-sample" =>
        // deterministic weight-proportional sample; --category-col caps
        // per group instead of globally
        val o = parseArgs(args.tail)
        val docs = fetcher.readParquet(spark, o.required("docs-path"))
        val wCol = o.getOrElse("weight-col", "n_chars")
        val n = o.get("n").map(_.toInt).getOrElse(1000)
        val sample = o.get("category-col") match {
          case Some(cat) => operators.Sampling.weightedSamplePerCategory(docs, cat, wCol, n)
          case None => operators.Sampling.weightedSample(docs, wCol, n)
        }
        writer.writeParquet(sample, o.required("output-path"))
        val nOut = fetcher.readParquet(spark, o.required("output-path")).count()
        println(s"[graft] weighted-sample: kept $nOut rows -> ${o("output-path")}")

      case "serve" =>
        // single-process demo loop: sync the freshness window into the KV
        // store, then serve THE SAME store over HTTP until interrupted
        val o = parseArgs(args.tail)
        val n = runOnlineSync(spark, fetcher, o)
        val server = graft.serving.FeatureServer.start(
          o.getOrElse("port", "8080").toInt,
          kvFactory(kvSpecFrom(o))())
        println(s"[graft] serve: synced $n users; GET http://localhost:${server.port}/features/online/{user_id}")
        Thread.currentThread().join()

      case "offline-lookup" =>
        val o = parseArgs(args.tail)
        FeatureLookup.offlineFromTable(spark, fetcher,
          o.required("features-table"), o.required("user-id"), o.required("as-of")) match {
          case Some(row) => println(s"[graft] offline-lookup: $row")
          case None => println(s"[graft] offline-lookup: no snapshot for ${o("user-id")} (404)")
        }

      // versioned-table surface (the Iceberg snapshot-inspection parity):
      // list retained snapshots, read one (time travel), enforce retention
      case "table-history" =>
        val o = parseArgs(args.tail)
        val tbl = o.required("table")
        val vs = fetcher.tableVersions(spark, tbl)
        if (vs.isEmpty) println(s"[graft] table-history: $tbl has no versioned history")
        else vs.foreach { v =>
          val n = fetcher.readTableVersion(spark, tbl, v).count()
          println(s"[graft] table-history: $tbl v$v rows=$n")
        }

      case "read-version" =>
        val o = parseArgs(args.tail)
        val tbl = o.required("table")
        val v = o.required("version").toLong
        val df = fetcher.readTableVersion(spark, tbl, v)
        o.get("output-path") match {
          case Some(p) =>
            writer.writeParquet(df, p)
            println(s"[graft] read-version: wrote $tbl v$v to $p")
          case None =>
            println(s"[graft] read-version: $tbl v$v rows=${df.count()}")
        }

      case "table-diff" =>
        // what moved between two retained snapshots of a versioned table
        val o = parseArgs(args.tail)
        val tbl = o.required("table")
        val (v1, v2) = (o.required("from").toLong, o.required("to").toLong)
        val (a, b) = (fetcher.readTableVersion(spark, tbl, v1),
          fetcher.readTableVersion(spark, tbl, v2))
        val idCol = o.getOrElse("id-col", "doc_id")
        val textCol = o.getOrElse("text-col", "text")
        o.get("output-path").foreach(p => writer.writeParquet(
          operators.SnapshotDiff.diff(a, b, idCol, textCol), p))
        val s = operators.SnapshotDiff.diffSummary(a, b, idCol, textCol).head()
        println(s"[graft] table-diff: $tbl v$v1 -> v$v2 " +
          s"added=${s.getLong(0)} removed=${s.getLong(1)} " +
          s"changed=${s.getLong(2)} unchanged=${s.getLong(3)}")

      case "vacuum-table" =>
        val o = parseArgs(args.tail)
        val tbl = o.required("table")
        val keep = o.getOrElse("keep-last", "3").toInt
        writer.vacuumTable(spark, tbl, keep,
          graceMs = o.get("grace-minutes").map(_.toLong * 60000L).getOrElse(3600000L))
        println(s"[graft] vacuum-table: $tbl retained ${fetcher.tableVersions(spark, tbl).size} versions")

      case "compact-table" =>
        // small-file maintenance: rewrite the live snapshot as one
        // compacted data dir (new version; data identical; old versions
        // time-travelable until vacuum)
        val o = parseArgs(args.tail)
        val tbl = o.required("table")
        val target = o.getOrElse("target-records", (1L << 20).toString).toLong
        writer.compactTable(spark, tbl, target) match {
          case Some(st) => println(s"[graft] compact-table: $tbl v${st.version} " +
            s"files ${st.filesBefore} -> ${st.filesAfter}")
          case None => println(s"[graft] compact-table: $tbl is not a " +
            "versioned table — nothing to compact")
        }

      // one-command walkthrough (the reference's `make demo`): backfill ->
      // derive labels -> point-in-time join -> online sync -> both serving
      // lookups, against the bundled sample events unless overridden
      case "demo" =>
        val o = parseArgs(args.tail)
        val eventsPath = o.getOrElse("events-raw-path", "/root/testdata/sf0.001/events.parquet")
        val tag = spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
        val table = s"graft_demo_features_$tag"
        val scratch = s"/tmp/graft_demo_$tag"
        val (start, end, cutoff) = ("2024-01-01", "2024-01-30", "2024-01-24")

        // cleanup runs whether the walkthrough finishes or dies mid-stage —
        // a failed demo must not leak its scratch dir or catalog table
        try {
          // normalize ONCE up front: the feature-store contract keys users
          // as strings and timestamps as micros; sample event logs differ
          // (numeric ids, nanos ts) — one pass writes a conforming copy
          // every later stage reads
          writer.writeParquet(
            BackfillPipeline.readEvents(spark, fetcher, eventsPath)
              .withColumn("user_id", col("user_id").cast("string")),
            s"$scratch/events")
          // every later stage reads the normalized COPY — no second scan of
          // the raw source, no reliance on the nanos conf-capture quirk
          val events = fetcher.readParquet(spark, s"$scratch/events", None)

          println(s"[graft] demo 1/4: backfill $eventsPath -> $table ($start..$end)")
          BackfillPipeline.run(spark, fetcher, writer, BackfillConfig(
            eventsRawPath = s"$scratch/events", outputTable = table,
            startDate = start, endDate = end))
          val features = fetcher.readTable(spark, table)
          println(s"[graft] demo: ${features.count()} feature rows")

          println("[graft] demo 2/4: labels (purchase events) -> point-in-time join")
          val labelCol = // sample generators differ on carrying a value column
            if (events.columns.contains("value")) col("value").cast("double") else lit(1.0)
          writer.writeParquet(events.filter(col("event_type") === "purchase")
            .select(col("user_id"), labelCol.as("label"), col("ts").as("as_of_ts")),
            s"$scratch/labels")
          PointInTimeJoinPipeline.run(spark, fetcher, writer, PointInTimeJoinConfig(
            labelsPath = s"$scratch/labels", featuresTable = table,
            outputPath = s"$scratch/training")) match {
            case Some(_) =>
              val training = fetcher.readParquet(spark, s"$scratch/training", Some(Schemas.trainingData))
              println(s"[graft] demo: ${training.count()} leakage-free training rows, e.g.")
              training.show(3, truncate = false)
            case None => println("[graft] demo: no labels joined (empty purchase set?)")
          }

          println("[graft] demo 3/4: online-sync (in-memory KV) + HTTP-style lookups")
          val synced = OnlineSyncPipeline.run(spark, fetcher, OnlineSyncConfig(table),
            () => InMemoryKVStore, cutoffOverride = Some(to_date(lit(cutoff))))
          features.select(col("user_id")).orderBy(col("user_id"))
            .limit(1).collect().headOption.map(_.getString(0)) match {
            case Some(sampleUser) =>
              println(s"[graft] demo: synced $synced users; online($sampleUser) = " +
                FeatureLookup.online(InMemoryKVStore, sampleUser))
              println(s"[graft] demo: offline($sampleUser @ $cutoff) = " +
                FeatureLookup.offline(features, sampleUser, cutoff))
            case None =>
              println(s"[graft] demo: synced $synced users; event log produced no " +
                "feature rows — nothing to look up (empty input?)")
          }
          println("[graft] demo complete")
        } finally {
          println("[graft] demo 4/4: cleanup")
          // cleanup must never MASK the original demo failure: an unhealthy
          // session can make the catalog ops themselves throw
          try if (spark.catalog.tableExists(table)) spark.sql(s"DROP TABLE $table")
          catch { case e: Throwable =>
            println(s"[graft] demo: could not drop $table (${e.getMessage})")
          }
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
        }

      case other =>
        println(s"Unknown pipeline: $other\n$usage")
        sys.exit(1)
    }
  }

  /** shared flag handling for online-sync and serve */
  private def runOnlineSync(spark: org.apache.spark.sql.SparkSession,
      fetcher: graft.sources.Fetcher, o: Map[String, String]): Long =
    OnlineSyncPipeline.run(spark, fetcher,
      OnlineSyncConfig(
        featuresTable = o.required("features-table"),
        hoursBack = o.get("hours-back").map(_.toInt).getOrElse(24)),
      kvFactory(kvSpecFrom(o)),
      cutoffOverride = o.get("cutoff").map(c => to_date(lit(c))))

  /** KV spec resolution: the reference CLI takes `--redis-host`/
    * `--redis-port` (reference App.scala:99-110) — accept those verbatim
    * for drop-in parity, folding them into the `redis:` spec; otherwise
    * `--kv` (default memory).
    */
  private[graft] def kvSpecFrom(o: Map[String, String]): String =
    o.get("redis-host") match {
      case Some(host) =>
        // conflicting specs abort loudly — silently preferring one would
        // sync into the wrong store with exit code 0
        if (o.contains("kv")) throw new IllegalArgumentException(
          "--kv and --redis-host are mutually exclusive; pass one KV spec")
        val port = o.getOrElse("redis-port", "6379")
        s"redis:$host:$port" + o.get("redis-password").map(":" + _).getOrElse("")
      case None =>
        // redis-* flags WITHOUT the host would fall through to the
        // in-memory store: a sync that "succeeds" into a JVM-local map
        val orphans = Seq("redis-port", "redis-password").filter(o.contains)
        if (orphans.nonEmpty) throw new IllegalArgumentException(
          s"${orphans.map("--" + _).mkString(", ")} given without --redis-host")
        o.getOrElse("kv", "memory")
    }

  /** `--key value` pair parsing (reference: App.scala:150-156), hardened:
    * a flag without a value, or a bare token where a flag belongs, aborts
    * with a pointed message instead of silently shifting every later
    * binding onto the wrong flag.
    */
  def parseArgs(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.stripPrefix("--") -> v
      case Seq(k, v) if k.startsWith("--") =>
        throw new IllegalArgumentException(s"missing value for $k (got flag '$v' instead)")
      case Seq(k, _) =>
        throw new IllegalArgumentException(s"expected a --flag, got '$k'")
      case Seq(k) =>
        throw new IllegalArgumentException(s"dangling argument '$k' (flags come in --key value pairs)")
    }.toMap

  def kvFactory(kind: String): () => KVClient = kind match {
    case "memory" => () => InMemoryKVStore
    case redis if redis.startsWith("redis:") =>
      // redis:host:port[:password] — the vendored RESP client; each
      // partition of the distributed sink opens its own connection.
      // split limit 3: the password may itself contain ':'; limit -1
      // semantics via the third segment keeps a trailing ':' (empty
      // password) a loud parse error, not a silent no-AUTH connection
      // port validated HERE, not in the executor-side closure: a bad port
      // must be a driver-side parse error, not a mid-job task failure
      def parsePort(p: String): Int =
        try p.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"malformed --kv '$redis': port '$p' is not a number")
        }
      redis.stripPrefix("redis:").split(":", 3) match {
        case Array(host, port) if host.nonEmpty =>
          val p = parsePort(port)
          () => new graft.sources.RespKVClient(host, p)
        case Array(host, port, password) if host.nonEmpty && password.nonEmpty =>
          val p = parsePort(port)
          () => new graft.sources.RespKVClient(host, p, Some(password))
        case _ => throw new IllegalArgumentException(
          s"malformed --kv '$redis': expected redis:host:port[:password] " +
            "(non-empty host; non-empty password when the third segment is present)")
      }
    case other => throw new IllegalArgumentException(
      s"unknown --kv '$other': supported are 'memory' (in-JVM) and " +
        "'redis:host:port[:password]' (vendored RESP client); or implement " +
        "graft.sources.KVClient over your store's driver and register it here")
  }

  private val usage =
    """Usage: <pipeline> [--flag value ...]
      |
      |Pipelines:
      |  backfill           --events-raw-path <path> --output-table <table>
      |                     --start-date <date> --end-date <date>
      |                     [--incremental true] [--buckets <n>]
      |  point-in-time-join --labels-path <path> --features-table <table>
      |                     --output-path <path> [--plan union|rank]
      |  online-sync        --features-table <table> [--hours-back <n=24>]
      |                     [--cutoff <date>] [--kv memory|redis:host:port[:pw]]
      |                     [--redis-host <h> [--redis-port <p=6379>]
      |                      [--redis-password <pw>]]
      |  offline-lookup     --features-table <table> --user-id <id> --as-of <date>
      |  table-history      --table <table>   list retained snapshot versions
      |  read-version       --table <table> --version <n> [--output-path <path>]
      |                     time travel: read a retained snapshot
      |  vacuum-table       --table <table> [--keep-last <n=3>] [--grace-minutes <m=60>]
      |                     drop old snapshots + unreferenced data dirs
      |  compact-table      --table <table> [--target-records <n=1048576>]
      |                     rewrite the live snapshot as one compacted data
      |                     dir (small-file maintenance; data identical)
      |  table-diff         --table <table> --from <v> --to <v> [--output-path <p>]
      |                     added/removed/changed/unchanged between snapshots
      |  serve              --features-table <table> [--port <p=8080>]
      |                     [--hours-back <n=24>] [--cutoff <date>]
      |                     [--kv ...|--redis-host ... as online-sync]
      |  corpus-prep        --docs-path <path> --output-path <path>
      |                     [--quota <n=100>] [--budget <tokens=512>]
      |                     [--quality-pct <p=25>] [--bucket-width <ids=4096>]
      |                     [--gate-storage <level=MEMORY_AND_DISK>]
      |                     [--state-path <dir>]  incremental: docs-path is a
      |                     SHARD; state tables init on first run, append after
      |                     dedup -> quality gate -> rebalance -> pack
      |  sketch             --docs-path <path> --output-path <path> build, or
      |                     --merge <p1,p2,...> --output-path <path> max-merge
      |                     [--group-col <c=lang>] [--value-col <c=text>]
      |                     [--log-m <p=14>] [--estimate-path <path>]
      |                     mergeable per-group HLL vectors (shard -> union)
      |  sessionize         --events-raw-path <path> --output-path <path>
      |                     [--gap-seconds <n=1800>] [--funnel-steps a,b,c]
      |                     gap-cut sessions -> per-session rollup parquet;
      |                     optional ordered-funnel report on stdout
      |  curate             --docs-path <path> --output-path <path>
      |                     [--delimiter <s="\n\n">] [--max-tokens <n>]
      |                     [--state-path <dir>]  incremental: docs-path is a
      |                     SHARD deduped against the stored segment state
      |                     segment dedup -> PII redaction -> truncation
      |  audit              --docs-path <path> --output-path <path>
      |                     [--category-col <c=lang>] [--drift-col <c=source>]
      |                     [--drift-value-col <c>  default: length(text-col)]
      |                     [--bucket-width <n=64>] [--batch-size <n=16>]
      |                     split-balance + source-drift + padding reports
      |  substring-dedup    --docs-path <path> --output-path <path>
      |                     [--min-len <n=48>] [--k <n=16>]
      |                     [--init-state-path <dir>]
      |                     incremental: --state-path <dir> --shard-path <path>
      |                     (docs-path must then cover stored AND shard ids
      |                     — verification reads both sides' text)
      |                     verbatim >= min-len-char passage pairs (winnowing)
      |  contamination      --docs-path <path> --benchmark-path <path>
      |                     --output-path <path> [--ngram <n=3>] [--min-len <n=48>]
      |                     [--broadcast-reference <b=true>]
      |                     shingle-overlap + verbatim-substring leak reports
      |                     + per-benchmark-item report (worst offender)
      |  lm-score           --docs-path <path> --output-path <path>
      |                     [--reference-path <path>]  unigram surprisal scores
      |  lm-train           --reference-path <path> --model-path <dir>
      |                     persist the unigram model state (train once)
      |  lm-score-with-model --docs-path <path> --model-path <dir>
      |                     --output-path <path>  score against frozen state
      |  pagerank           --edges-path <path> --output-path <path>
      |                     [--iters <n=5>] [--src-col src] [--dst-col dst]
      |                     [--report-convergence true]  print the final
      |                     round's total |delta| (0 = fixed point)
      |                     fixed-point host/domain authority ranking
      |  ewma               --events-path <path> --output-path <path>
      |                     [--decay-ppm <n=850000>] [--state-path <dir>]
      |                     [--at-event true]  decayed per-user features:
      |                     state (default), shard ingest, or per-event
      |  rfm                --events-path <path> --output-path <path>
      |                     [--buckets <n=5>] [--monetary-type purchase]
      |                     [--broadcast-ranks <b=false>, monetary only —
      |                     recency/frequency histograms always broadcast]
      |                     [--state-path <dir>]
      |                     [--from-state true]
      |                     per-user R/F/M scores + the 3-digit rfm_cell;
      |                     state fold (shard ingest) or score-from-state
      |  traffic-anomaly    --events-path <path> --output-path <path>
      |                     [--window-days <n=7>] [--k-num <n=3>] [--k-den <n=1>]
      |                     [--state-path <dir>] [--from-state true]
      |                     day-volume z-test verdicts vs the trailing window
      |  expectations       --docs-path <path> --output-path <path>
      |                     --rules "not_null:c;unique:a,b;in_set:c=v1|v2;
      |                       in_range:c=lo..hi;regex:c=pat;row_count:lo..hi;
      |                       fk:cols-><parent-path>:pcols"
      |                     [--fail-on-violation true]
      |                     bulk rule verdicts (Deequ-style); row-local
      |                     rules share one scan; ';' separates rules and
      |                     '|' separates in_set values — escape literal
      |                     uses inside a value as \; and \|
      |  attribution        --events-path <path> --output-path <path>
      |                     [--window-days <n=7>] [--conv-type purchase]
      |                     [--touch-type click]
      |                     [--scheme linear|position|timedecay]
      |                     [--half-life-days <n=1>]  multi-touch credit
      |                     [--state-path <dir>]  incremental: events-path
      |                     is a SHARD; conversions credit against stored
      |                     + shard touches, state folds forward
      |                     [--unattributed true]  the complement report:
      |                     conversions with no in-window touch
      |  conversion-paths   --events-path <path> --output-path <path>
      |                     [--window-days <n=7>] [--conv-type purchase]
      |                     [--touch-types click,view,signup]
      |                     [--rollup true]  per-conversion journey strings
      |                     or the grouped top-paths table
      |  release            --docs-path <path> --benchmark-path <path>
      |                     --output-path <dir>
      |                     (--positive-sources a,b | --positive-path <p>)
      |                     (--negative-sources c,d | --negative-path <p>)
      |                     [--embeddings-path <p> --benchmark-embeddings-path <p>]
      |                     [--quasi-columns lang,source] [--k <n=5>]
      |                     [--sensitive-col <c> [--l <n=2>]]  adds the
      |                     l-diversity gate to the manifest
      |                     [--merges-path <p> | --n-merges <n=8>]
      |                     [--seq-len <n=64>] [--rows-per-shard <n=128>]
      |                     [--expectations "<rule spec>"]  gate 0: refuse
      |                     the release if any input expectation fails
      |                     the full release: curation + contamination
      |                     gates filter, k-anonymity + corpus card audit,
      |                     tokenize->pack->shard with checksums; one
      |                     manifest JSON (written LAST) records it all
      |  k-anonymity        --table-path <path> --columns a,b
      |                     --output-path <path> [--k <n=5>]
      |                     [--sensitive-col <c> [--l <n=2> | --t-ppm <n>]]
      |                     quasi-identifier re-identification audit;
      |                     with --sensitive-col: l-diversity companion;
      |                     adding --t-ppm: t-closeness distribution audit
      |  trustrank          --edges-path <path> --seeds-path <path>
      |                     --output-path <path> [--iters <n=5>]
      |                     [--report-convergence true]
      |                     seed-personalized PageRank (proximity to trust)
      |  heavy-hitters      --table-path <path> --output-path <path>
      |                     [--columns a,b] [--min-share-ppm <n=10000>]
      |                     CMS-prefiltered EXACT per-column heavy hitters
      |  embed-clusters     --input-path <path> --init-pred <sql>
      |                     --output-path <path> [--iters <n=2>]
      |                     [--profile-path <path>]  k-means topic buckets
      |  rrf                --signal-paths a,b,... --output-path <path>
      |                     [--list-depth <n=1000>] [--k-rrf <n=60>]
      |                     reciprocal-rank fusion of scored signals
      |  trigram-train      --reference-path <path> --state-path <dir>
      |                     persist trigram stupid-backoff gram counts
      |  trigram-ingest     --shard-path <path> --state-path <dir>
      |                     append a shard's count partial (no retrain)
      |  trigram-score      --docs-path <path> --state-path <dir>
      |                     --output-path <path>  score off (grown) state
      |  profile            --table-path <path> --output-path <path>
      |                     [--columns a,b,c] [--before-path <stored profile>
      |                      [--diff-output-path <path>]]  per-column
      |                     data-quality report + drift alert vs snapshot
      |  kl-drift           --docs-path <path> --output-path <path>
      |                     [--group-col <c=source>]  per-group token KL
      |  tfidf              --docs-path <path> --output-path <path>
      |                     [--k <n=5>]  per-doc characteristic terms
      |  pmi                --docs-path <path> --output-path <path>
      |                     [--k <n=25>] [--min-count <n=3>]  collocations
      |  embed-contamination --corpus-path <path> --benchmark-path <path>
      |                     --output-path <path> [--threshold <t=0.9>]
      |                     [--bands <n=8>]  semantic (paraphrase) leaks
      |  weighted-sample    --docs-path <path> --output-path <path>
      |                     [--weight-col <c=n_chars>] [--n <n=1000>]
      |                     [--category-col <c>]  weight-proportional sample
      |  fuzzy-contamination --docs-path <path> --benchmark-path <path>
      |                     --output-path <path> [--ngram <n=3>]
      |                     [--threshold <t=0.5>] [--broadcast-reference <b=true>]
      |                     MinHash near-dup (paraphrase-grade) leaks
      |  perplexity-buckets --docs-path <path> --reference-path <path>
      |                     --output-path <path> [--buckets <n=3>]
      |                     [--group-col <c=lang>]  CCNet head/middle/tail tiers
      |  dup-profile        --docs-path <path> --output-path <path>
      |                     [--ngram <n=3>]  per-doc duplicated-shingle fraction
      |  entropy            --docs-path <path> --output-path <path>
      |                     token entropy + type-token ratio per doc
      |  corpus-card        --docs-path <path> --output-path <path>
      |                     [--state-path <dir>]  incremental: docs-path is a
      |                     SHARD; per-doc stats append, card reads merged state
      |                     datasheet report: languages, sources, lengths,
      |                     duplication, quality tables
      |  url-dedup          --docs-path <path> --output-path <path>
      |                     [--url-col <c=url>] [--state-path <dir>]
      |                     canonical-URL page dedup; state-path appends the
      |                     SHARD's page partials (first crawl wins)
      |  host-split         --docs-path <path> --output-path <path>
      |                     [--url-col <c=url>] [--train-pct <80>] [--val-pct <10>]
      |                     site-coherent train/val/test by canonical host
      |  bpe-train          --docs-path <path> --merges-path <path>
      |                     [--n-merges <n=8>]  learn the BPE merge table
      |  tokenize           --docs-path <path> --merges-path <path>
      |                     --output-path <path> [--max-word-len <n=24>]
      |                     encode docs to token-id arrays (frozen merges)
      |  pack               --encoded-path <path> --output-path <path>
      |                     [--seq-len <n=64>] [--packed-path <stored>]
      |                     fixed-length training rows with doc boundaries;
      |                     --packed-path appends the shard incrementally
      |  media-dedup        --media-path <path> --output-path <path>
      |                     [--modality image|audio|video] [--max-hamming <n=3>]
      |                     [--stride <n=1>] [--state-path <path>]
      |                     [--id-col/--payload-col/--format-col]
      |                     perceptual near-dup pairs; --state-path appends
      |                     fingerprint-once (id, hash) state incrementally
      |  export-shards      --packed-path <path> | --encoded-path <path>
      |                     --output-path <path> --rows-per-shard <n>
      |                     [--epoch <n>] [--seq-len <n=64>]
      |                     one bounded ordered file per shard; --epoch
      |                     bakes the deterministic epoch shuffle into
      |                     the shard layout; writes a _manifest of
      |                     per-shard order-free checksums
      |  verify-shards      --shards-path <path>
      |                     recompute checksums vs the _manifest; fails
      |                     loudly with the offending shard ids
      |  curation-verdict   --docs-path <path> --output-path <path>
      |                     (--positive-path <p> --negative-path <p> |
      |                      --positive-sources a,b --negative-sources c,d
      |                      [--source-col <c=source>])
      |                     gopher+c4+nb+entropy+dedup keep/drop w/ fail bitmask
      |  contamination-verdict --docs-path <train> --benchmark-path <path>
      |                     --output-path <path> [--min-len <n=48>] [--k <n=16>]
      |                     [--fuzzy-threshold <t=0.5>] [--embed-threshold <t=0.3>]
      |                     [--embeddings-path <p> --benchmark-embeddings-path <p>]
      |                     4-gate leak verdict w/ method bitmask per train doc
      |  demo               [--events-raw-path <path>]   end-to-end walkthrough
      |""".stripMargin
}
