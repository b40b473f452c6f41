package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Composite training-data preprocessing pipeline (builder-prompt scope):
 * the canonical corpus-cleanup pass — language filter, quality floor,
 * exact dedup — composed from the verified primitives.
 *
 * Scale shape: language ID and quality scoring are one fused map stage
 * (native TokenStats expression, no shuffle); the dedup is a single
 * hash-aggregate on the 128-bit key — the only shuffle in the pipeline,
 * and it moves (key, id, lang, score) tuples, never document text.
 */
object Pipeline {

  /**
   * docs → surviving documents with their language, quality score and
   * duplicate count. `dedupKey` defaults to the full normalized-text
   * fingerprint; pass e.g. a prefix fingerprint for fuzzy-prefix dedup.
   * Keeps the lowest-id document of every duplicate group.
   */
  def cleanCorpus(docs: DataFrame, lang: String = "en", minQuality: Double = 0.3,
      idCol: String = "doc_id", textCol: String = "text",
      dedupKey: Option[Column] = None): DataFrame = {
    val key = dedupKey.getOrElse(TextFunctions.fingerprint(col(textCol)))
    val scored = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("lang_pred", TextFunctions.langId(col("text")))
      .withColumn("score", round(TextFunctions.qualityScore(col("text")), 6))
      .filter(col("lang_pred") === lang && col("score") >= minQuality)
      .withColumn("fp", key)
    scored
      .groupBy(col("fp"))
      .agg(
        min_by(struct(col("doc_id"), col("score")), col("doc_id")).as("_keep"),
        count(lit(1)).as("dups"))
      .select(col("fp"), col("_keep.doc_id").as("doc_id"),
        col("_keep.score").as("score"), col("dups"))
  }

  /**
   * Per-group corpus report — the health dashboard every curation run
   * ends with: document/token/char volumes and the exact-unique count
   * per source (or any grouping column). One map stage + one hash
   * aggregate; integer outputs so any engine replicates it exactly.
   * `n_unique` < `n_docs` quantifies within-source exact duplication.
   */
  def corpusStats(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame =
    docs.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("total_tokens"),
      sum(length(col(textCol)).cast("long")).as("total_chars"),
      countDistinct(TextFunctions.fingerprint(col(textCol))).as("n_unique"))

  /**
   * Sketch-based twin of `corpusStats` for the 100 TB report: exact
   * `countDistinct` re-shuffles every distinct fingerprint (a second
   * full-width exchange whose payload grows WITH the data), while
   * HyperLogLog++ carries a fixed 2^p-register sketch per group through
   * ONE partial/final aggregation — constant shuffle payload at any
   * scale, mergeable across days. Adds the per-document token-count
   * distribution (p50/p95) via the positive-indexed percentile sketch,
   * which an exact median would pay a per-group sort for.
   *
   * Both sketches are deterministic for a given dataset (no RNG), but
   * not bit-portable across engines — `corpusStats` stays the oracle
   * surface; the spec pins the approximation error instead.
   */
  def corpusStatsApprox(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", rsd: Double = 0.05): DataFrame = {
    val nTok = TextFunctions.tokenCount(col(textCol))
    docs.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(nTok.cast("long")).as("total_tokens"),
      sum(length(col(textCol)).cast("long")).as("total_chars"),
      approx_count_distinct(TextFunctions.fingerprint(col(textCol)), rsd)
        .as("n_unique_approx"),
      percentile_approx(nTok, array(lit(0.5), lit(0.95)), lit(1000))
        .as("tokens_p50_p95"))
  }

  /**
   * STREAMING corpus cleanup — the same language filter + quality floor
   * as `cleanCorpus`, composed with watermark-bounded exact dedup
   * (`Dedup.streamingExactDedup`) so a continuous document feed is
   * curated incrementally: the scoring stages are stateless per-row maps
   * (identical plans to the batch path), and the only state is the
   * seen-fingerprint set bounded by the watermark. Batch `cleanCorpus`
   * remains the complete backfill pass over the same semantics.
   */
  def cleanCorpusStream(docs: DataFrame, lang: String = "en",
      minQuality: Double = 0.3, textCol: String = "text",
      timeCol: String = "ingest_time", watermark: String = "1 hour"): DataFrame = {
    val scored = docs
      .withColumn("lang_pred", TextFunctions.langId(col(textCol)))
      .withColumn("score", round(TextFunctions.qualityScore(col(textCol)), 6))
      .filter(col("lang_pred") === lang && col("score") >= minQuality)
    Dedup.streamingExactDedup(scored, textCol, timeCol, watermark)
  }

  /**
   * The whole curation chain in one call — raw crawl to packed training
   * sequences, each stage an individually-oracled primitive:
   *
   *   1. markup strip + PII redaction (map stage);
   *   2. language filter + quality floor + exact dedup (`cleanCorpus`);
   *   3. CCNet LM perplexity band (self-trained bigram model);
   *   4. within-corpus near-dup keep-min (MinHash LSH, verified);
   *   5. exact duplicate-span CUT (Lee et al., spans removed in place);
   *   6. benchmark decontamination (when an eval set is supplied);
   *   7. sequence packing to the token budget.
   *
   * Returns the packed sequences; pass `packBudget = 0` to get curated
   * documents instead.
   *
   * Stage boundaries are MATERIALIZED (lineage-truncating checkpoint):
   * the LM stage alone reads its input five times (unigram, bigram,
   * totals, scoring, band join), and without a cut each re-read would
   * re-execute every upstream regex pass — measured 8× the sum of the
   * stages at sf0.1. Boundaries default to executor-block
   * `localCheckpoint` (fast, fine for a job that can simply re-run);
   * a 100 TB run passes `checkpointDir = Some(path)` to make every
   * boundary a DURABLE parquet write under that path (see [[Stages]]) —
   * executor loss then costs a task retry, not the whole run, and each
   * completed stage survives as an inspectable artifact.
   * `nearDupMaxBucket` reaches the near-dedup stage's LSH hot-bucket
   * guard ([[graft.functions.Dedup.minhashLshPairs]]) — at corpus
   * scale a degenerate band bucket squares, and the cap must be
   * settable from the chain, not only on the standalone operator. As a
   * CHAIN entry point it defaults to the finite, sf1-measured
   * [[graft.functions.Dedup.DefaultChainMaxBucket]] (uncapped
   * generation measured 41–94× for 10× data; the star sample keeps
   * over-cap duplicate clusters deduplicating — see the operator
   * scaladoc). Pass `Int.MaxValue` for uncapped calibration runs.
   */
  def prepareTrainingData(docs: DataFrame,
      benchmark: Option[DataFrame] = None, lang: String = "en",
      minQuality: Double = 0.3, lmLow: Double = 0.05, lmHigh: Double = 0.95,
      nearDupThreshold: Double = 0.8, spanW: Int = 20, spanMinOcc: Int = 2,
      packBudget: Int = 2048, idCol: String = "doc_id",
      textCol: String = "text", checkpointDir: Option[String] = None,
      nearDupMaxBucket: Int = Dedup.DefaultChainMaxBucket): DataFrame = {
    def cut(df: DataFrame, stage: String) = Stages.boundary(df, checkpointDir, stage)
    val scrubbed = cut(docs.withColumn(textCol,
      TextFunctions.redactPii(TextFunctions.stripHtml(col(textCol)))),
      "01_scrubbed")
    // cleanCorpus reports (fp, doc_id, score, dups) — semi-join the
    // surviving ids back onto the scrubbed text
    val clean = cut(scrubbed
      .join(cleanCorpus(scrubbed, lang, minQuality, idCol, textCol)
        .select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol), col(textCol)),
      "02_clean")
    val banded = cut(LanguageModel
      .perplexityBandFilterSelf(clean, lmLow, lmHigh, idCol, textCol)
      .drop("lp_q4"),
      "03_lm_banded")
    val nearDeduped = cut(intraBatchNearDedup(banded,
      threshold = nearDupThreshold, idCol = idCol, textCol = textCol,
      maxBucketSize = nearDupMaxBucket),
      "04_near_deduped")
    val spanCut = cut(Dedup.cutSpans(nearDeduped,
      Dedup.duplicateSpans(nearDeduped, spanW, spanMinOcc,
        idCol = idCol, textCol = textCol), idCol, textCol),
      "05_span_cut")
    val decontaminated = benchmark match {
      case Some(b) => Decontaminate.cleanCorpus(spanCut, b,
        idCol = idCol, textCol = textCol)
      case None => spanCut
    }
    if (packBudget <= 0) decontaminated
    else Sampling.packSequences(decontaminated, idCol,
      TextFunctions.tokenCount(col(textCol)), packBudget)
  }

  /**
   * Top-k TF-IDF terms per document — the classic keyword/topic signal
   * (search-style relevance, per-doc topic tags, cheap clustering
   * features). Three hash-aggs ((doc, term) tf → term df → corpus N) and
   * one per-doc ranking window; only (doc, term, count) tuples shuffle.
   *
   * Determinism: score = tf·ln(N/df) is quantized to integer 1e-6 BEFORE
   * ranking, and rank order is (score_q6 desc, term asc) — so ranks are
   * reproducible bit-for-bit in any engine; the 1-ulp `ln` wobble can
   * only flip a quantization boundary (~1e-10 per distinct (tf, df)).
   */
  def topTfidfTerms(docs: DataFrame, topK: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score_q6",
        floor(col("tf") * log(col("n_docs").cast("double") / col("df")) *
          lit(1e6) + lit(0.5)).cast("long"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_q6").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("doc_id").as(idCol), col("rank"), col("term"), col("tf"),
        col("score_q6"))
  }

  /**
   * Within-batch near-dup keep-min: drop every document that verified-
   * matches a smaller-id document in the same frame (LSH candidates,
   * exact-Jaccard verification). The batch-local half of the incremental
   * dedup story — `Dedup.dedupAgainstIndex` covers batch-vs-history.
   * Chain surface: `maxBucketSize` defaults to the finite
   * [[graft.functions.Dedup.DefaultChainMaxBucket]]; over-cap clone
   * clusters still collapse to their min-id representative through the
   * star sample. Pass `Int.MaxValue` for the uncapped exact algebra.
   */
  def intraBatchNearDedup(batch: DataFrame, n: Int = 3, k: Int = 64,
      bands: Int = 16, threshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text",
      maxBucketSize: Int = Dedup.DefaultChainMaxBucket): DataFrame = {
    val drop = Dedup.minhashLshPairs(batch, n, k, bands, threshold,
      maxBucketSize = maxBucketSize, idCol = idCol, textCol = textCol)
      .select(col("id_b").as(idCol)).distinct()
    batch.join(drop, Seq(idCol), "left_anti")
  }

  /**
   * STREAMING corpus-wide near-dedup against the persistent MinHash
   * index — the state-on-disk complement to `cleanCorpusStream`'s
   * watermark-bounded exact dedup: the watermark form forgets after the
   * window; this form never forgets, because its "state" is the parquet
   * index, unbounded in TIME but O(corpus) on DISK, exactly like the
   * tier store. Per micro-batch: intra-batch keep-min near-dedup →
   * anti-join against the index → `sink(clean)` → append survivors to
   * the index. The batch's shingle+signature table is computed once and
   * persisted across all three consumers (pair generation, index query,
   * index append) — see the foreachBatch body. On restart: the index
   * query excludes self-id matches, so a replayed batch recomputes
   * exactly the original survivor set whichever side committed before
   * the crash — near-dups stay dropped, survivors may reach the sink
   * twice (at-least-once to the SINK; it dedupes, e.g. by batch
   * ledger), while the INDEX append is EXACTLY-ONCE: it commits through
   * [[graft.store.StagedBatchAppend]]'s per-batch ledger (namespace
   * derived from the checkpoint, the
   * [[graft.ingest.IngestPipeline.writerId]] idiom), so a replay skips
   * a committed append instead of leaving duplicate index rows live
   * until the next compaction.
   */
  def streamingIndexedDedup(stream: DataFrame, indexPath: String,
      checkpoint: String, sink: DataFrame => Unit, n: Int = 3, k: Int = 64,
      bands: Int = 16, threshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text",
      maxBucketSize: Int = Dedup.DefaultChainMaxBucket,
      compactEvery: Int = 0,
      compactMinFiles: Int = 4): org.apache.spark.sql.streaming.StreamingQuery = {
    val indexWriter = graft.store.BatchLedger.writerId("dedup", checkpoint)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // Shingles+signatures are the batch's dominant derived cost:
        // compute them ONCE (Dedup.shingledDocs), persist, and share the
        // result across all three consumers — intra-batch pair
        // generation, the index query, and the index append. The
        // doc-level entry points (intraBatchNearDedup → dedupAgainstIndex
        // → buildMinhashIndex) each re-derive them, tripling per-batch
        // work on the streaming path.
        // No .distinct() on the drop sets: they only ever feed left_anti
        // joins, which are duplicate-insensitive — a distinct is a whole
        // extra shuffle per micro-batch for nothing.
        val sh = Dedup.shingledDocs(batch, n, k, idCol, textCol).persist()
        val dropIntra = Dedup.pairsFromShingled(sh, k, bands, threshold,
          maxBucketSize).select(col("id_b").as("id")).persist()
        try {
          val shIntra = sh.join(dropIntra, Seq("id"), "left_anti")
          val hits = Dedup.queryIndexFromShingled(spark, shIntra, indexPath,
            n, k, bands, threshold).select(col("id_new").as("id"))
          val dropped = dropIntra.unionAll(hits).persist()
          try {
            // Anti-join against the ORIGINAL batch, not sh: docs with an
            // empty shingle set never pair with anything and must reach
            // the sink (they are absent from sh by construction, and —
            // as before — are never indexed).
            val clean = batch.join(dropped.withColumnRenamed("id", idCol),
              Seq(idCol), "left_anti").persist()
            try {
              // Materialize the whole shared cache chain (sh → dropIntra →
              // dropped → clean) with ONE action before fanning out:
              // Spark's cache has no per-partition compute lock, so two
              // concurrent jobs hitting the same not-yet-built cache each
              // recompute it — re-tripling the shingle work the shared
              // table exists to avoid — and a join planned over
              // unmaterialized caches loses its known-size broadcast.
              // Commit order sink → append, SEQUENTIAL by measurement,
              // not by necessity: ordering was never load-bearing (the
              // index query excludes self-id matches, so a replayed
              // batch recomputes the same survivor set whichever side
              // committed first), and a round-9 in-JVM alternating A/B
              // of this order vs a concurrent sink ∥ append found the
              // overlap a wash-to-loss at both 5k- and 25k-doc batches
              // (BENCH_NOTES.md): on a shared executor pool both jobs
              // already spread across every core, so overlapping them
              // buys nothing and the extra pre-materialize action it
              // requires costs a batch's worth of fixed overhead.
              sink(clean)
              Dedup.appendShingledToIndexBatch(
                sh.join(dropped, Seq("id"), "left_anti"),
                indexPath, n, k, bands, batchId, indexWriter): Unit
            } finally clean.unpersist()
          } finally dropped.unpersist()
        } finally { dropIntra.unpersist(); sh.unpersist() }
        // Self-maintenance: every append adds one file set per table, so
        // an unbounded stream makes every index query list-and-read one
        // file group per batch ever run. Folding from INSIDE foreachBatch
        // is the compaction contract's safe point by construction — this
        // is the single maintainer, and nothing else reads or appends the
        // index between micro-batches. compactEvery = 0 (default) means
        // no in-stream maintenance; the same call may then only run with
        // the stream STOPPED (compactMinhashIndex's quiesced-point
        // contract — a cron against a live stream would race an
        // in-flight append into the swap and lose its index rows).
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          Dedup.compactMinhashIndex(spark, indexPath,
            minFiles = compactMinFiles): Unit
      }
      .start()
  }

  /**
   * Split documents into fixed-size token windows with overlap — the
   * chunking step in front of embedding/RAG indexing and long-document
   * training. Chunk starts step by `maxTokens − overlap`; every token
   * lands in at least one chunk, the final chunk may be short, and
   * token-less documents produce no chunks. Pure per-row explode — the
   * chunk set depends only on the document, so it is stable under
   * repartition and task retry.
   */
  def chunkDocuments(docs: DataFrame, maxTokens: Int, overlap: Int = 0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      "need 0 <= overlap < maxTokens")
    val step = maxTokens - overlap
    docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
      .select(col("doc_id"), col("_toks"), col("_n"),
        explode(sequence(lit(0), col("_n") - 1, lit(step))).as("start"))
      .select(
        col("doc_id"),
        (col("start") / step).cast("long").as("chunk_idx"),
        least(lit(maxTokens), col("_n") - col("start")).cast("long").as("chunk_tokens"),
        md5(array_join(slice(col("_toks"), col("start") + 1, lit(maxTokens)), " "))
          .as("chunk_fp"))
  }

  /**
   * CROSS-document line-level dedup, the C4-style boilerplate scrub:
   * drop every non-blank line that occurs more than `maxOccurrences`
   * times across the whole corpus (nav bars, cookie banners, license
   * headers — repeated verbatim on thousands of pages), then reassemble
   * each document with its surviving lines in original order. Blank
   * lines are layout, not content: never counted, always kept.
   *
   * Scale shape: one posexplode, one hash-aggregate on the line string
   * to find hot lines (the only wide shuffle carries (line, count) —
   * and only lines that repeat survive the filter), a join back (AQE
   * broadcasts the hot set when small — boilerplate sets are), and one
   * doc_id aggregate to reassemble. Order is restored by sorting the
   * collected (pos, line) structs, not by assuming shuffle order.
   */
  def dedupLines(docs: DataFrame, maxOccurrences: Int = 1,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val hot = lines.filter(length(trim(col("line"))) > 0)
      .groupBy(col("line")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxOccurrences)
      .select(col("line"), lit(1).as("_hot"))
    lines.join(hot, Seq("line"), "left")
      .filter(col("_hot").isNull || length(trim(col("line"))) === 0)
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("text"))
  }
}
