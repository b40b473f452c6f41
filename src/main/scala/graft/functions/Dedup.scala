package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines: exact, n-gram
 * Jaccard, MinHash+LSH, SimHash.
 *
 * Scale design:
 *  - exact dedup is a single hash-aggregate on the md5 fingerprint —
 *    shuffles 16-byte keys, not documents.
 *  - near-dup candidate generation NEVER does an all-pairs crossJoin:
 *    candidates come from an equi-join on a blocking key (a shared
 *    shingle, an LSH band bucket, a SimHash block), which Spark executes
 *    as a shuffled hash join on the key — all-pairs work only happens
 *    inside a bucket, and hot buckets are bounded (frequent shingles
 *    dropped as blocking keys).
 */
object Dedup {

  /**
   * Finite production default for chain-level hot-block caps (the
   * `maxBucketSize` of [[minhashLshPairs]] /
   * [[graft.functions.Similarity.cosineNearDupPairs]] as threaded
   * through [[graft.functions.Pipeline.prepareTrainingData]],
   * [[graft.functions.Similarity.semanticDedup]] and
   * [[nearDupClusters]]). Measured at sf1 (BENCH_SF1.md): caps in the
   * 16–1000 range all scale at or below linear for 10× data, while the
   * uncapped paths blow up 41–94×; 64 keeps the worst-case all-pairs
   * work per under-cap block at C(64,2) ≈ 2k candidates and the
   * over-cap blocks linear via the star sample (see the
   * [[minhashLshPairs]] scaladoc). Operator-level defaults stay
   * uncapped so the DuckDB oracles verify the exact algebra; pass
   * `Int.MaxValue` at chain level to opt back into uncapped
   * calibration runs.
   */
  val DefaultChainMaxBucket: Int = 64

  /**
   * Exact dedup: keep the lowest-id document per identical normalized
   * content. Hash-groupBy on the 128-bit fingerprint (one shuffle of ids +
   * hashes only).
   */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))

  /**
   * N-gram Jaccard near-duplicate pairs: generate (shingle → doc)
   * postings, equi-join on shingle to get candidate pairs, then compute
   * the exact Jaccard |A∩B| / (|A|+|B|−|A∩B|) from the co-occurrence
   * count.
   *
   * `maxShingleFreq` is the hot-block guard: a shingle shared by F docs
   * emits F² posting-join rows, and boilerplate shingles at corpus scale
   * make that quadratic. Shingles over the cap are excluded from the
   * co-occurrence COUNT, but — unlike a plain posting-list drop, which
   * silently passes an over-cap clone cluster through dedup untouched —
   * each hot shingle still contributes a LINEAR star of candidates
   * anchored at its minimum-id holder, and star candidates are verified
   * with the exact set Jaccard (array_intersect of the full shingle
   * sets). Net semantics with a finite cap: every emitted pair satisfies
   * jaccard ≥ threshold under a lower-bound estimate that is exact
   * whenever (a) none of the pair's shared shingles are hot, or (b) one
   * endpoint is a hot shingle's min-id representative; an over-cap
   * duplicate cluster therefore always connects into one component
   * through its representative instead of escaping dedup. Diagnose hot
   * shingles with [[ngramShingleStats]].
   */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxShingleFreq: Int = 1000, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"),
        TextFunctions.shingleSet(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)
    // join on the 64-bit shingle hash, not the string — cheap fixed-width
    // shuffle keys (a cross-doc collision needs ~2^32 distinct shingles)
    val posting = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
      .select(col("id"), col("n_sh"), xxhash64(col("s")).as("h"))
    def counted(p: DataFrame): DataFrame = {
      val a = p.select(col("h"), col("id").as("id_a"), col("n_sh").as("n_a"))
      val b = p.select(col("h"), col("id").as("id_b"), col("n_sh").as("n_b"))
      a.join(b, Seq("h")).filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("jaccard",
          round(col("inter").cast("double") /
            (col("n_a") + col("n_b") - col("inter")), 6))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
    if (maxShingleFreq == Int.MaxValue) counted(posting) // no pruning → skip the freq shuffle
    else {
      // hot shingles via aggregate + anti-join: the hot set is ≥cap×
      // smaller than the postings by construction, so the count is
      // map-side-combined and AQE turns the anti-join into a broadcast
      // when it fits — cheaper than the old count-over-window, which
      // shuffled every posting row unreduced
      val hot = posting.groupBy(col("h"))
        .agg(count(lit(1)).as("_freq"), min(col("id")).as("_rep"))
        .filter(col("_freq") > maxShingleFreq)
      val cold = posting.join(hot.select(col("h")), Seq("h"), "left_anti")
      // star sample of each hot shingle: (min-id holder, member) — linear
      // in the posting length where all-pairs would square; rep = min id,
      // so id_a < id_b holds by construction
      val starIds = posting.join(hot.select(col("h"), col("_rep")), Seq("h"))
        .filter(col("id") =!= col("_rep"))
        .select(col("_rep").as("id_a"), col("id").as("id_b")).distinct()
      val starPairs = starIds
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
          col("n_sh").as("n_a")), Seq("id_a"))
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b"),
          col("n_sh").as("n_b")), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard", round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 6))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      // a pair can appear in both streams (cold co-occurrence AND a hot
      // star); the star's set Jaccard is exact while the cold count is a
      // lower bound, so max() keeps the exact value
      counted(cold).unionAll(starPairs)
        .groupBy(col("id_a"), col("id_b")).agg(max(col("jaccard")).as("jaccard"))
    }
  }

  /** Shingle-frequency report for [[ngramJaccardPairs]]'s hot-block
   *  guard: (h, freq, rep) for every shingle hash held by more than
   *  `minFreq` documents — the observability hook for "which blocking
   *  keys did the cap truncate, and how big were they". One aggregate
   *  on the posting list; run it before committing to a cap. */
  def ngramShingleStats(docs: DataFrame, n: Int = 3, minFreq: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(TextFunctions.shingleSet(col(textCol), n)).as("s"))
      .select(col("id"), xxhash64(col("s")).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("freq"), min(col("id")).as("rep"))
      .filter(col("freq") > minFreq)

  /**
   * STREAMING exact dedup: suppress re-occurrences of a content
   * fingerprint across micro-batches. State is the seen-fingerprint set,
   * bounded by the watermark (`dropDuplicatesWithinWatermark`): two
   * copies arriving within the horizon dedupe exactly; a copy arriving
   * later than the horizon can slip through — the standard bounded-state
   * tradeoff, and the right one at 100 TB/day where an unbounded seen-set
   * would grow forever. Batch `exact` remains the complete backfill pass.
   */
  def streamingExactDedup(docs: DataFrame, textCol: String = "text",
      timeCol: String = "ingest_time", watermark: String = "1 hour"): DataFrame =
    docs.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /**
   * Partial-overlap / containment pairs via winnowing fingerprints
   * (expressions.Winnow): document pairs sharing at least `minShared`
   * selected k-gram-window minima. Catches a copied PARAGRAPH inside an
   * otherwise-different document — below every whole-document scheme's
   * similarity floor (Jaccard/MinHash/SimHash all dilute with document
   * length; a shared ≥ w+k−1-token run here guarantees a shared
   * fingerprint at any offset).
   *
   * Scale shape: one map stage per doc (fingerprints), then the same
   * posting equi-join on a fixed-width long key as the other dedup
   * candidates. `maxFpFreq` bounds boilerplate fingerprints shared by
   * too many docs before the join can square on them: over-cap
   * fingerprints are excluded from all-pairs co-occurrence but still
   * emit a LINEAR star of rows anchored at their min-id holder, so an
   * over-cap clone cluster (every fingerprint hot) still accumulates
   * its full shared count on the (representative, member) pairs and
   * connects into one component — instead of silently escaping dedup.
   * With a finite cap, `shared` is exact for star-anchored pairs and a
   * lower bound for pairs whose only hot overlaps lack the
   * representative.
   */
  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 4, minShared: Int = 2,
      maxFpFreq: Int = Int.MaxValue, portable: Boolean = true,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fps = docs.select(col(idCol).as("id"),
        explode(expressions.VectorExpressions.winnow(
          TextFunctions.shingles(col(textCol), k), w, portable)).as("fp"))
    val pairRows =
      if (maxFpFreq == Int.MaxValue) {
        val a = fps.select(col("fp"), col("id").as("id_a"))
        val b = fps.select(col("fp"), col("id").as("id_b"))
        a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
      } else {
        val hot = fps.groupBy(col("fp"))
          .agg(count(lit(1)).as("_c"), min(col("id")).as("_rep"))
          .filter(col("_c") > maxFpFreq)
        val cold = fps.join(hot.select(col("fp")), Seq("fp"), "left_anti")
        val a = cold.select(col("fp"), col("id").as("id_a"))
        val b = cold.select(col("fp"), col("id").as("id_b"))
        val coldRows = a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
        // one star row per (hot fp, member): the (rep, member) pair's
        // shared count keeps every hot overlap it has with the rep
        val starRows = fps.join(hot.select(col("fp"), col("_rep")), Seq("fp"))
          .filter(col("id") =!= col("_rep"))
          .select(col("_rep").as("id_a"), col("id").as("id_b"))
        coldRows.unionAll(starRows)
      }
    pairRows
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /**
   * EXACT duplicate-span detection — the substring-level dedup of Lee et
   * al. 2022 ("Deduplicating Training Data Makes Language Models
   * Better"): any `w`-token run occurring ≥ `minOccurrences` times
   * corpus-wide (across documents OR repeated inside one) is training
   * redundancy, even when the containing documents are otherwise unique.
   * Whole-document schemes can't see it; winnowing detects the PAIR but
   * not the exact extent. Output: per-document merged token spans
   * (doc_id, span_start, span_end, span_tokens), 0-based inclusive —
   * the caller cuts or down-weights them.
   *
   * The paper builds a suffix array; the shuffle-native equivalent is a
   * stride-1 hashed-window posting list: one row per token position
   * carrying (id, pos, 8-byte window hash) — never the window text —
   * then duplicated hashes (one hash-agg), a semi-join back, and a
   * per-document gaps-and-islands window to merge overlapping hits.
   * Three narrow shuffles, each on fixed-width keys; the per-doc window
   * is partitioned by doc id (no global window).
   */
  def duplicateSpans(docs: DataFrame, w: Int = 20, minOccurrences: Int = 2,
      portable: Boolean = true, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = docs
      .select(col(idCol).as("id"),
        posexplode(TextFunctions.shingles(col(textCol), w)))
      .select(col("id"), col("pos"),
        Decontaminate.ngramKey(col("col"), portable).as("k"))
    val hot = wins.groupBy("k").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minOccurrences).select("k")
    val marked = wins.join(hot, Seq("k"), "left_semi")
    // merge intervals [pos, pos+w-1] that overlap or touch: a new island
    // starts when the gap to the previous marked position exceeds w
    val byDoc = Window.partitionBy("id").orderBy("pos")
    marked
      .withColumn("_new",
        when(col("pos") - lag("pos", 1).over(byDoc) <= w, 0).otherwise(1))
      .withColumn("_island", sum("_new").over(byDoc))
      .groupBy(col("id"), col("_island"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + (w - 1)).cast("long").as("span_end"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /**
   * Apply `duplicateSpans` output: rewrite each document with the
   * flagged token ranges REMOVED. Returns (idCol, text) over the
   * normalized token stream (the tokenizer's view — same normalization
   * the detection ran on). Documents whose every token was cut (or that
   * had no tokens) are absent from the output.
   *
   * Removes ALL copies of a duplicated run; for keep-one semantics,
   * filter the spans frame first (e.g. anti-join the canonical doc per
   * duplicate group). Shape: span explode → (doc, pos) anti-join →
   * one per-doc reassembly agg; the only wide rows are (doc, pos, token).
   */
  def cutSpans(docs: DataFrame, spans: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val hits = spans.select(col(idCol).as("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
      .distinct()
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "tok")))
    toks
      .join(hits, toks("doc_id") === hits("doc_id") &&
        toks("pos") === hits("pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("text"))
      .withColumnRenamed("doc_id", idCol)
  }

  /**
   * Near-duplicate CLUSTERS from a pair list: connected components via
   * iterative min-label propagation (a DataFrame-native union-find).
   * Every node starts labeled with itself; each round, every node takes
   * the minimum of (its label, its neighbors' labels, its LABEL'S label).
   * The last term is pointer jumping: label chains halve every round, so
   * convergence is O(log diameter) rounds, not O(diameter) — a
   * 10^6-member chain-shaped cluster converges in ~20 rounds instead of
   * 10^6. Each round is a few shuffles on (node, label) longs — never
   * materializes the transitive closure, which is what makes it viable
   * when a hot boilerplate cluster has 10^6 members at 100 TB.
   * Lineage is cut per round so the plan stays flat; pass
   * `checkpointDir` to make each round's boundary durable parquet
   * instead of executor blocks (see [[Stages]]) — executor loss then
   * costs a retry, not the whole label propagation.
   *
   * Returns (id, cluster) for every node that appears in `pairs`;
   * singleton documents are their own cluster by definition and are left
   * to the caller (a left join + coalesce(cluster, id)).
   *
   * Small-graph fast path: near-dup PAIR lists are tiny relative to the
   * corpus (pairs are what survived blocking + verification — even a
   * 100 TB corpus rarely yields more than millions), and the iterative
   * rounds cost ~2 scheduled jobs each. When the edge list fits under
   * `driverMaxEdges` (counted first — one cheap job on two long columns),
   * a driver-side union-find computes the identical min-label components
   * in milliseconds and ships them back as one small frame. Above the
   * threshold the distributed rounds run unchanged — same result either
   * way, so callers and oracles cannot tell which path executed.
   */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 50, driverMaxEdges: Long = 1000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types._
    def cut(df: DataFrame, stage: String) = Stages.boundary(df, checkpointDir, stage)
    val fwd = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    // The fast path works on (Long, Long); it is only taken when BOTH id
    // columns are integral (the output is cast back to the widest input
    // type, so the public contract — ids come back as they went in — is
    // preserved). Non-integral ids (strings, decimals) fall through to
    // the type-generic iterative rounds below.
    val integralRank: Map[DataType, Int] =
      Map(ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    val idTypes = fwd.schema.fields.map(_.dataType)
    val integral = idTypes.forall(integralRank.contains)
    if (integral) {
      // ONE computation of the (often expensive) pair pipeline decides the
      // path AND feeds the fast one: take threshold+1 rows — if the limit
      // wasn't hit, these are ALL the edges, union-find them on the driver;
      // only a genuinely large graph pays a recompute into the rounds.
      val probeN = math.min(driverMaxEdges, Int.MaxValue - 2L).toInt + 1
      val probe = {
        import fwd.sparkSession.implicits._
        fwd.select(col("src").cast(LongType), col("dst").cast(LongType))
          .as[(Long, Long)].limit(probeN).collect()
      }
      if (probe.length <= driverMaxEdges) {
        val widest = idTypes.maxBy(integralRank)
        return clustersDriver(fwd.sparkSession, probe)
          .select(col("id").cast(widest).as("id"),
            col("cluster").cast(widest).as("cluster"))
      }
    }
    val edges = cut(fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), "edges")
    var labels = cut(edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")), "labels_seed")
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val viaEdges = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("cluster"))
      // pointer jump: adopt my label's own label (halves label chains)
      val viaLabel = labels.as("a")
        .join(labels.as("b"), col("a.cluster") === col("b.id"))
        .select(col("a.id").as("id"), col("b.cluster").as("cluster"))
      val next = cut(viaEdges.unionAll(viaLabel).unionAll(labels)
        .groupBy(col("id")).agg(min(col("cluster")).as("cluster")),
        s"labels_$iter")
      converged = next.join(labels.withColumnRenamed("cluster", "_old"), "id")
        .filter(col("cluster") =!= col("_old")).isEmpty
      labels = next
      iter += 1
    }
    labels
  }

  /**
   * Incremental crawl diff — what changed between two corpus snapshots,
   * by content fingerprint: `added` (id only in `next`), `removed` (id
   * only in `prev`), `changed` (id in both, fingerprint differs),
   * `unchanged`. The audit step between recrawls that decides how much
   * of the pipeline actually needs to re-run.
   *
   * Scale shape: one full-outer equi-join on the id — both sides reduced
   * to (id, 128-bit fingerprint) in their map stages, so document text
   * never shuffles regardless of corpus width.
   */
  def corpusDiff(prev: DataFrame, next: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def keyed(df: DataFrame) = df.select(col(idCol).as("id"),
      TextFunctions.fingerprint(col(textCol)).as("fp"))
    keyed(prev).withColumnRenamed("fp", "fp_prev")
      .join(keyed(next).withColumnRenamed("fp", "fp_next"), Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("fp_prev").isNull, "added")
          .when(col("fp_next").isNull, "removed")
          .when(col("fp_prev") === col("fp_next"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Exact union-find over a collected edge list — the identical
   *  min-label components the iterative rounds produce. */
  private def clustersDriver(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb } // min root wins
    }
    parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "cluster")
  }

  /**
   * MinHash signature: k permutation-style hash slots, each
   * min over shingles of ((a_i·h + b_i) mod p), h = crc32 of the shingle.
   * Deterministic seeds; p = 2^31−1 (classic universal hashing).
   * Implemented as a one-pass native expression
   * (graft.functions.expressions.MinHashSignature) — k interpreted
   * transform+array_min passes cost ~20 s at sf0.1; the fused loop is ~20×
   * cheaper.
   */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    expressions.VectorExpressions.minhashSig(shingleArr, k)

  /**
   * MinHash + LSH near-duplicate pairs: k-slot signatures banded into
   * `bands` groups of k/bands rows; docs sharing any band bucket become
   * candidates (equi-join on the band hash — the classic banding scheme);
   * candidates are verified with exact Jaccard before emission, so output
   * = true near-dup pairs discovered at LSH cost.
   */
  /** (id, sh, sig) shingle+signature table over docs with a non-empty
   *  shingle set — the unit every LSH stage consumes. Package-visible
   *  so the streaming path can compute it ONCE per micro-batch and
   *  share the cached result across the intra-batch pair generation,
   *  the index query, and the index append (the doc-level entry points
   *  each re-derive it). */
  private[graft] def shingledDocs(docs: DataFrame, n: Int, k: Int,
      idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        TextFunctions.shingleSet(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), k))

  /** Explode a signature into (id, band, bucket) rows. Band buckets are
   *  hashed to a long so candidate joins shuffle fixed-width triples
   *  only — shingle arrays stay out of the wide joins. */
  private def banded(sh: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    sh.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bnd => xxhash64(concat_ws(",", slice(col("sig"), bnd * rowsPerBand + 1, lit(rowsPerBand)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /**
   * `maxBucketSize` is the hot-bucket guard for corpus scale: a band
   * bucket shared by B docs emits B·(B−1)/2 candidates, and real
   * corpora always have a few degenerate buckets (boilerplate pages,
   * near-empty docs whose signatures collapse to the same signature) —
   * one 100k-doc bucket is 5 × 10⁹ candidates on its own. Buckets at
   * or under the cap keep exact all-pairs generation; buckets OVER the
   * cap fall back to a LINEAR star sample anchored at the bucket's
   * min-id member (B−1 candidates instead of B²/2). Every candidate —
   * star or not — is still verified with the exact set Jaccard before
   * emission, so a finite cap never emits a false pair; and because an
   * over-cap exact-duplicate cluster makes its representative a true
   * near-dup of every member, the whole cluster still connects into
   * one component through the star (a plain bucket drop would silently
   * pass the highest-value dedup targets through untouched). A true
   * pair is lost only when EVERY band bucket it shares is over-cap AND
   * no shared bucket's representative is one of its endpoints — and
   * such pairs remain transitively joined to their cluster whenever
   * the representative is a genuine member. `Int.MaxValue` (the
   * default) keeps the exact oracle-verified behavior; chains default
   * to [[DefaultChainMaxBucket]]. Diagnose over-cap buckets with
   * [[minhashBucketStats]].
   */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, idCol: String = "doc_id", textCol: String = "text",
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    pairsFromShingled(shingledDocs(docs, n, k, idCol, textCol), k, bands,
      threshold, maxBucketSize)

  /** [[minhashLshPairs]] over a pre-computed (id, sh, sig) table — the
   *  streaming path persists one [[shingledDocs]] per micro-batch and
   *  feeds it here, to the index query, and to the index append, so
   *  shingles+signatures are derived once instead of three times. */
  private[functions] def pairsFromShingled(sh: DataFrame, k: Int, bands: Int,
      threshold: Double, maxBucketSize: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    require(maxBucketSize > 1, s"maxBucketSize must exceed 1, got $maxBucketSize")
    val allBanded = this.banded(sh, k, bands)
    val candIds =
      if (maxBucketSize == Int.MaxValue) {
        val a = allBanded.select(col("band"), col("bucket"), col("id").as("id_a"))
        val b = allBanded.select(col("band"), col("bucket"), col("id").as("id_b"))
        a.join(b, Seq("band", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
      } else {
        val hot = allBanded.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("_c"), min(col("id")).as("_rep"))
          .filter(col("_c") > maxBucketSize)
        val cold = allBanded.join(hot.select(col("band"), col("bucket")),
          Seq("band", "bucket"), "left_anti")
        val a = cold.select(col("band"), col("bucket"), col("id").as("id_a"))
        val b = cold.select(col("band"), col("bucket"), col("id").as("id_b"))
        val coldPairs = a.join(b, Seq("band", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
        // rep = min id of the bucket, so id_a < id_b by construction
        val star = allBanded
          .join(hot.select(col("band"), col("bucket"), col("_rep")), Seq("band", "bucket"))
          .filter(col("id") =!= col("_rep"))
          .select(col("_rep").as("id_a"), col("id").as("id_b"))
        coldPairs.unionAll(star).distinct()
      }
    val shA = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val cands = candIds.join(shA, "id_a").join(shB, "id_b")
    cands
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Band-bucket size report for [[minhashLshPairs]]'s hot-bucket
   *  guard: (band, bucket, size, rep) for every bucket larger than
   *  `minSize` — the observability hook for which blocking keys a cap
   *  would truncate and how degenerate the corpus's signatures are.
   *  One aggregate over the banded rows; run before committing to a
   *  cap, or after a capped run to quantify what the star sampled. */
  def minhashBucketStats(docs: DataFrame, n: Int = 3, k: Int = 64,
      bands: Int = 16, minSize: Int = DefaultChainMaxBucket,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    banded(shingledDocs(docs, n, k, idCol, textCol), k, bands)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("size"), min(col("id")).as("rep"))
      .filter(col("size") > minSize)
  }

  /**
   * Chain-level near-dup clustering: docs → (id, cluster) in one call,
   * composing [[minhashLshPairs]] and [[clusters]] with the PRODUCTION
   * default hot-bucket cap ([[DefaultChainMaxBucket]]) — the entry
   * point to reach for on a real corpus, where the uncapped pair
   * generators measured 41–94× for 10× data at sf1 while capped runs
   * stayed at or below linear. Only ids that appear in some verified
   * pair are returned (singletons are their own cluster — left join +
   * coalesce on the caller side, same contract as [[clusters]]). Pass
   * `maxBucketSize = Int.MaxValue` for uncapped calibration runs.
   */
  def nearDupClusters(docs: DataFrame, n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, idCol: String = "doc_id", textCol: String = "text",
      maxBucketSize: Int = DefaultChainMaxBucket,
      checkpointDir: Option[String] = None): DataFrame =
    clusters(
      minhashLshPairs(docs, n, k, bands, threshold, idCol, textCol, maxBucketSize),
      checkpointDir = checkpointDir)

  /**
   * SimHash over tokens: per-token hash bits vote ±1, sign becomes the
   * output bit. One-pass native expression (see expressions.SimHash64) —
   * no shuffle at all; the old explode-per-bit formulation shuffled
   * doc×token×64 rows. `portable = true` switches the token hash to the
   * first 60 bits of md5 (60-bit signature) — slower per token but
   * reproducible in any SQL engine, which lets the whole pipeline be
   * verified exactly by the DuckDB oracle.
   */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      portable: Boolean = false): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val h =
      if (portable) expressions.VectorExpressions.simhashPortable(toks)
      else expressions.VectorExpressions.simhash64(toks)
    docs.select(col(idCol).as("id"), h.as("simhash"))
  }

  /**
   * SimHash near-dup pairs with Hamming distance ≤ maxDist, blocked on
   * 4 bit-chunks (pigeonhole: any pair within distance 3 shares at least
   * one of the 4 chunks) — equi-join on chunk value, verify with
   * bit_count. Chunks are 16 bits for the 64-bit default signature,
   * 15 bits for the 60-bit portable one.
   *
   * `maxChunkFreq` is the hot-block guard (same contract as
   * [[minhashLshPairs]]'s `maxBucketSize`): a chunk value shared by B
   * docs — short or templated docs collapse whole 16-bit chunks to
   * identical values — emits B·(B−1)/2 candidate rows before the
   * Hamming verify. Blocks at or under the cap keep exact all-pairs;
   * blocks OVER the cap fall back to a LINEAR star sample anchored at
   * the block's min-id member, and every candidate is still verified
   * with the exact Hamming distance — so an over-cap clone cluster
   * (all four chunks hot) still connects into one component through
   * its representative instead of escaping dedup. A ≤`maxDist` pair is
   * lost only if ALL FOUR of its chunks are over-cap and none of their
   * representatives is an endpoint. Default keeps exact behavior.
   */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      portable: Boolean = false, maxChunkFreq: Int = Int.MaxValue): DataFrame = {
    val chunkBits = if (portable) 15 else 16
    val mask = (1L << chunkBits) - 1
    val sh = simhash(docs, idCol, textCol, portable)
    val allChunked = sh.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * chunkBits).bitwiseAND(mask)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "v")
    val candRows =
      if (maxChunkFreq == Int.MaxValue) {
        val a = allChunked.select(col("chunk"), col("v"), col("id").as("id_a"), col("simhash").as("h_a"))
        val b = allChunked.select(col("chunk"), col("v"), col("id").as("id_b"), col("simhash").as("h_b"))
        a.join(b, Seq("chunk", "v")).filter(col("id_a") < col("id_b"))
      } else {
        val hot = allChunked.groupBy(col("chunk"), col("v"))
          .agg(count(lit(1)).as("_c"), min(col("id")).as("_rep"),
            min_by(col("simhash"), col("id")).as("_repH"))
          .filter(col("_c") > maxChunkFreq)
        val cold = allChunked.join(hot.select(col("chunk"), col("v")),
          Seq("chunk", "v"), "left_anti")
        val a = cold.select(col("chunk"), col("v"), col("id").as("id_a"), col("simhash").as("h_a"))
        val b = cold.select(col("chunk"), col("v"), col("id").as("id_b"), col("simhash").as("h_b"))
        val coldPairs = a.join(b, Seq("chunk", "v")).filter(col("id_a") < col("id_b"))
        // rep = min id of the block, so id_a < id_b by construction
        val star = allChunked
          .join(hot.select(col("chunk"), col("v"), col("_rep"), col("_repH")),
            Seq("chunk", "v"))
          .filter(col("id") =!= col("_rep"))
          .select(col("chunk"), col("v"), col("_rep").as("id_a"), col("_repH").as("h_a"),
            col("id").as("id_b"), col("simhash").as("h_b"))
        coldPairs.unionByName(star)
      }
    candRows
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  // ---- incremental near-dup: a persisted MinHash index ----
  //
  // A 100 TB corpus is not deduplicated in one shot — it grows by daily
  // crawls. Re-running all-pairs LSH over corpus+batch every day costs
  // O(corpus) per day; the right shape is a PERSISTED index: band buckets
  // and shingle sets land in parquet once, and each new batch joins
  // against them at O(batch) cost (the batch side is broadcast-sized
  // relative to the index), then appends its own rows. This mirrors the
  // tiered store's append-only design.

  /** Build (or `append` to) a MinHash index at `path`: `buckets/`
   *  (band, bucket, id) and `shingles/` (id, sh) parquet. Ids must be
   *  globally unique across all batches ever indexed. */
  def buildMinhashIndex(docs: DataFrame, path: String, n: Int = 3, k: Int = 64,
      bands: Int = 16, idCol: String = "doc_id", textCol: String = "text",
      append: Boolean = false): Unit = {
    require(k % bands == 0, "bands must divide k")
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // appends land in the CURRENT generation; a fresh build writes the
    // legacy (generation-0) layout at the root
    val genRoot = if (append) currentGenRoot(fs, path) else path
    if (append) { // writer context: heal a crashed compaction swap first
      repairMinhashIndex(spark, path)
      checkIndexParams(spark, genRoot, n, k, bands)
    } else writeIndexMeta(spark, genRoot, n, k, bands)
    val mode = if (append) SaveMode.Append else SaveMode.Overwrite
    writeShingledToIndex(shingledDocs(docs, n, k, idCol, textCol), genRoot,
      k, bands, mode)
  }

  /** EXACTLY-ONCE streaming append of a pre-computed (id, sh, sig)
   *  table: the batch's two table writes stage under the index root and
   *  commit through [[graft.store.StagedBatchAppend]]'s ledger, so a
   *  crash replay of the micro-batch SKIPS instead of re-appending
   *  (the index counterpart of [[graft.store.TierStore.writeRoutedBatch]];
   *  previously replay duplicates were live until the next compaction).
   *  Returns false on the replay skip. */
  private[graft] def appendShingledToIndexBatch(sh: DataFrame, path: String,
      n: Int, k: Int, bands: Int, batchId: Long,
      writer: String = "dedup"): Boolean = {
    repairMinhashIndex(sh.sparkSession, path) // writer context: safe to heal
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(sh.sparkSession.sparkContext.hadoopConfiguration)
    // resolved per batch: a rebuild between micro-batches moves the
    // generation root; the ledger stays at the stable index root so a
    // pre-rebuild batch's replay still skips
    val genRoot = currentGenRoot(fs, path)
    checkIndexParams(sh.sparkSession, genRoot, n, k, bands)
    graft.store.StagedBatchAppend.append(sh.sparkSession, genRoot, writer,
      batchId, ledgerRoot = Some(path)) { staging =>
      writeShingledTables(sh, s"$staging/buckets", s"$staging/shingles",
        k, bands, SaveMode.Overwrite)
    }
  }

  private def writeShingledToIndex(sh: DataFrame, path: String,
      k: Int, bands: Int, mode: SaveMode): Unit =
    writeShingledTables(sh, s"$path/buckets", s"$path/shingles", k, bands, mode)

  private def writeShingledTables(sh: DataFrame, bucketsPath: String,
      shinglesPath: String, k: Int, bands: Int, mode: SaveMode): Unit = {
    // The two tables are committed CONCURRENTLY: they carry disjoint
    // data derived from the same input, and a crash that lands one
    // without the other only produces orphan rows the query join
    // ignores (a bucket row without its shingle row never verifies; a
    // shingle row without bucket rows is never a candidate) — the
    // at-least-once replay then re-appends both. Halves the per-batch
    // commit latency on the streaming path.
    val sc = sh.sparkSession.sparkContext
    // The input plan feeds both writes: cache it so the shingle+MinHash
    // derivation runs once, not once per concurrent job (the streaming
    // path hands in a cheap join over its already-persisted batch table;
    // the batch path hands in the raw derivation).
    val cached = sh.persist()
    try {
      // Materialize before the concurrent writes (no compute lock on an
      // unbuilt cache — racing jobs would each derive it), and use the
      // row count to bound output files EXPLICITLY: relying on AQE to
      // coalesce the write plan only works when it happens to see
      // materialized-size stats, and a streaming deployment appending 32
      // shuffle-partition file sets per micro-batch turns every index
      // query into an O(batches·partitions) small-file listing. ~200k
      // rows per file keeps a 5k-doc micro-batch at one file per table
      // while a million-doc daily batch still writes in parallel.
      val rows = cached.count()
      // The buckets table fans out to `bands` rows per doc — bound ITS
      // file sizes on its own row count, not the shingle table's, or a
      // million-doc batch writes 16×-oversized bucket files that cap
      // every later index-scan's parallelism.
      def nFiles(n: Long) = math.max(1, math.ceil(n / 200000.0).toInt)
      graft.store.Concurrent.eval(sc, Seq(
        () => banded(cached, k, bands).coalesce(nFiles(rows * bands))
          .write.mode(mode).parquet(bucketsPath),
        () => cached.select(col("id"), col("sh")).coalesce(nFiles(rows))
          .write.mode(mode).parquet(shinglesPath)))
    } finally cached.unpersist()
  }

  // Signatures built with different (n, k, bands) never collide the way
  // the banding scheme promises — a parameter-mismatched append or query
  // would silently return garbage, so the parameters are persisted with
  // the index and validated on every append/query.
  private def metaPath(path: String) = new org.apache.hadoop.fs.Path(s"$path/_index_meta")

  private def writeIndexMeta(spark: SparkSession, path: String,
      n: Int, k: Int, bands: Int): Unit = {
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"n=$n\nk=$k\nbands=$bands\n".getBytes("UTF-8"))
    finally out.close()
  }

  private def checkIndexParams(spark: SparkSession, path: String,
      n: Int, k: Int, bands: Int): Unit = {
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      // index created append-first (e.g. by the streaming form): adopt
      // the first writer's parameters so later calls are validated
      writeIndexMeta(spark, path, n, k, bands)
      return
    }
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val stored = text.linesIterator.flatMap { l =>
      l.split("=", 2) match { case Array(a, b) => Some(a -> b.toInt); case _ => None }
    }.toMap
    require(stored == Map("n" -> n, "k" -> k, "bands" -> bands),
      s"MinHash index at $path was built with $stored; " +
        s"got n=$n, k=$k, bands=$bands")
  }

  /**
   * Near-dup pairs between a new batch and the indexed corpus:
   * (id_new, id_idx, jaccard ≥ threshold). The batch's banded rows join
   * the bucket table (AQE broadcasts the batch side — the index streams
   * through map-side, no index shuffle); surviving candidates verify
   * with exact Jaccard against the stored shingle sets. Parameters must
   * match the ones the index was built with.
   */
  /** True when an index has been built (or appended) at `path`. BOTH
   *  table dirs must be live: a compaction crash inside either table's
   *  swap window leaves that dir missing (its `.old` sibling holds the
   *  data), and the read-path contract is that pure readers see such an
   *  index as ABSENT — they must not repair (see [[repairMinhashIndex]])
   *  and must not crash on the half-swapped layout. Checking only
   *  `buckets/` would pass a crashed shingles swap straight into the
   *  query's `shingles/` scan. */
  def indexExists(spark: SparkSession, path: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genRoot = currentGenRoot(fs, path)
    Seq("buckets", "shingles").forall(t =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$genRoot/$t")))
  }

  /**
   * Self-heal after a [[compactMinhashIndex]] crash: a table whose live
   * dir is missing but whose `.old` sibling survives is restored by
   * renaming the sibling back (the swap's only non-atomic window — see
   * the compaction scaladoc). MAINTAINER-ONLY, like the compaction
   * itself: it mutates the layout, so it must never run from a read
   * path — a reader repairing concurrently with the maintainer's swap
   * would recreate the live dir between the swap's two renames and make
   * the staged rename nest into it. The write paths
   * ([[buildMinhashIndex]] append, the streaming micro-batch,
   * [[compactMinhashIndex]]) call it on entry; pure readers see a
   * crashed-swap index as absent until the maintainer's next call
   * heals it. Two fs.exists when the index is healthy.
   */
  def repairMinhashIndex(spark: SparkSession, path: String): Unit =
    repairIndex(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), path)

  private def repairIndex(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit =
    Seq("buckets", "shingles").foreach { t =>
      // legacy whole-table swap heal (indexes compacted by the pre-fold
      // protocol): restore a live dir from its `.old` sibling
      val live = new org.apache.hadoop.fs.Path(s"$path/$t")
      val old = new org.apache.hadoop.fs.Path(s"$path/.$t.old")
      if (!fs.exists(live) && fs.exists(old)) fs.rename(old, live)
      healFold(fs, path, t)
    }

  private def foldManifest(path: String, t: String) =
    new org.apache.hadoop.fs.Path(s"$path/._fold_$t")

  /** Complete (or discard) a crashed [[compactMinhashIndex]] fold: the
   *  fold's manifest is ROLL-FORWARD — written complete (ok-terminated)
   *  BEFORE any file moves, it lists exactly the staged→live renames
   *  and the folded source deletions, each idempotent, so replaying
   *  them finishes the fold no matter where the crash hit. An
   *  unterminated manifest means nothing moved yet: discard it and the
   *  staging. Maintainer-only, called from [[repairIndex]]. */
  private def healFold(fs: org.apache.hadoop.fs.FileSystem, path: String,
      t: String): Unit = {
    val mp = foldManifest(path, t)
    if (!fs.exists(mp)) return
    val in = fs.open(mp)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    if (text.endsWith("ok\n")) text.linesIterator.foreach { l =>
      if (l.startsWith("mv\t")) {
        val Array(_, s, d) = l.split("\t", 3)
        val sp = new org.apache.hadoop.fs.Path(s)
        val dp = new org.apache.hadoop.fs.Path(d)
        if (fs.exists(sp)) {
          if (fs.exists(dp)) fs.delete(sp, false) else fs.rename(sp, dp)
        }
      } else if (l.startsWith("rm\t"))
        fs.delete(new org.apache.hadoop.fs.Path(l.split("\t", 2)(1)), false)
    }
    fs.delete(mp, false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/.compact/$t"), true)
  }

  /** The generation root a reader (at `asOf`, or now) must serve —
   *  [[graft.store.IndexGenerations.currentRoot]] with the buckets
   *  table as the presence witness. */
  private[graft] def currentGenRoot(fs: org.apache.hadoop.fs.FileSystem,
      path: String, asOf: Option[graft.store.AsOfPin] = None): String =
    graft.store.IndexGenerations.currentRoot(fs, path, "buckets", asOf)

  /** Snapshot-resolved read of one index table (`buckets`/`shingles`)
   *  — the ONLY correct way to scan a live index: the file set resolves
   *  through the table's [[graft.store.SnapshotFold]] commits, the
   *  index's batch ledger, and its generation marker at PLAN time, so a
   *  query racing a concurrent [[compactMinhashIndex]] fold or
   *  [[rebuildMinhashIndex]] swap sees one complete state, never a
   *  mixture (a plain parquet read would double-count rows mid-fold).
   *  `asOf` pins the read to a [[pinMinhashIndex]] instant. */
  def readIndexTable(spark: SparkSession, path: String, table: String,
      asOf: Option[graft.store.AsOfPin] = None): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readIndexTableAt(spark, path, currentGenRoot(fs, path, asOf), table, asOf)
  }

  /** [[readIndexTable]] against an ALREADY-RESOLVED generation root —
   *  queries resolve the generation once and read both tables (and the
   *  parameter meta) from the same root. */
  private def readIndexTableAt(spark: SparkSession, path: String,
      genRoot: String, table: String, asOf: Option[graft.store.AsOfPin]): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(s"$genRoot/$table")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the ledger lives at the STABLE index root across generations
    val committed = graft.store.BatchLedger.read(fs,
      new org.apache.hadoop.fs.Path(path), asOf)
    val files = graft.store.SnapshotFold.resolve(fs, dir, committed, asOf)
    val empty = org.apache.spark.sql.catalyst.InternalRow.empty
    graft.store.SnapshotFold.dataFrame(spark,
      new org.apache.spark.sql.types.StructType(),
      if (files.isEmpty) Nil else Seq((empty, files)), Seq(dir))
      .getOrElse {
        import org.apache.spark.sql.types._
        val schema = table match {
          case "shingles" => new StructType().add("id", LongType)
            .add("sh", ArrayType(StringType))
          case _ => new StructType().add("id", LongType)
            .add("band", IntegerType).add("bucket", LongType)
        }
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
  }

  /** LOGICAL as-of pin over the streamed MinHash index — the index's
   *  current position in each of its commit sequences (append-ledger
   *  batch ids, per-table fold versions, the rebuild generation);
   *  `readIndexTable(asOf = pin)` then always equals the current read
   *  ([[graft.store.TierStore.pinNow]] contract). */
  def pinMinhashIndex(spark: SparkSession, path: String): graft.store.AsOfPin = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = currentGenRoot(fs, path)
    graft.store.AsOfPin.capture(fs, root,
      Seq("buckets", "shingles").map(t =>
        new org.apache.hadoop.fs.Path(s"$gen/$t")),
      genPath = Some(path))
  }

  /** Reclaim superseded history — fold snapshots of the CURRENT
   *  generation, whole superseded generations (retained rebuilds), and
   *  the append ledger's old markers — the explicit vacuum for
   *  `retainHistory`/`retainOld` deployments; pins older than the
   *  surviving records fail LOUDLY afterwards. */
  def vacuumMinhashIndex(spark: SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.store.StagedBatchAppend.foldAllMarkers(spark, path)
    val gen = currentGenRoot(fs, path)
    Seq("buckets", "shingles").foreach(t =>
      graft.store.SnapshotFold.vacuumDir(fs,
        new org.apache.hadoop.fs.Path(s"$gen/$t")))
    graft.store.IndexGenerations.vacuumOld(fs, path, gen,
      legacyDirs = Seq("buckets", "shingles", "_index_meta"))
  }

  /**
   * SELECTIVE, READER-ATOMIC fold of the index's per-batch appends:
   * every micro-batch append adds one file set to `buckets/` and
   * `shingles/`, so after N batches every index query lists and reads
   * N file groups (500 daily batches = 500 small files per table). Per
   * table, ONLY live files smaller than `targetFileBytes` fold, and
   * only when at least `minFiles` of them accumulated (the
   * [[graft.store.TierStore.compact]] `minFiles` idiom) — files that
   * already reached target size are never re-read, so a long-lived
   * stream's cumulative maintenance cost follows the RECENT appends
   * (LSM-style logarithmic refolding of the current small tail), not
   * the whole index. The rewritten output publishes through the
   * [[graft.store.SnapshotFold]] manifest protocol — staged invisibly
   * into a `_v=N` snapshot, committed by the atomic appearance of its
   * small manifest — so the fold may run against the LIVE index:
   * concurrent [[queryMinhashIndex]] probes resolve the complete
   * pre-fold or complete post-fold file set (never a mixture), and
   * concurrent LEDGERED appends are untouched (an uncommitted batch's
   * files are not fold candidates; the round-10 contract required a
   * quiesced point — that requirement is gone). Folds themselves stay
   * single-maintainer, which `compactEvery`
   * ([[graft.functions.Pipeline.streamingIndexedDedup]]) provides by
   * construction and an external scheduler must provide by scheduling.
   *
   * `retainHistory` keeps superseded files and ledger markers for
   * [[pinMinhashIndex]] as-of reproducibility (reclaim later with
   * [[vacuumMinhashIndex]]). Returns (live files before, after)
   * summed over both tables.
   */
  def compactMinhashIndex(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFiles: Int = 4, retainHistory: Boolean = false): (Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    repairIndex(fs, path) // legacy pre-manifest layouts only
    val genRoot = currentGenRoot(fs, path)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$genRoot/buckets")),
      s"no MinHash index at $path")
    // maintainer context: keep the append ledger O(recent) too — unless
    // history is retained for as-of pins (a marker fold would make pins
    // older than it fail, exactly what retainHistory defers)
    if (!retainHistory) graft.store.StagedBatchAppend.foldAllMarkers(spark, path)
    val committed = graft.store.BatchLedger.read(fs, root)
    var before = 0; var after = 0
    Seq("buckets", "shingles").foreach { t =>
      val live = new org.apache.hadoop.fs.Path(s"$genRoot/$t")
      before += graft.store.SnapshotFold.resolve(fs, live, committed).length
      // the shared fold core (plain concat shape)
      graft.store.IndexFold.foldDir(spark, fs, live,
        new org.apache.hadoop.fs.Path(s"$path/.compact/$t"),
        targetFileBytes, minFiles, committed): Unit
      // reclaim THIS call's superseded files and any earlier fold's the
      // maintainer crashed before vacuuming (post-commit crash safety)
      if (!retainHistory) graft.store.SnapshotFold.vacuumDir(fs, live)
      after += graft.store.SnapshotFold.resolve(fs, live, committed).length
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/.compact"), true)
    (before, after)
  }

  /**
   * Targeted document ERASURE from a live MinHash index — the dedup
   * counterpart of [[graft.functions.Similarity.eraseFromIvfIndex]],
   * and the more urgent one: `shingles/` physically stores each
   * document's normalized n-gram SETS, i.e. essentially the document
   * text in shuffled form, so a right-to-be-forgotten pass that purges
   * the corpus store but not this index leaves the content
   * reconstructable. Per table (`buckets`, `shingles`): one
   * resolver-pinned scan finds the live files carrying any erased
   * `id`, one job rewrites exactly those files minus the erased rows,
   * and the rewrite publishes through the [[graft.store.SnapshotFold]]
   * manifest — reader-atomic under live [[queryMinhashIndex]] probes,
   * no quiesce; an every-row-erased candidate set commits an EMPTY
   * snapshot.
   *
   * History is reclaimed UNCONDITIONALLY (the erasure contract): the
   * append ledger folds first, both tables vacuum their superseded
   * snapshots, and retained superseded generations drop — as-of pins
   * taken before the erase fail LOUDLY rather than resurrecting the
   * erased shingle sets. A post-crash re-run completes the pass.
   * Erase the CORPUS store separately
   * ([[graft.store.TierStore.deleteWhere]]); unlike the IVF centroids
   * there is no aggregate residue here — signatures and buckets are
   * per-document and are fully removed.
   *
   * `ids` scales from a compliance batch (a literal IN-list predicate,
   * pushed into the scans) to a domain-level mass purge: above
   * [[graft.store.IdFilter.InListMax]] membership becomes a broadcast
   * semi/anti join — plan size O(1), the set ships once per executor.
   * Single-maintainer like [[compactMinhashIndex]]. Returns the number
   * of shingle-set rows erased (documents, counting legacy duplicates;
   * band-bucket rows are erased alongside but not counted).
   */
  def eraseFromMinhashIndex(spark: SparkSession, path: String,
      ids: Seq[Long], targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    require(ids.nonEmpty, "empty erase set")
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    repairIndex(fs, path) // legacy pre-manifest layouts only
    // erasure destroys as-of history by CONTRACT: fold the ledger now
    graft.store.StagedBatchAppend.foldAllMarkers(spark, path)
    val committed = graft.store.BatchLedger.read(fs, rootP)
    val genRoot = currentGenRoot(fs, path)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$genRoot/buckets")),
      s"no MinHash index at $path")
    // the two tables are INDEPENDENT (disjoint dirs, disjoint staging) —
    // erase them concurrently, the [[writeShingledTables]] idiom: the
    // hit scans overlap and the rewrites overlap, halving the pass's
    // serial action chain on a pool that each job alone underfills
    @volatile var erased = 0L
    graft.store.Concurrent.eval(spark.sparkContext,
      Seq("buckets", "shingles").map { t => () =>
        val live = new org.apache.hadoop.fs.Path(s"$genRoot/$t")
        // the shared erase core: hit scan (IdFilter — literal IN-list for
        // a bounded batch, broadcast semi join for a mass purge),
        // selective rewrite, reader-atomic publish
        val (rows, _) = graft.store.IndexErase.eraseRows(spark, fs,
          graft.store.IndexErase.Target(live,
            new org.apache.spark.sql.types.StructType(),
            Seq((org.apache.spark.sql.catalyst.InternalRow.empty, live,
              graft.store.SnapshotFold.resolve(fs, live, committed)))),
          "id", ids, new org.apache.hadoop.fs.Path(s"$path/.erase/$t"),
          targetFileBytes)
        if (t == "shingles") erased = rows
        // UNCONDITIONAL vacuum — superseded files still carry the rows
        graft.store.SnapshotFold.vacuumDir(fs, live)
      })
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/.erase"), true)
    graft.store.IndexGenerations.vacuumOld(fs, path, genRoot,
      legacyDirs = Seq("buckets", "shingles", "_index_meta"))
    erased
  }

  /**
   * ATOMIC REBUILD of a live MinHash index with NEW banding parameters
   * — the dedup counterpart of [[graft.functions.Similarity
   * .rebuildIvfIndex]]: tuning (k, bands) is the standard recall/cost
   * dial, and until now changing it meant re-indexing into a fresh
   * path and cutting traffic over by hand. The stored shingle sets are
   * parameter-independent for a FIXED `n`, so a (k, bands) migration
   * re-derives signatures and band buckets from `shingles/` alone — no
   * original documents needed; changing the shingle size `n` requires
   * them (`docs`). The rebuilt tables (and their `_index_meta`)
   * publish as generation `_gen_(G+1)` through
   * [[graft.store.IndexGenerations]]: invisible while building, the
   * atomic marker appearance is the cutover, readers resolve their
   * generation once at plan time — queries with the OLD parameters
   * refuse loudly after the swap (the meta check, now
   * generation-scoped) instead of silently mis-bucketing.
   *
   * Same concurrency contract as the IVF rebuild: any readers, no
   * quiesce; the append stream must not race the swap; `retainOld`
   * keeps the previous generation for as-of pins (a pinned query then
   * validates against and scans the OLD generation's tables), the
   * default reclaims it and pre-rebuild pins fail loudly.
   */
  def rebuildMinhashIndex(spark: SparkSession, path: String, n: Int = 3,
      k: Int = 64, bands: Int = 16, docs: Option[DataFrame] = None,
      retainOld: Boolean = false, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(k % bands == 0, "bands must divide k")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldRoot = currentGenRoot(fs, path)
    if (docs.isEmpty) {
      // shingle sets are n-grams of the ORIGINAL text: reusing them is
      // only sound when n is unchanged
      val p = metaPath(oldRoot)
      if (fs.exists(p)) {
        val in = fs.open(p)
        val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val storedN = text.linesIterator
          .collectFirst { case l if l.startsWith("n=") => l.stripPrefix("n=").toInt }
        require(storedN.contains(n),
          s"rebuild to n=$n from stored shingles of n=${storedN.orNull}: " +
            "changing the shingle size needs the original documents — pass docs")
      }
    }
    val sh = docs match {
      case Some(d) => shingledDocs(d, n, k, idCol, textCol)
      case None => readIndexTable(spark, path, "shingles")
        .select(col("id"), col("sh"))
        .withColumn("sig", minhashSignature(col("sh"), k))
    }
    val nextG = graft.store.IndexGenerations.nextGeneration(fs, path, oldRoot)
    val staging = s"$path/._gen_staging_$nextG"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    writeShingledTables(sh, s"$staging/buckets", s"$staging/shingles",
      k, bands, SaveMode.Overwrite)
    writeIndexMeta(spark, staging, n, k, bands)
    graft.store.IndexGenerations.publish(fs, path, nextG, staging)
    if (!retainOld) graft.store.IndexGenerations.vacuumOld(fs, path,
      s"$path/_gen_$nextG",
      legacyDirs = Seq("buckets", "shingles", "_index_meta"))
  }

  def queryMinhashIndex(spark: SparkSession, newDocs: DataFrame, path: String,
      n: Int = 3, k: Int = 64, bands: Int = 16, threshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text",
      asOf: Option[graft.store.AsOfPin] = None): DataFrame =
    queryIndexFromShingled(spark, shingledDocs(newDocs, n, k, idCol, textCol),
      path, n, k, bands, threshold, asOf)

  /** [[queryMinhashIndex]] over a pre-computed (id, sh, sig) table. */
  private[functions] def queryIndexFromShingled(spark: SparkSession,
      shNew: DataFrame, path: String, n: Int, k: Int, bands: Int,
      threshold: Double, asOf: Option[graft.store.AsOfPin] = None): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // ONE generation resolution serves the parameter check and both
    // table scans — a rebuild committing mid-query can never pair one
    // generation's buckets with another's shingles or meta
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genRoot = currentGenRoot(fs, path, asOf)
    if (!Seq("buckets", "shingles").forall(t =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$genRoot/$t"))))
      // nothing indexed yet — empty result, correct schema
      return shNew.select(col("id").as("id_new"), col("id").as("id_idx"),
        lit(0.0).as("jaccard")).where(lit(false))
    checkIndexParams(spark, genRoot, n, k, bands)
    val bNew = banded(shNew, k, bands)
      .select(col("band"), col("bucket"), col("id").as("id_new"))
    val bIdx = readIndexTableAt(spark, path, genRoot, "buckets", asOf)
      .select(col("band"), col("bucket"), col("id").as("id_idx"))
    val candIds = bIdx.join(broadcast(bNew), Seq("band", "bucket"))
      .filter(col("id_idx") =!= col("id_new"))
      .select("id_new", "id_idx").distinct()
    val shIdx = readIndexTableAt(spark, path, genRoot, "shingles", asOf)
      .select(col("id").as("id_idx"), col("sh").as("sh_i"))
    candIds
      .join(shNew.select(col("id").as("id_new"), col("sh").as("sh_n")), "id_new")
      .join(shIdx, "id_idx")
      .withColumn("inter", size(array_intersect(col("sh_n"), col("sh_i"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_n")) + size(col("sh_i")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_idx"), col("jaccard"))
  }

  /**
   * The daily-ingest primitive: drop batch docs that near-duplicate the
   * index, and (optionally) index the survivors for the next batch.
   * Returns the surviving rows of `newDocs`.
   */
  def dedupAgainstIndex(spark: SparkSession, newDocs: DataFrame, path: String,
      n: Int = 3, k: Int = 64, bands: Int = 16, threshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text",
      indexSurvivors: Boolean = false): DataFrame = {
    val hits = queryMinhashIndex(spark, newDocs, path, n, k, bands, threshold,
      idCol, textCol).select(col("id_new").as(idCol)).distinct()
    val clean = newDocs.join(hits, Seq(idCol), "left_anti")
    if (indexSurvivors)
      buildMinhashIndex(clean, path, n, k, bands, idCol, textCol, append = true)
    clean
  }
}
