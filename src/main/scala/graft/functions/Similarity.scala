package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (`Array[Float]`).
 *
 * - Brute-force cosine top-k: the exact baseline. The (small) query set is
 *   broadcast; the corpus is scanned once; dot products run inside codegen
 *   via `aggregate`/`zip_with`; top-k per query via a rank window over
 *   (query, score) — shuffles only (query_id, vec_id, score) triples,
 *   never the vectors.
 * - LSH-bucketed ANN (random hyperplanes): the scale path. Each vector
 *   maps to a signature of sign bits against `nPlanes` deterministic
 *   pseudo-random hyperplanes; candidates are an equi-join on the
 *   signature (optionally multi-probe via several tables), scored exactly
 *   within buckets. 100 TB: bucketing turns O(N·Q) into O(Q·bucket).
 */
object Similarity {

  /** Cosine similarity of two float-array columns. Elements widen to
   *  double BEFORE multiplying (bit-reproducible across engines); the
   *  dot/norm loops are native codegen'd expressions
   *  (graft.functions.expressions.DotProduct/L2Norm), not interpreted
   *  higher-order lambdas — ~25× faster on the brute-force join. */
  def cosine(a: Column, b: Column): Column = {
    val dot = expressions.VectorExpressions.dot(a, b)
    val na = expressions.VectorExpressions.l2norm(a)
    val nb = expressions.VectorExpressions.l2norm(b)
    when(na > 0 && nb > 0, dot / (na * nb)).otherwise(lit(0.0))
  }

  /** cosine from a precomputed-norm pair of sides (norm computed once per
   *  row, not once per pair — the join hot path). */
  private def cosineWithNorms(va: Column, vb: Column, na: Column, nb: Column): Column =
    when(na > 0 && nb > 0, expressions.VectorExpressions.dot(va, vb) / (na * nb))
      .otherwise(lit(0.0))

  /** One collected centroid: id literal, vector as a plan literal (the
   *  exact stored float/double array), its precomputed norm, and the
   *  raw vector widened to double (exact for float sources — feeds the
   *  [[expressions.CentroidTopK]] matrix on the large-k path). */
  private[graft] final case class CentroidLit(id: Column, vec: Column, norm: Double,
      raw: Array[Double])

  /** k-threshold between the two shuffle-free argmax formulations
   *  (VERDICT-r16 ask #3): at or below it, the score array is unrolled
   *  into k literal subtrees (fixture-scale winner — zero indirection,
   *  fully codegen'd per pair); above it, the centroid matrix moves
   *  into ONE [[expressions.CentroidTopK]] node whose per-row cost is a
   *  tight JVM loop — the unrolled plan's analysis/codegen cost grows
   *  linearly in k and falls off a cliff near the Janino 64KB/constant-
   *  pool limits. The crossover has not been measured: the default of
   *  128 is a guess below the cliff, and `graft.ArgmaxKProbe` is the
   *  tool that would measure it. Env/sysprop-tunable so a
   *  deployment can move it and the equivalence suite can force either
   *  path; results are bit-identical by construction on both sides. */
  private[graft] def argmaxLiteralMaxK: Int =
    sys.props.get("graft.argmax.literal.maxk")
      .orElse(sys.env.get("SPARK_GRAFT_ARGMAX_LITERAL_MAX_K"))
      .map(_.toInt).getOrElse(128)

  /** Per-JVM cache of collected centroid literal sets for PERSISTED
   *  indexes, keyed by the centroids directory's content signature
   *  (path + sorted data-file (name, length, mtime) triples — an FS
   *  listing, no Spark job). The centroid table of a live index is
   *  IMMUTABLE between generations (appends never touch it; a rebuild
   *  publishes a NEW generation dir; an in-place re-build rewrites the
   *  files, changing the signature), so the streaming append and the
   *  query paths stop paying one collect job per micro-batch / per
   *  probe against the same generation — at scale each of those jobs
   *  is a driver round-trip (VERDICT-r16 ask #9). This caches INPUT
   *  METADATA within one JVM, never operator output: a fresh run
   *  builds its index under a fresh path and collects once. Bounded
   *  least-recently-used (64 entries), so a generation that live
   *  streams keep reading stays cached however many others pass
   *  through. */
  private val centroidLitCache =
    new java.util.LinkedHashMap[String, Seq[CentroidLit]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[CentroidLit]]): Boolean = size > 64
    }

  /** The cached literals under `sig`, collecting them on a miss. The
   *  collect runs outside the lock, so a slow one never blocks probes of
   *  other generations; two racing misses on one signature may both
   *  collect, and the later put wins. */
  private[graft] def centroidLits(sig: String)(collect: => Seq[CentroidLit]): Seq[CentroidLit] =
    Option(centroidLitCache.synchronized(centroidLitCache.get(sig))).getOrElse {
      val lits = collect
      centroidLitCache.synchronized(centroidLitCache.put(sig, lits))
      lits
    }

  private def cachedCentroidLits(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[CentroidLit] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sig = fs.listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .mkString(s"$dir|", ",", "")
    centroidLits(sig)(
      collectCentroidLits(spark.read.parquet(dir),
        "list_id", "centroid", "ncent"))
  }

  /** The large-k path needs one flat matrix — usable only when every
   *  centroid vector has the same length (always true for real indexes;
   *  a ragged table falls back to the literal path, which handles
   *  per-pair lengths). */
  private def uniformDims(cents: Seq[CentroidLit]): Boolean =
    cents.nonEmpty && cents.forall(_.raw.length == cents.head.raw.length)

  private def useTopKExpr(cents: Seq[CentroidLit]): Boolean =
    cents.size > argmaxLiteralMaxK && uniformDims(cents)

  private def topKExpr(vec: Column, norm: Column, cents: Seq[CentroidLit],
      n: Int, portable: Boolean): Column = {
    val dims = cents.head.raw.length
    val flat = new Array[Double](cents.size * dims)
    val norms = new Array[Double](cents.size)
    cents.zipWithIndex.foreach { case (c, i) =>
      System.arraycopy(c.raw, 0, flat, i * dims, dims)
      norms(i) = c.norm
    }
    expressions.VectorExpressions.centroidTopK(vec, norm, flat, norms,
      dims, n, roundScores = portable)
  }

  /** Collect a centroid table (k rows — tiny by construction) to the
   *  driver in ascending-id order. The nearest-centroid argmax and the
   *  probe routing unroll these into per-row literal projections, so
   *  the corpus/query side is never crossJoin-multiplied ×k and never
   *  shuffled through a `Window.partitionBy(id)` rank — the Exchange +
   *  Sort the old formulation paid per assignment is REMOVED, not
   *  resized (optimization guide §2.4). The collect is metadata-bounded
   *  (k rows), the same class as [[queryIvfIndex]]'s probed-list
   *  collect; ascending-id order makes first-max ties resolve to the
   *  smallest id exactly like the old `row_number` over
   *  (score desc, id asc). */
  private def collectCentroidLits(centroids: DataFrame, idCol: String,
      vecCol: String, normCol: String): Seq[CentroidLit] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    val projected = centroids.select(col(idCol), col(vecCol),
      col(normCol).cast("double")).orderBy(col(idCol))
    val idType = projected.schema.head.dataType
    val vecType = projected.schema(1).dataType
    projected.collect().toSeq.map { r =>
      CentroidLit(
        org.apache.spark.sql.GraftBridge.column(CatLit.create(r.get(0), idType)),
        org.apache.spark.sql.GraftBridge.column(CatLit.create(r.get(1), vecType)),
        r.getDouble(2),
        // widened-to-double copy (exact for floats) for the large-k
        // matrix path; k rows × dims doubles, same order as the literal
        r.getSeq[Any](1).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue
          case x: Number => x.doubleValue
        }.toArray)
    }
  }

  /** scores[i] = cosine(row vector, centroid i), the SAME per-pair
   *  arithmetic as the crossJoin formulation (native dot over
   *  precomputed norms, 0.0 on a zero norm; `portable` rounds to 6 dp
   *  before the argmax). One codegen'd array projection per row. */
  private def centroidScores(vec: Column, norm: Column,
      cents: Seq[CentroidLit], portable: Boolean): Column =
    array(cents.map { c =>
      val raw = cosineWithNorms(vec, c.vec, norm, lit(c.norm))
      if (portable) round(raw, 6) else raw
    }: _*)

  /** (nearest centroid id, its score) as two pure projections:
   *  first-position argmax over the literal score array. Runtime
   *  subexpression elimination computes the score array once per row.
   *  Tie-break ≡ the old window's (score desc, id asc): `array_max`
   *  picks the greatest score and `array_position` its FIRST holder,
   *  which in ascending-id order is the smallest id. Both use Spark's
   *  SQL double order (NaN greatest, -0.0 equal to 0.0), which
   *  [[expressions.CentroidTopK]] shares. */
  private def argmaxCentroid(vec: Column, norm: Column,
      cents: Seq[CentroidLit], portable: Boolean): (Column, Column) = {
    if (useTopKExpr(cents)) {
      // large k: the matrix lives in ONE CentroidTopK node; the id
      // recovery stays a (constant-folded) literal-array lookup
      val top1 = element_at(topKExpr(vec, norm, cents, 1, portable), 1)
      (element_at(array(cents.map(_.id): _*), top1.getField("pos")),
        top1.getField("s"))
    } else {
      val scores = centroidScores(vec, norm, cents, portable)
      val pos = array_position(scores, array_max(scores)).cast("int")
      (element_at(array(cents.map(_.id): _*), pos), element_at(scores, pos))
    }
  }

  /** Explode each (query_id, qv, nq) row into its `nProbes` nearest
   *  lists — the routing previously paid a ×k crossJoin plus an
   *  Exchange + Sort (`row_number` over query_id); now a per-row sorted
   *  slice of the k-element literal score array, no shuffle at all.
   *  Comparator order ≡ the old window's (score desc, list_id asc). */
  private def probeRoutes(q: DataFrame, cents: Seq[CentroidLit],
      nProbes: Int): DataFrame = {
    if (useTopKExpr(cents)) {
      // large k: one CentroidTopK node does the score+select pass (s
      // desc, pos asc ≡ id asc — the collect is ascending-id) instead
      // of a k-struct literal array_sort per row
      q.withColumn("_probe",
          explode(topKExpr(col("qv"), col("nq"), cents, nProbes,
            portable = false)))
        .select(element_at(array(cents.map(_.id): _*),
          col("_probe.pos")).as("list_id"), col("query_id"),
          col("qv"), col("nq"))
    } else {
      val scored = array(cents.map(c =>
        struct(cosineWithNorms(col("qv"), c.vec, col("nq"), lit(c.norm)).as("s"),
          c.id.as("id"))): _*)
      val cmp = (l: Column, r: Column) =>
        when(l.getField("s") > r.getField("s"), -1)
          .when(l.getField("s") < r.getField("s"), 1)
          .when(l.getField("id") < r.getField("id"), -1)
          .when(l.getField("id") > r.getField("id"), 1)
          .otherwise(0)
      q.withColumn("_probe", explode(slice(array_sort(scored, cmp), 1, nProbes)))
        .select(col("_probe.id").as("list_id"), col("query_id"),
          col("qv"), col("nq"))
    }
  }

  /**
   * Exact near-duplicate pairs above a cosine threshold (brute force) —
   * the correctness baseline the LSH variants are measured against.
   */
  def bruteForcePairs(vectors: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withNorm = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", expressions.VectorExpressions.l2norm(col("v")))
    val a = withNorm.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a"))
    val b = withNorm.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b"))
    a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
      .withColumn("score",
        round(cosineWithNorms(col("v_a"), col("v_b"), col("n_a"), col("n_b")), 6))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /**
   * Exact brute-force top-k: for each query vector, the k nearest corpus
   * vectors by cosine. `queries` is expected to be small (it is broadcast).
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("nq", expressions.VectorExpressions.l2norm(col("qv"))))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .withColumn("nc", expressions.VectorExpressions.l2norm(col("cv")))
    val scored = c.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        round(cosineWithNorms(col("qv"), col("cv"), col("nq"), col("nc")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("score"), col("rank"))
  }

  /**
   * Hard-negative mining for contrastive / embedding training: for each
   * query (anchor) vector, the `k` MOST similar corpus vectors whose
   * `labelCol` differs from the anchor's — near the anchor in embedding
   * space yet labeled differently, the negatives that actually move a
   * contrastive loss (random negatives are trivially far at scale).
   * Same execution shape as [[bruteForceTopK]]: the anchor set is
   * broadcast, the corpus never shuffles, the top-k window partitions
   * by anchor. Cosine rounded to 6 dp before ranking, ties on ascending
   * candidate id — deterministic and cross-engine reproducible. For
   * corpus-scale anchor sets swap the cross join for the LSH-bucketed
   * candidate join ([[lshTopK]]) and apply the same label filter; this
   * exact form is the recall oracle.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        col(labelCol).as("_ql"))
      .withColumn("nq", expressions.VectorExpressions.l2norm(col("qv"))))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"),
        col(labelCol).as("_cl"))
      .withColumn("nc", expressions.VectorExpressions.l2norm(col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    c.crossJoin(q)
      .filter(col("_cl") =!= col("_ql"))
      .withColumn("score",
        round(cosineWithNorms(col("qv"), col("cv"), col("nq"), col("nc")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        col("_cl").as("neg_label"), col("score"), col("rank"))
  }

  /**
   * Sign-bit signature against nPlanes deterministic hyperplanes, as a
   * long bitmask (bit p = sign of ⟨v, plane_p⟩). One-pass native
   * expression (expressions.LshSignature) — the old per-plane
   * `aggregate(zip_with(...))` formulation paid interpreted lambda
   * dispatch per element × plane, and string signatures made the
   * candidate join shuffle wider. The default plane generator is portable
   * pure integer arithmetic, so external engines (the DuckDB oracle) can
   * reproduce bucketing bit-for-bit; `portable = false` switches to
   * xxhash64-derived plane weights (the scale default — better plane
   * distribution, no external-engine parity).
   */
  def lshSignature(vec: Column, nPlanes: Int, portable: Boolean = true): Column =
    expressions.VectorExpressions.lshSignature(vec, nPlanes, portable)

  /**
   * ANN via hyperplane LSH: bucket corpus and queries by signature,
   * equi-join buckets, exact-score within, top-k per query. Approximate:
   * recall depends on nPlanes (fewer planes → bigger buckets → higher
   * recall, more work).
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      portable: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .withColumn("sig", lshSignature(col("cv"), nPlanes, portable))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("sig", lshSignature(col("qv"), nPlanes, portable)))
    val scored = c.join(q, Seq("sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("score"), col("rank"))
  }

  /**
   * IVF (inverted-file) ANN: corpus vectors are assigned to their nearest
   * of `nLists` centroids; a query scans only its `nProbes` closest lists.
   * Centroids are picked deterministically as the `nLists` corpus vectors
   * with the smallest `xxhash64(id)` — a reproducible uniform sample (a
   * k-means seeding stand-in; swap in trained centroids for production,
   * or pass them via `ivfTopKWith`).
   *
   * Scale path: the corpus is partitioned BY LIST — at 100 TB each list is
   * a partition-pruned slice, and a query touches nProbes/nLists of the
   * data instead of all of it. The centroid table is tiny and broadcast
   * to both assignment joins. Centroid selection is `orderBy(hash).limit`,
   * which compiles to TakeOrderedAndProject — per-partition partial top-k
   * merged on the driver; no driver-side count(), no global window, no
   * single-partition shuffle anywhere in the plan.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nLists: Int = 16,
      nProbes: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .withColumn("nc", expressions.VectorExpressions.l2norm(col("cv")))
    val centroids =
      c.withColumn("_h", xxhash64(col("vec_id")))
        .orderBy(col("_h"), col("vec_id"))
        .limit(nLists)
        .select(col("vec_id").as("list_id"), col("cv").as("centroid"),
          col("nc").as("ncent"))
    ivfTopKWith(c, centroids, queries, k, nProbes, idCol, vecCol)
  }

  /**
   * IVF with caller-provided centroids (e.g. trained k-means): `centroids`
   * must have columns (list_id, centroid, ncent = l2norm(centroid)).
   */
  /** Assign every corpus vector to its nearest centroid — one broadcast
   *  join, rank-1 per vector. Shared by the inline IVF and the
   *  persistent index build. Extra corpus columns (e.g. the int8 twin
   *  columns of the persistent index) ride along untouched. */
  private def assignToLists(corpusNormed: DataFrame, centroids: DataFrame,
      portable: Boolean = false): DataFrame =
    assignWithCents(corpusNormed,
      collectCentroidLits(centroids, "list_id", "centroid", "ncent"), portable)

  private def assignWithCents(corpusNormed: DataFrame,
      cents: Seq[CentroidLit], portable: Boolean): DataFrame = {
    val extra = corpusNormed.columns.filterNot(Set("vec_id", "cv", "nc")).toSeq
    val outCols = (Seq("list_id", "vec_id", "cv", "nc") ++ extra).map(col)
    // portable: 6-dp-rounded argmax (ties by list_id), the
    // [[trainCentroids]] portable contract — the stored assignment is
    // then replicable bit-for-bit by an external SQL engine
    if (cents.isEmpty) // old crossJoin semantics: no centroids, no rows
      corpusNormed.withColumn("list_id", lit(null).cast("long"))
        .filter(lit(false)).select(outCols: _*)
    else
      corpusNormed.withColumn("list_id",
          argmaxCentroid(col("cv"), col("nc"), cents, portable)._1)
        .select(outCols: _*)
  }

  def ivfTopKWith(corpusNormed: DataFrame, centroidTable: DataFrame,
      queries: DataFrame, k: Int, nProbes: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // ONE plan-time collect serves the assignment argmax and the probe
    // routing (the table is k rows by construction; it was previously
    // broadcast-joined twice)
    val cents = collectCentroidLits(centroidTable, "list_id", "centroid", "ncent")
    val assigned = assignWithCents(corpusNormed, cents, portable = false)
    // route each query to its nProbes nearest lists
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("nq", expressions.VectorExpressions.l2norm(col("qv")))
    val probes = probeRoutes(q, cents, nProbes)
    // exact scoring inside the probed lists only
    val scored = assigned.join(probes, Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        round(cosineWithNorms(col("qv"), col("cv"), col("nq"), col("nc")), 6))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("score"), col("rank"))
  }

  /**
   * DataFrame-native Lloyd's k-means for IVF centroid training. Seeds
   * from the deterministic hash sample (same rule as ivfTopK), then
   * `iters` assign/recompute rounds: assignment is the broadcast-centroid
   * join ivfTopKWith uses; the per-dimension mean is ONE keyed aggregate
   * with the native partial-aggregating `VectorSumQ6` (the shuffle moves
   * k × dims longs, not rows × dims exploded tuples — and the micro-unit
   * sum makes the trained centroids independent of partition layout).
   * Each round's k-row centroid state is COLLECTED to the driver and
   * re-enters the next assignment as plan literals ([[argmaxCentroid]]),
   * so the iteration boundary is the collect itself: the plan never
   * deepens with `iters`, the per-round state has no executor lineage to
   * lose, and the old per-round localCheckpoint jobs are gone. Only the
   * RETURNED frame gets a [[Stages]] boundary (callers write it and
   * assign against it — without the boundary each downstream action
   * would re-run the final aggregation pass over the corpus);
   * `checkpointDir` makes that boundary durable, inspectable parquet.
   * A list that captures no vectors drops out (k shrinks), standard
   * Lloyd behavior with hard assignment.
   *
   * `portable = true` swaps the xxhash64 seed order for the md5-based
   * [[Sampling.portableUniform]] and rounds the assignment cosine to
   * 6 dp before the argmax (absorbing the 1-ulp dot-product sum-order
   * wobble, same contract as the cosine-pair oracles) — every step is
   * then replicable bit-for-bit by an external SQL engine, which is how
   * the `sim_kmeans_train` oracle verifies the trainer itself.
   */
  def trainCentroids(corpus: DataFrame, k: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      checkpointDir: Option[String] = None,
      portable: Boolean = false): DataFrame = {
    def cut(df: DataFrame, stage: String) = Stages.boundary(df, checkpointDir, stage)
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .withColumn("nc", expressions.VectorExpressions.l2norm(col("cv")))
    val seedH =
      if (portable) Sampling.portableUniform(col("vec_id")) else xxhash64(col("vec_id"))
    var centroids = c.withColumn("_h", seedH)
      .orderBy(col("_h"), col("vec_id")).limit(k)
      .select(col("vec_id").as("list_id"), col("cv").as("centroid"), col("nc").as("ncent"))
    for (_ <- 0 until iters) {
      // assignment is the literal-centroid argmax projection — a pure
      // map stage; the old crossJoin + row_number window shuffled and
      // sorted corpus×k rows per iteration (guide §2.4). The collect is
      // the round boundary: k rows to the driver, literals back out.
      val cents = collectCentroidLits(centroids, "list_id", "centroid", "ncent")
      val assigned = // cents empty (k collapsed to 0): stays empty, as before
        if (cents.isEmpty) c.filter(lit(false))
          .withColumn("list_id", lit(null).cast("long"))
          .select(col("list_id"), col("cv"))
        else c.withColumn("list_id",
            argmaxCentroid(col("cv"), col("nc"), cents, portable)._1)
          .select(col("list_id"), col("cv"))
      centroids = assigned
        .groupBy(col("list_id"))
        .agg(expressions.VectorAggregates.vecSumQ6(col("cv")).as("_s"),
          count(lit(1)).as("_n"))
        .select(col("list_id"),
          transform(col("_s"), x =>
            x.cast("double") / lit(1e6) / col("_n")).as("centroid"))
        .withColumn("ncent", expressions.VectorExpressions.l2norm(col("centroid")))
    }
    cut(centroids, "centroids")
  }

  /** IVF top-k over TRAINED centroids: train once, then probe. */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      nLists: Int = 16, nProbes: Int = 4, trainIters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .withColumn("nc", expressions.VectorExpressions.l2norm(col("cv")))
    ivfTopKWith(c, trainCentroids(corpus, nLists, trainIters, idCol, vecCol),
      queries, k, nProbes, idCol, vecCol)
  }

  /**
   * PERSISTENT IVF index: the build (k-means train + assignment — the
   * expensive part) runs once and lands as parquet; queries load and
   * probe without re-assignment. Layout:
   *   <path>/centroids/            (list_id, centroid, ncent — tiny)
   *   <path>/lists/list_id=<n>/    assigned vectors, partitioned BY LIST
   * so a probe's scan is partition-pruned to its nProbes lists — at
   * 100 TB a query touches nProbes/nLists of the index, enforced by the
   * storage layout itself, not just the join.
   */
  /** The persisted-index row projection shared by the batch build and
   *  the streaming append — both must land the identical column set or
   *  the probe scans break on mixed file schemas. */
  private def indexRows(vectors: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    vectors.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
      .withColumn("nc", expressions.VectorExpressions.l2norm(col("cv")))
      // int8 twin columns for the IVFADC-style quantized probe: q8 reads
      // 4× narrower than cv, and cosine against q8 needs only its own
      // norm (the symmetric scale cancels), so the probe scan can prune
      // the fp32 column entirely
      .withColumn("_qt", quantizeInt8(col("cv")))
      .withColumn("q8", col("_qt.q"))
      .withColumn("nq8", expressions.VectorExpressions.l2norm(col("q8")))
      .drop("_qt")

  def buildIvfIndex(corpus: DataFrame, path: String, nLists: Int = 16,
      trainIters: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding", portable: Boolean = false): Unit = {
    val c = indexRows(corpus, idCol, vecCol)
    val centroids = trainCentroids(corpus, nLists, trainIters, idCol, vecCol,
      portable = portable)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    assignToLists(c, centroids, portable)
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/lists")
  }

  /**
   * STREAMING index maintenance: per micro-batch, assign arriving
   * vectors to the FROZEN centroids of an existing [[buildIvfIndex]]
   * index (standard IVF practice — centroids train once on a
   * representative sample and assignment is append-only; a drifted
   * corpus retrains by REBUILDING, it never mutates a live index) and
   * append them into the `lists/list_id=N` layout, so queries running
   * concurrently see a monotonically growing index with unchanged probe
   * semantics. The embedding counterpart of
   * [[Pipeline.streamingIndexedDedup]]'s persisted MinHash index.
   *
   * Delivery is EXACTLY-ONCE across restarts: each micro-batch lands
   * through [[graft.store.StagedBatchAppend]] — the tier store's
   * stage → manifest → move → ledger-marker protocol on the index
   * directory — so a crash replay SKIPS a committed batch instead of
   * appending duplicates repaired later. The ledger namespace derives
   * from the checkpoint (the [[graft.ingest.IngestPipeline.writerId]]
   * idiom): a restart from the SAME checkpoint replays idempotently; a
   * fresh checkpoint over the same input is a new writer and appends
   * again (that rerun's duplicates are what [[compactIvfLists]]'
   * per-list dedup still repairs).
   *
   * `compactEvery > 0` folds the grown lists from INSIDE foreachBatch
   * every that many batches — one maintainer by construction, same
   * contract as [[Pipeline.streamingIndexedDedup]]'s in-run compaction.
   * With `compactEvery = 0` (default) an external scheduler may run
   * [[compactIvfLists]] against the LIVE stream: the manifest-publish
   * fold is reader-atomic and never lists an uncommitted batch's files
   * as candidates, so concurrent probes and ledgered appends are both
   * safe — the only remaining rule is one fold at a time.
   *
   * Scale shape: each batch does one broadcast-centroid assignment
   * (rank-1 per vector, no shuffle beyond the list_id repartition) and
   * writes only its own rows; the index is never rewritten on append.
   */
  def streamingIvfAppend(stream: DataFrame, path: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      compactEvery: Int = 0, compactMinFiles: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    val fs0 = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // existence + non-emptiness at the FS level (the streamingBm25Append
    // idiom) — the old `read.parquet(...).count() > 0` paid a Spark job
    // per stream start just to phrase the same precondition. A zero-ROW
    // centroids file still has a nonzero footer length, and a degenerate
    // index passing this guard would silently drop every streamed vector
    // (the empty-centroid assignment emits no rows) — so read the parquet
    // FOOTER row count directly: still no Spark job, but row-exact.
    val centDir = new org.apache.hadoop.fs.Path(
      s"${currentGenRoot(fs0, path)}/centroids")
    def footerRows(st: org.apache.hadoop.fs.FileStatus): Long = {
      val r = try org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st,
          spark.sparkContext.hadoopConfiguration))
      catch { case e: Exception => throw new IllegalStateException(
        s"unreadable centroids file ${st.getPath} in IVF index $path", e) }
      try r.getRecordCount finally r.close()
    }
    require(fs0.exists(centDir) &&
      fs0.listStatus(centDir).exists(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet") && f.getLen > 0 &&
          footerRows(f) > 0),
      s"no IVF index at $path — buildIvfIndex first")
    val writer = graft.store.BatchLedger.writerId("ivf", checkpoint)
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // this stream is the index's single maintainer: heal a crashed
        // compaction swap before touching the layout
        healIvfLists(batch.sparkSession, path)
        if (!batch.isEmpty)
          appendIvfBatch(batch, path, batchId, writer, idCol, vecCol): Unit
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactIvfLists(batch.sparkSession, path,
            minFiles = compactMinFiles): Unit
      }
      .start()
  }

  /** One exactly-once micro-batch append (the foreachBatch body,
   *  factored for direct replay testing): assign to the frozen
   *  centroids, stage under the index root, commit through the batch
   *  ledger. Returns false when `batchId` already committed. */
  private[graft] def appendIvfBatch(batch: DataFrame, path: String,
      batchId: Long, writer: String = "ivf", idCol: String = "vec_id",
      vecCol: String = "embedding", portable: Boolean = false): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    // resolved per batch: an atomic REBUILD between micro-batches moves
    // the generation root, and the next append lands in (and assigns
    // against) the NEW generation; the ledger stays at the stable index
    // root so a replay of a pre-rebuild batch still skips
    val genRoot = currentGenRoot(fs, path)
    graft.store.StagedBatchAppend.append(batch.sparkSession, genRoot, writer,
      batchId, ledgerRoot = Some(path)) { staging =>
      // frozen-centroid collect cached per generation signature: the
      // old per-batch read+collect was one fixed Spark job per
      // micro-batch against a table that cannot change under this
      // stream (see [[cachedCentroidLits]])
      assignWithCents(indexRows(batch, idCol, vecCol),
        cachedCentroidLits(batch.sparkSession, s"$genRoot/centroids"),
        portable)
        .repartition(col("list_id"))
        .write.partitionBy("list_id").parquet(s"$staging/lists")
    }
  }

  /**
   * ATOMIC REBUILD of a live IVF index — the missing half of the
   * frozen-centroid contract: centroids train once and appends assign
   * against them ([[streamingIvfAppend]]); when the corpus drifts, the
   * index must be RETRAINED AND REBUILT, and until now that meant an
   * in-place overwrite no reader could safely race. This publishes the
   * retrain as a GENERATION: the current resolved corpus (every
   * committed build/append row, through the snapshot resolver) is
   * re-trained (`nLists` fresh k-means centroids) and re-assigned into
   * `_gen_(G+1)/centroids|lists` — underscore-invisible while being
   * built — and the atomic appearance of the small `_commit_gen_(G+1)`
   * marker is the cutover. Readers ([[queryIvfIndex]],
   * [[readIvfLists]]) resolve their generation ONCE at plan time:
   * mid-rebuild they serve the complete old generation, after the
   * marker the complete new one, never a mixture — NO READER QUIESCE,
   * the [[compactIvfLists]] contract extended to whole-index retrains.
   *
   * The batch ledger stays at the stable index root, shared across
   * generations: a crash replay of a micro-batch committed BEFORE the
   * rebuild still SKIPS (its rows are already inside the rebuilt
   * corpus; a per-generation ledger would re-append them). The append
   * STREAM is the one writer that must not race the swap — run the
   * rebuild with the stream stopped or from its own foreachBatch safe
   * point (an append landing in the old generation during the rebuild
   * job would be silently absent from the new one).
   *
   * `retainOld = true` keeps the superseded generation for
   * [[pinIvfIndex]] as-of reads (a pre-rebuild pin then still resolves
   * its exact corpus); the default reclaims it, after which
   * pre-rebuild pins fail LOUDLY via the root `_floor` record —
   * the same commit/vacuum separation as everywhere else.
   */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      nLists: Int = 16, trainIters: Int = 3,
      retainOld: Boolean = false): Unit = {
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldRoot = currentGenRoot(fs, path)
    val nextG = graft.store.IndexGenerations.nextGeneration(fs, path, oldRoot)
    // corpus = the resolved live rows (builds + every committed append)
    val corpus = readIvfLists(spark, path)
      .select(col("vec_id"), col("cv").as("embedding"))
    val staging = s"$path/._gen_staging_$nextG"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    val centroids = trainCentroids(corpus, nLists, trainIters)
    centroids.write.parquet(s"$staging/centroids")
    assignToLists(indexRows(corpus, "vec_id", "embedding"),
      spark.read.parquet(s"$staging/centroids"))
      .repartition(col("list_id"))
      .write.partitionBy("list_id").parquet(s"$staging/lists")
    graft.store.IndexGenerations.publish(fs, path, nextG, staging)
    if (!retainOld) graft.store.IndexGenerations.vacuumOld(fs, path,
      s"$path/_gen_$nextG", legacyDirs = Seq("lists", "centroids"))
  }

  /** Heal a [[compactIvfLists]] crash: a list partition whose live dir
   *  is missing but whose `.old_lists/` sibling survives is restored;
   *  a superseded `.old_lists/` entry whose live dir exists is deleted
   *  (the swap completed, only the cleanup crashed). MAINTAINER-ONLY,
   *  like [[Dedup.repairMinhashIndex]]: write paths call it on entry;
   *  pure readers just see the momentarily absent list as empty. */
  def healIvfLists(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val oldRoot = new org.apache.hadoop.fs.Path(s"$path/.old_lists")
    val fs = oldRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(oldRoot)) return
    fs.listStatus(oldRoot).foreach { e =>
      val live = new org.apache.hadoop.fs.Path(s"$path/lists/${e.getPath.getName}")
      // a restore rename that FAILS (returns false rather than throwing
      // on some FileSystems) must abort the heal — the final delete of
      // .old_lists below would otherwise destroy the only surviving
      // copy of this list's rows
      if (!fs.exists(live))
        require(fs.rename(e.getPath, live), s"heal restore ${e.getPath} -> $live failed")
      else fs.delete(e.getPath, true)
    }
    fs.delete(oldRoot, true)
  }

  // ----- index GENERATIONS (atomic rebuild, [[rebuildIvfIndex]]) ----- //
  //
  // Layout at the index root:
  //   centroids/, lists/          generation 0 (the buildIvfIndex layout)
  //   _gen_G/centroids|lists      generation G's tables (underscore-
  //                               invisible while being built)
  //   _commit_gen_G               marker: generation G is live (staged
  //                               hidden + renamed — atomic appearance,
  //                               ok-terminated; the TierLayout commit
  //                               primitive)
  //   _batches/                   ONE ledger for every generation — a
  //                               replay of a batch committed before a
  //                               rebuild must skip (its rows are in the
  //                               rebuilt corpus)
  //   _floor                      earliest exactly-resolvable pin after
  //                               generation vacuums (loud, not silent)

  /** The generation root a reader (at `asOf`, or now) must serve —
   *  [[graft.store.IndexGenerations.currentRoot]] with the lists tree
   *  as the presence witness. */
  private[graft] def currentGenRoot(fs: org.apache.hadoop.fs.FileSystem,
      path: String, asOf: Option[graft.store.AsOfPin] = None): String =
    graft.store.IndexGenerations.currentRoot(fs, path, "lists", asOf)

  /** The IVF lists tree's (list_id -> partition dir) listing. */
  private def listDirsOf(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(live)) Nil
    else fs.listStatus(live).toSeq
      .filter(e => e.isDirectory && e.getPath.getName.startsWith("list_id="))
      .flatMap(e => e.getPath.getName.stripPrefix("list_id=").toLongOption
        .map(_ -> e.getPath))

  private val listIdSchema = new org.apache.spark.sql.types.StructType()
    .add("list_id", org.apache.spark.sql.types.LongType)

  /** Schema of the persisted list rows ([[indexRows]] + partition col)
   *  — the empty-resolution fallback frame. */
  private def emptyListsFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("vec_id", LongType).add("cv", ArrayType(FloatType))
      .add("nc", DoubleType).add("q8", ArrayType(IntegerType))
      .add("nq8", DoubleType).add("list_id", LongType)
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /**
   * Snapshot-resolved read of the IVF lists tree — the ONLY correct way
   * to scan a live index: each list partition resolves through its
   * [[graft.store.SnapshotFold]] commits and the index's batch ledger
   * at PLAN time, so a probe racing a concurrent fold sees either the
   * complete pre-fold file set or the complete post-fold one, never a
   * mixture (a plain `spark.read.parquet` would double-count a list
   * mid-fold and miss uncommitted-batch semantics entirely).
   * `onlyLists` prunes at resolution time — non-probed list dirs are
   * never even listed. `asOf` pins the read ([[pinIvfIndex]]).
   */
  def readIvfLists(spark: org.apache.spark.sql.SparkSession, path: String,
      onlyLists: Option[Seq[Long]] = None,
      asOf: Option[graft.store.AsOfPin] = None): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readIvfListsAt(spark, path, currentGenRoot(fs, path, asOf), onlyLists, asOf)
  }

  /** [[readIvfLists]] against an ALREADY-RESOLVED generation root — the
   *  probe functions resolve the generation ONCE and read centroids and
   *  lists from the same root, so a rebuild committing mid-query can
   *  never pair one generation's centroids with another's lists. */
  private def readIvfListsAt(spark: org.apache.spark.sql.SparkSession,
      path: String, genRoot: String, onlyLists: Option[Seq[Long]],
      asOf: Option[graft.store.AsOfPin]): DataFrame = {
    val live = new org.apache.hadoop.fs.Path(s"$genRoot/lists")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the ledger lives at the STABLE index root across generations
    val committed = graft.store.BatchLedger.read(fs,
      new org.apache.hadoop.fs.Path(path), asOf)
    val parts = listDirsOf(fs, live)
      .filter { case (id, _) => onlyLists.forall(_.contains(id)) }
      .map { case (id, dir) =>
        (org.apache.spark.sql.catalyst.InternalRow(id),
          graft.store.SnapshotFold.resolve(fs, dir, committed, asOf))
      }
      .filter(_._2.nonEmpty)
    graft.store.SnapshotFold.dataFrame(spark, listIdSchema, parts, Seq(live))
      .getOrElse(emptyListsFrame(spark))
  }

  /** LOGICAL as-of pin over the streamed IVF index — the index's
   *  current position in each of its commit sequences (append-ledger
   *  batch ids, per-list fold versions, the rebuild generation), so
   *  `readIvfLists(asOf = pin)` always equals the current read and
   *  later appends/folds/rebuilds stay invisible regardless of storage
   *  clock granularity ([[graft.store.TierStore.pinNow]] contract).
   *  Centroids are not covered: a centroid retrain is a REBUILD (a new
   *  generation), which the pin's generation position captures. */
  def pinIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): graft.store.AsOfPin = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = currentGenRoot(fs, path)
    graft.store.AsOfPin.capture(fs, root,
      listDirsOf(fs, new org.apache.hadoop.fs.Path(s"$gen/lists")).map(_._2),
      genPath = Some(path))
  }

  /** Reclaim the index's superseded history — fold snapshots of the
   *  CURRENT generation, whole SUPERSEDED generations (retained
   *  rebuilds), and the append ledger's old markers — the explicit
   *  vacuum for `retainHistory`/`retainOld` deployments (run it once no
   *  live [[pinIvfIndex]] pin needs the history; pins older than what
   *  survives fail LOUDLY afterwards, via the `_floor` record for
   *  vacuumed generations). */
  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.store.StagedBatchAppend.foldAllMarkers(spark, path)
    val gen = currentGenRoot(fs, path)
    listDirsOf(fs, new org.apache.hadoop.fs.Path(s"$gen/lists"))
      .foreach { case (_, d) => graft.store.SnapshotFold.vacuumDir(fs, d) }
    graft.store.IndexGenerations.vacuumOld(fs, path, gen,
      legacyDirs = Seq("lists", "centroids"))
  }

  /**
   * Per-list DRIFT / HEALTH statistics of a persisted IVF index — the
   * signal that answers "is it time to [[rebuildIvfIndex]]?", which the
   * frozen-centroid append contract otherwise leaves to guesswork. For
   * every centroid (INCLUDING lists that captured nothing — an empty
   * list is itself a drift signal):
   *   - `n`           rows currently assigned to the list;
   *   - `sum_cos_q6`  Σ cosine(member, centroid) in integer micro-units
   *                   (each row quantized to 6 dp BEFORE the sum, so the
   *                   total is order-independent and cross-engine exact;
   *                   mean member similarity = sum_cos_q6 / 1e6 / n);
   *   - `min_cos_q6`  the worst member — the list's effective radius.
   * Falling mean/min cosine means appended vectors sit ever further
   * from the training-time centroids (rising quantization error, probe
   * recall decay); the list-size skew gives the imbalance factor
   * `nLists * Σ n_i² / (Σ n_i)²` (1.0 = perfectly balanced — the
   * standard IVF health number): either drifting badly says retrain.
   *
   * Cost shape: one broadcast join (nLists rows) + one hash aggregate
   * over the index — no shuffle of the vectors, and the list scan reads
   * only (list_id, cv, nc): the int8 twin columns are pruned. Reads
   * through the snapshot resolver, so it is exact under live appends
   * and folds; `asOf` pins it to a [[pinIvfIndex]] instant (drift OF a
   * reproducible training run's view).
   */
  def ivfListStats(spark: org.apache.spark.sql.SparkSession, path: String,
      asOf: Option[graft.store.AsOfPin] = None): DataFrame = {
    val genRoot = currentGenRoot(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), path, asOf)
    val centroids = spark.read.parquet(s"$genRoot/centroids")
    val q6 = floor(cosineWithNorms(col("cv"), col("centroid"),
      col("nc"), col("ncent")) * lit(1e6) + lit(0.5)).cast("long")
    val stats = readIvfListsAt(spark, path, genRoot, None, asOf)
      .select(col("list_id"), col("cv"), col("nc"))
      .join(broadcast(centroids), Seq("list_id"))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"), sum(q6).as("sum_cos_q6"),
        min(q6).as("min_cos_q6"))
    centroids.select(col("list_id"))
      .join(stats, Seq("list_id"), "left")
      .select(col("list_id"), coalesce(col("n"), lit(0L)).as("n"),
        col("sum_cos_q6"), col("min_cos_q6"))
  }

  /**
   * SELECTIVE, READER-ATOMIC fold of a streamed index's per-batch
   * appends: only list partitions holding at least `minFiles` live
   * files under `targetFileBytes` are rewritten — the
   * [[graft.store.TierStore.compact]] `minFiles` idiom — so a
   * long-lived stream's cumulative maintenance cost is proportional to
   * the lists that actually GREW since the last fold, never to the
   * whole index. Each touched list dedups exact (list_id, vec_id)
   * copies while folding (repairing any unledgered legacy appends);
   * untouched lists keep their files byte-for-byte. ONE Spark job
   * covers all touched lists; each then publishes through the
   * [[graft.store.SnapshotFold]] manifest protocol — version dir
   * staged invisibly, the small commit marker is the atomic cutover —
   * so the fold may run under LIVE [[queryIvfIndex]] probes and live
   * ledgered appends: a racing reader sees the complete pre-fold or
   * complete post-fold set, never a partial list (the round-10 rename
   * swap required quiescing readers; that requirement is gone). Folds
   * themselves stay single-maintainer (one at a time), which
   * `compactEvery` ([[streamingIvfAppend]]) provides by construction
   * and an external cron must provide by scheduling.
   *
   * `retainHistory` keeps superseded files and ledger markers for
   * [[pinIvfIndex]] as-of reproducibility (reclaim later with
   * [[vacuumIvfIndex]]); the default reclaims inline. Returns (live
   * files before, after) over the whole lists tree.
   */
  def compactIvfLists(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024, minFiles: Int = 4,
      retainHistory: Boolean = false): (Int, Int) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genRoot = currentGenRoot(fs, path)
    val live = new org.apache.hadoop.fs.Path(s"$genRoot/lists")
    require(fs.exists(live), s"no IVF index at $path")
    healIvfLists(spark, path) // legacy pre-manifest layouts only
    // maintainer context: keep the append ledger O(recent) too — unless
    // history is being retained for as-of pins (a marker fold would make
    // pins older than it fail, exactly what retainHistory defers)
    if (!retainHistory) graft.store.StagedBatchAppend.foldAllMarkers(spark, path)
    val committed = graft.store.BatchLedger.read(fs,
      new org.apache.hadoop.fs.Path(path))
    val dirs = listDirsOf(fs, live)
    def liveCount() = dirs.map { case (_, d) =>
      graft.store.SnapshotFold.resolve(fs, d, committed).length
    }.sum
    val before = liveCount()
    // the shared fold core (one job over only the touched lists'
    // candidates); IVF's shape dedups legacy duplicate appends per list
    val published = graft.store.IndexFold.foldPartitioned(spark, fs, live,
      dirs.map { case (id, d) =>
        (org.apache.spark.sql.catalyst.InternalRow(id), d)
      },
      listIdSchema, "list_id",
      new org.apache.hadoop.fs.Path(s"$path/.compact_lists"),
      targetFileBytes, minFiles, committed,
      shape = _.dropDuplicates("list_id", "vec_id"),
      retainHistory = retainHistory)
    if (published == 0 && !retainHistory)
      // still reclaim anything an earlier fold committed but crashed
      // before vacuuming (post-commit crash safety)
      dirs.foreach { case (_, d) => graft.store.SnapshotFold.vacuumDir(fs, d) }
    (before, liveCount())
  }

  /**
   * Targeted vector ERASURE from a live IVF index — the
   * right-to-be-forgotten pass the DERIVED stores need: the tier
   * store's [[graft.store.TierStore.deleteWhere]] purges the corpus,
   * but this index physically retains the erased documents'
   * embeddings (fp32 AND the int8 twins), so a compliance erase that
   * stops at the corpus leaves the vectors recoverable here. Shape is
   * `deleteWhere`'s, applied to the lists tree: ONE job finds which
   * live files carry any erased `vec_id` (resolver-pinned scan +
   * `input_file_name`), ONE job rewrites exactly those files minus the
   * erased rows, and each touched list publishes the rewrite through
   * the [[graft.store.SnapshotFold]] manifest protocol — so the erase
   * runs under LIVE [[queryIvfIndex]] probes with no quiesce (a racing
   * probe resolves the complete pre- or post-erase file set of each
   * list, never a partial). A list whose every candidate row is erased
   * commits an EMPTY snapshot, so the erase is complete even where no
   * file remains.
   *
   * Unlike every other maintenance pass, history is reclaimed
   * UNCONDITIONALLY — erased rows must not stay readable OR on disk:
   * the append-ledger markers fold first (their batch files would
   * otherwise survive as raw history), every list dir vacuums its
   * superseded snapshots, and retained superseded GENERATIONS
   * (`retainOld` rebuilds) are dropped. As-of pins taken before the
   * erase fail LOUDLY afterwards (the `_floor`/ledger-fold contracts)
   * instead of silently resurrecting the erased vectors. A post-crash
   * re-run completes the pass: candidates already committed away are
   * simply no longer hit, and the unconditional vacuum reclaims
   * whatever a mid-pass crash left superseded.
   *
   * Completeness caveats a compliance run must cover: (1) `centroids/`
   * holds k-means MEANS over many vectors — an aggregate, not any
   * individual's data — but a strict policy erases their contribution
   * too: follow with [[rebuildIvfIndex]], which retrains from the
   * surviving corpus only; (2) the CORPUS store this index was built
   * from needs its own [[graft.store.TierStore.deleteWhere]] pass.
   *
   * `ids` scales from a compliance batch (a literal IN-list pushed
   * into the scans) to a domain-level mass purge: above
   * [[graft.store.IdFilter.InListMax]] membership becomes a broadcast
   * semi/anti join — plan size O(1) regardless of set size.
   * Single-maintainer like [[compactIvfLists]]. Returns the
   * number of index rows erased (counting legacy duplicates).
   */
  def eraseFromIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: Seq[Long], targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    require(ids.nonEmpty, "empty erase set")
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healIvfLists(spark, path) // legacy pre-manifest layouts only
    // erasure destroys as-of history by CONTRACT: fold the ledger now —
    // committed batch files must stop being pin-resolvable raw history
    graft.store.StagedBatchAppend.foldAllMarkers(spark, path)
    val committed = graft.store.BatchLedger.read(fs, rootP)
    val genRoot = currentGenRoot(fs, path)
    val live = new org.apache.hadoop.fs.Path(s"$genRoot/lists")
    require(fs.exists(live), s"no IVF index at $path")
    val resolved = listDirsOf(fs, live).map { case (id, d) =>
      (org.apache.spark.sql.catalyst.InternalRow(id), d,
        graft.store.SnapshotFold.resolve(fs, d, committed))
    }
    // the shared erase core: hit scan (IdFilter — literal IN-list for a
    // bounded batch, broadcast semi join for a mass purge), selective
    // rewrite, reader-atomic per-list publish
    val (erased, _) = graft.store.IndexErase.eraseRows(spark, fs,
      graft.store.IndexErase.Target(live, listIdSchema, resolved,
        partitionBy = Seq("list_id"), repartitionCols = Seq("list_id")),
      "vec_id", ids, new org.apache.hadoop.fs.Path(s"$path/.erase_lists"),
      targetFileBytes)
    // UNCONDITIONAL vacuum: superseded snapshots and folded raw files
    // still carry the erased vectors; retained old generations too
    resolved.foreach { case (_, d, _) =>
      graft.store.SnapshotFold.vacuumDir(fs, d)
    }
    graft.store.IndexGenerations.vacuumOld(fs, path, genRoot,
      legacyDirs = Seq("lists", "centroids"))
    erased
  }

  /**
   * Query a persisted IVF index: broadcast the centroid table, rank the
   * query's nProbes nearest lists, and filter the list scan by those
   * list ids — `list_id` is the partition column, so the filter becomes
   * partition PRUNING (the probe never opens non-probed list files; the
   * probe-list filter is collected from the ranked query set, which is
   * small by ANN's contract). The list scan resolves through
   * [[readIvfLists]] — snapshot-pinned at plan time, so the probe is
   * exact under a concurrent [[compactIvfLists]] fold; `asOf` pins it
   * to a [[pinIvfIndex]] instant for reproducible ANN runs.
   */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nProbes: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      asOf: Option[graft.store.AsOfPin] = None): DataFrame = {
    val genRoot = currentGenRoot(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), path, asOf)
    val cents = cachedCentroidLits(spark, s"$genRoot/centroids")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("nq", expressions.VectorExpressions.l2norm(col("qv")))
    val probes = probeRoutes(q, cents, nProbes)
    // distributed distinct BEFORE the collect: the driver receives at
    // most k longs (the number of lists), never queries × nProbes rows —
    // a large query batch on this public API must not be able to OOM
    // the driver; the Exchange is over single longs and bounded by the
    // (small) query set (guide §5, VERDICT-r16 ask #2)
    val probedLists = probes.select("list_id").distinct().collect()
      .map(_.getLong(0))
    val lists = readIvfListsAt(spark, path, genRoot, Some(probedLists.toSeq), asOf)
    val scored = lists.join(probes, Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        round(cosineWithNorms(col("qv"), col("cv"), col("nq"), col("nc")), 6))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("score"), col("rank"))
  }

  /**
   * IVFADC-style QUANTIZED probe of a persisted index: the candidate
   * scan reads only (vec_id, q8, nq8) — parquet column pruning skips
   * the fp32 vectors entirely, 4× less I/O on the probe, the phase that
   * touches the most rows — ranks candidates by int8 cosine (the
   * symmetric scale cancels in cosine, so no dequantization), keeps
   * `refine`·k per query, then reranks ONLY the survivors against the
   * full-precision column (a second, id-filtered read of the same
   * pruned partitions). Exact top-k whenever the true top-k survive the
   * approximate cut — `refine` trades a slightly wider rerank for
   * recall, the standard IVF+PQ/ADC dial.
   */
  def queryIvfIndexQuantized(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nProbes: Int = 4, refine: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      asOf: Option[graft.store.AsOfPin] = None): DataFrame = {
    val genRoot = currentGenRoot(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), path, asOf)
    val cents = cachedCentroidLits(spark, s"$genRoot/centroids")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("nq", expressions.VectorExpressions.l2norm(col("qv")))
    val probes = probeRoutes(q, cents, nProbes)
    // distributed distinct BEFORE the collect — bounded by k at the
    // driver (see queryIvfIndex; VERDICT-r16 ask #2)
    val probedLists = probes.select("list_id").distinct().collect()
      .map(_.getLong(0))
    // BOTH phases scan the same snapshot resolution (one plan-time pin
    // serves the approximate cut and the rerank — a fold or rebuild
    // landing between them must not change the candidate set mid-query)
    val lists = readIvfListsAt(spark, path, genRoot, Some(probedLists.toSeq), asOf)
    // approximate phase: int8 columns only — cv is pruned from this scan
    val approx = lists
      .select(col("list_id"), col("vec_id"), col("q8"), col("nq8"))
      .join(probes, Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("ascore", cosineWithNorms(col("qv"), col("q8"), col("nq"), col("nq8")))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("ascore").desc, col("vec_id").asc)
    val survivors = approx.withColumn("_r", row_number().over(wA))
      .filter(col("_r") <= k.toLong * refine)
      .select(col("list_id"), col("vec_id"), col("query_id"), col("qv"), col("nq"))
    // rerank phase: full precision, survivors only
    val exact = lists
      .select(col("list_id"), col("vec_id"), col("cv"), col("nc"))
      .join(survivors, Seq("list_id", "vec_id"))
      .withColumn("score",
        round(cosineWithNorms(col("qv"), col("cv"), col("nq"), col("nc")), 6))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    exact.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("score"), col("rank"))
  }

  /**
   * Symmetric per-vector int8 quantization: scale = max|xᵢ|/127,
   * qᵢ = floor(xᵢ/scale + 0.5) — 4× smaller embedding storage and
   * shuffle width, the standard compression before ANN at 100 TB scale
   * (IVFADC-style; rerank survivors against the full-precision column).
   * `floor(x + 0.5)` instead of round() so external engines reproduce
   * the exact integers (round() half-case rules differ across engines).
   * Zero vectors quantize to zeros with scale 0.
   */
  def quantizeInt8(vec: Column): Column = {
    val mx = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = mx / lit(127.0)
    struct(
      scale.cast("double").as("scale"),
      when(mx === 0.0, transform(vec, _ => lit(0)))
        .otherwise(transform(vec, x =>
          floor(x.cast("double") / scale + lit(0.5)).cast("int"))).as("q"))
  }

  /** Dequantized approximation: qᵢ · scale (doubles). */
  def dequantize(quant: Column): Column =
    transform(quant.getField("q"), q => q.cast("double") * quant.getField("scale"))

  /**
   * Embedding-cosine near-duplicate pairs above a threshold, blocked by
   * LSH signature (same hyperplane trick; near-identical vectors land in
   * the same bucket with high probability).
   */
  /**
   * `maxBucketSize` is the hot-bucket guard (same contract as
   * [[graft.functions.Dedup.minhashLshPairs]]'s): growing `nPlanes`
   * shrinks AVERAGE buckets, but degenerate vectors — all-zero
   * embeddings, exact-duplicate rows from a failed upstream dedup —
   * collapse onto one signature no matter how many planes, and that
   * bucket squares. Buckets at or under the cap keep exact all-pairs;
   * buckets OVER the cap fall back to a LINEAR star sample anchored at
   * the bucket's min-id member, every candidate still exactly cosine-
   * verified — so an over-cap duplicate cluster (the single collapsed
   * signature) still connects into one component through its
   * representative instead of escaping [[semanticDedup]] untouched.
   * Default keeps exact oracle behavior; chains default to
   * [[graft.functions.Dedup.DefaultChainMaxBucket]]. Diagnose with
   * [[signatureBucketStats]].
   */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double = 0.99, nPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      portable: Boolean = true, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val allV = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", lshSignature(col("v"), nPlanes, portable))
    // a vector has exactly one signature, so a pair shares at most one
    // bucket and the cold/star streams are disjoint — no distinct needed
    val cands =
      if (maxBucketSize == Int.MaxValue) {
        val a = allV.select(col("sig"), col("id").as("id_a"), col("v").as("v_a"))
        val b = allV.select(col("sig"), col("id").as("id_b"), col("v").as("v_b"))
        a.join(b, Seq("sig")).filter(col("id_a") < col("id_b"))
      } else {
        val hot = allV.groupBy(col("sig"))
          .agg(count(lit(1)).as("_c"), min(col("id")).as("_rep"),
            min_by(col("v"), col("id")).as("_repV"))
          .filter(col("_c") > maxBucketSize)
        val cold = allV.join(hot.select(col("sig")), Seq("sig"), "left_anti")
        val a = cold.select(col("sig"), col("id").as("id_a"), col("v").as("v_a"))
        val b = cold.select(col("sig"), col("id").as("id_b"), col("v").as("v_b"))
        val coldPairs = a.join(b, Seq("sig")).filter(col("id_a") < col("id_b"))
        // rep = min id of the bucket, so id_a < id_b by construction
        val star = allV.join(hot.select(col("sig"), col("_rep"), col("_repV")), Seq("sig"))
          .filter(col("id") =!= col("_rep"))
          .select(col("sig"), col("_rep").as("id_a"), col("_repV").as("v_a"),
            col("id").as("id_b"), col("v").as("v_b"))
        coldPairs.unionByName(star)
      }
    cands
      .withColumn("score", round(cosine(col("v_a"), col("v_b")), 6))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** Signature-bucket size report for [[cosineNearDupPairs]]'s
   *  hot-bucket guard: (sig, size, rep) for every LSH signature bucket
   *  larger than `minSize` — the observability hook for how degenerate
   *  the embedding space is (collapsed signatures = exact-duplicate or
   *  all-zero vectors upstream). One aggregate over (id, sig) pairs. */
  def signatureBucketStats(vectors: DataFrame, nPlanes: Int = 8,
      minSize: Int = Dedup.DefaultChainMaxBucket, idCol: String = "vec_id",
      vecCol: String = "embedding", portable: Boolean = true): DataFrame =
    vectors.select(col(idCol).as("id"),
        lshSignature(col(vecCol), nPlanes, portable).as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("size"), min(col("id")).as("rep"))
      .filter(col("size") > minSize)

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): drop all but one of every group of documents
   * whose EMBEDDINGS are cosine-near-duplicates — catches paraphrases
   * and re-renders that token-level MinHash misses. Candidate pairs come
   * from the LSH-blocked cosine join (a bucketed equi-join, never
   * all-pairs), components from the pointer-jumping label propagation in
   * [[Dedup.clusters]], and each component keeps its minimum id — a
   * deterministic representative, independent of partition layout.
   *
   * Returns every input row tagged with (`cluster`, `kept`): singletons
   * are their own cluster and always kept, so `filter(col("kept"))` is
   * the surviving corpus and the rest is the audit trail.
   *
   * Scale shape: signature map stage + one equi-join on the bucket key +
   * O(log diameter) long-key label rounds + one left join back. Vectors
   * never shuffle in the label rounds; only (id, label) longs do.
   *
   * As a CHAIN entry point this defaults `maxBucketSize` to the finite
   * [[graft.functions.Dedup.DefaultChainMaxBucket]] — the sf1-measured
   * production setting (uncapped candidate generation measured 41–94×
   * for 10× data on degenerate buckets; capped runs stayed at or below
   * linear, and the star sample keeps over-cap duplicate clusters
   * connected, see [[cosineNearDupPairs]]). Pass `Int.MaxValue`
   * explicitly for uncapped calibration/oracle runs.
   */
  def semanticDedup(vectors: DataFrame, threshold: Double = 0.99, nPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      portable: Boolean = true,
      maxBucketSize: Int = Dedup.DefaultChainMaxBucket): DataFrame = {
    val pairs = cosineNearDupPairs(vectors, threshold, nPlanes, idCol, vecCol,
      portable, maxBucketSize)
    // clustered ids are a small fraction of the corpus — AQE broadcasts
    // the label table when it fits, no forced hint
    val comp = Dedup.clusters(pairs).withColumnRenamed("id", idCol)
    vectors.join(comp, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
      .withColumn("kept", col("cluster") === col(idCol))
  }

  /**
   * Per-group mean embedding (class prototypes, domain centroids, the
   * recompute half of any k-means-style loop) via the native
   * [[expressions.VectorSumQ6]] aggregate: ONE keyed hash-aggregate whose
   * shuffle carries groups × dims longs — not the rows × dims exploded
   * tuples of the posexplode formulation. Returns
   * (`group`, `n`, `sum_q6` array<long>); the mean in micro-units is
   * `sum_q6 / n` and in natural units `sum_q6 / 1e6 / n` — left to the
   * caller so the exact integer form survives for cross-engine checks.
   */
  def labelCentroids(vectors: DataFrame, groupCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    vectors.groupBy(col(groupCol).as("group"))
      .agg(expressions.VectorAggregates.vecSumQ6(col(vecCol)).as("sum_q6"),
        count(col(vecCol)).as("n"))

  /**
   * Johnson-Lindenstrauss random projection to `k` dims — the standard
   * width reducer in front of ANN / clustering when 768-dim fp32 columns
   * dominate shuffle and index size (k ≈ O(log n / ε²) preserves pairwise
   * distances to 1±ε). The plane matrix is the SAME deterministic
   * generator the LSH signature uses — `lshSignature` IS the sign bit of
   * this projection — and outputs are integer micro-units
   * (`proj_q6` array<long>): each term quantized before an associative
   * long sum, so one map stage, bit-identical in any engine, no shuffle.
   */
  def projectVectors(vectors: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", portable: Boolean = true): DataFrame =
    vectors.select(col(idCol),
      expressions.VectorExpressions.randomProjectionQ6(col(vecCol), k, portable)
        .as("proj_q6"))

  /**
   * Nearest-centroid assignment — the inference half of
   * [[labelCentroids]] (classify by prototype, route new embeddings to
   * their cluster, audit drift after retraining). Centroid tables are
   * small by construction (one row per group), so this is a broadcast
   * nested-loop over the corpus with a per-row argmax — the corpus
   * never shuffles. Similarity is rounded to 6 dp BEFORE the argmax and
   * ties break on ascending centroid id, so the assignment is
   * deterministic and cross-engine reproducible (same contract as the
   * cosine-pair oracles).
   */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centIdCol: String = "group", centVecCol: String = "centroid"): DataFrame = {
    val v = vectors.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("nv", expressions.VectorExpressions.l2norm(col("v")))
    val c = centroids.select(col(centIdCol).as("_cid"), col(centVecCol).as("_cv"))
      .withColumn("nc", expressions.VectorExpressions.l2norm(col("_cv")))
    // the doc's "per-row argmax, the corpus never shuffles" promise,
    // now literally true in the plan: the (small by construction)
    // centroid table is collected once and unrolled into the
    // [[argmaxCentroid]] projection — the old formulation crossJoined
    // ×k and shuffled every row through a Window.partitionBy(vec_id)
    // rank (guide §2.4); 6-dp rounding before the argmax and
    // ascending-id tie-break are unchanged
    val cents = collectCentroidLits(c, "_cid", "_cv", "nc")
    if (cents.isEmpty)
      v.filter(lit(false)).select(col("vec_id"),
        lit(null).cast(centroids.schema(centIdCol).dataType).as("centroid_id"),
        lit(null).cast("double").as("sim"))
    else {
      val (bestId, bestSim) =
        argmaxCentroid(col("v"), col("nv"), cents, portable = true)
      v.select(col("vec_id"), bestId.as("centroid_id"), bestSim.as("sim"))
    }
  }
}
