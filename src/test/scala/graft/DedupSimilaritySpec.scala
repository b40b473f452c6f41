package graft

import graft.functions.{Dedup, Similarity, TextFunctions}
import org.apache.spark.sql.functions._

/** Dedup + similarity operators over the sf0.001 fixtures and synthetic
 *  controls. */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("exact dedup groups identical normalized text") {
    val d = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other doc"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(d).collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("copies") == 2).get
    assert(dup.getAs[Long]("doc_id") == 1L) // keeps lowest id
  }

  test("ngram jaccard finds the planted near-dup pairs; minhash-LSH agrees") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.8, Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val lsh = Dedup.minhashLshPairs(docs, 3, 64, 16, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact) // recall 1 on this corpus, verification exact
  }

  test("ngram jaccard is symmetric-free and thresholded") {
    val out = Dedup.ngramJaccardPairs(docs, 3, 0.8, Int.MaxValue).collect()
    assert(out.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(out.forall(_.getAs[Double]("jaccard") >= 0.8))
  }

  test("shingle cap: over-cap shingles degrade to an exactly-verified " +
    "min-id star — capped pairs are true pairs and drop the same docs") {
    // with maxShingleFreq=1 every shared shingle is over the cap, so all
    // candidates come from the star sample; each is verified with the
    // exact SET Jaccard, so capped output ⊆ exact output tuple-for-tuple
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.8, Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    val capped = Dedup.ngramJaccardPairs(docs, 3, 0.8, 1)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped.nonEmpty && capped.subsetOf(exact))
    // a keep-min dedup pass removes the same documents either way (the
    // star anchors every near-dup group at its min id)
    def dropped(p: Set[(Long, Long, Double)]) = p.map(_._2)
    assert(dropped(capped) == dropped(exact))
  }

  test("simhash: identical docs distance 0; near-dups within 3 bits") {
    val d = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content about spark engines")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(d, 3).collect()
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 1 && r.getAs[Long]("id_b") == 2 &&
      r.getAs[Number]("dist").longValue == 0))
    assert(!pairs.exists(r => r.getAs[Long]("id_b") == 3))
  }

  test("cosine: self-similarity 1, orthogonal 0") {
    val v = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 2.0f)),
      (3L, Array(2.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.bruteForcePairs(v, -1.0).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("score"))).toMap
    assert(pairs((1L, 3L)) == 1.0)
    assert(pairs((1L, 2L)) == 0.0)
  }

  test("brute-force top-k returns k ranked neighbors per query") {
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 5)
    val byQ = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.length == 5)
      val ranked = rows.sortBy(_.getAs[Int]("rank"))
      assert(ranked.map(_.getAs[Double]("score")).toSeq ==
        ranked.map(_.getAs[Double]("score")).sortBy(-(_: Double)).toSeq)
    }
  }

  test("LSH top-k scores are a subset of brute-force scores (approximation sound)") {
    val bf = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), 10)
      .select("query_id", "vec_id", "score").as[(Long, Long, Double)].collect().toSet
    val lsh = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 3), 10, nPlanes = 4)
      .select("query_id", "vec_id", "score").collect()
    // every LSH hit must carry the exact brute-force score for that pair
    val bfScores = bf.map { case (q, v, s) => (q, v) -> s }.toMap
    assert(lsh.forall { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      !bfScores.contains(key) || bfScores(key) == r.getAs[Double]("score")
    })
  }

  test("IVF top-k: exact scores, bounded probe set, high recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 3)
    val bf = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "vec_id", "score").as[(Long, Long, Double)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, 10, nLists = 8, nProbes = 8)
      .select("query_id", "vec_id", "score").as[(Long, Long, Double)].collect().toSet
    // nProbes == nLists → scans everything → must equal brute force
    assert(ivf == bf)
    val ivfPartial = Similarity.ivfTopK(emb, queries, 10, nLists = 8, nProbes = 2)
      .select("query_id", "vec_id", "score").as[(Long, Long, Double)].collect().toSet
    // partial probing returns a subset with exact scores
    val bfScores = bf.map { case (q, v, s) => (q, v) -> s }.toMap
    assert(ivfPartial.forall { case (q, v, s) =>
      !bfScores.contains((q, v)) || bfScores((q, v)) == s })
    assert(ivfPartial.nonEmpty)
  }

  test("IVF plan has no single-partition window (scale guard)") {
    // logical plan, not executedPlan: AQE wraps the physical plan in an
    // AdaptiveSparkPlanExec leaf that hides WindowExec from collect()
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val plan = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 3), 10,
      nLists = 8, nProbes = 2).queryExecution.optimizedPlan
    val global = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty, s"global windows found:\n${global.mkString("\n")}")
  }

  test("trained k-means IVF: exact scores, high recall on clustered data") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // 4 well-separated clusters in 8 dims, 20 vectors each
    val bases = Array.tabulate(4, 8)((c, d) => if (d % 4 == c) 10.0f else 0.0f)
    val vecs = (0 until 80).map { i =>
      val b = bases(i % 4)
      (i.toLong, b.map(x => x + rng.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 4) // one query per cluster
    val bf = Similarity.bruteForceTopK(vecs, queries, 5)
      .select("query_id", "vec_id", "score").as[(Long, Long, Double)].collect().toSet
    val trained = Similarity.ivfTopKTrained(vecs, queries, 5, nLists = 4,
      nProbes = 1, trainIters = 2)
      .select("query_id", "vec_id", "score").as[(Long, Long, Double)].collect().toSet
    // every hit carries the exact brute-force score
    val bfScores = bf.map { case (q, v, s) => (q, v) -> s }.toMap
    assert(trained.forall { case (q, v, s) =>
      !bfScores.contains((q, v)) || bfScores((q, v)) == s })
    // clustered data + trained centroids: 1 probe of 4 lists recovers
    // (nearly) everything — far better than 1/4 of the corpus scanned
    val recall = trained.count(bf.contains).toDouble / bf.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("LSH-blocked cosine near-dup pairs are a sound subset of brute force") {
    val bf = Similarity.bruteForcePairs(emb, 0.3)
      .select("id_a", "id_b", "score").as[(Long, Long, Double)].collect().toSet
    val lsh = Similarity.cosineNearDupPairs(emb, 0.3, nPlanes = 4)
      .select("id_a", "id_b", "score").as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(bf)) // blocking may miss pairs, never invent them
  }

  test("cleanCorpus pipeline: language filter, quality floor, dedup keep-min") {
    import graft.functions.Pipeline
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog of a house sat in the garden for a while and it was good"),
      (2L, "the cat and the dog of a house sat in the garden for a while and it was good"), // dup of 1
      (3L, "der hund und die katze ist nicht da und das ist gut so mit von zu"), // german
      (4L, "zzz qqq")) // junk, low quality
      .toDF("doc_id", "text")
    val out = Pipeline.cleanCorpus(docs, lang = "en", minQuality = 0.3).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("doc_id") == 1L) // keep-min of the dup pair
    assert(out.head.getAs[Long]("dups") == 2L)
  }

  test("language id picks the language with most stopword hits") {
    val d = Seq((1L, "the cat and the dog of a house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "le chat est dans la maison pour les amis"),
      (4L, "xyzzy qwerty")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "fr" && out(4L) == "und")
  }

  test("quality score is in [0,1] and penalizes junk") {
    val d = Seq((1L, "the project is a well formed document with normal words and it is fine for training data"),
      (2L, "@@@@ #### !!!! 1234 5678 ---- ????")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    assert(out.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(out(1L) > out(2L))
  }

  test("custom expressions are registered for raw SQL (S7)") {
    graft.functions.Registry.registerAll(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
        |  vec_l2norm(array(3.0D, 4.0D)) AS n,
        |  size(minhash_sig(array('a b c', 'b c d'), 64)) AS k,
        |  word_shingles(array('a', 'b', 'c', 'b', 'c'), 2) AS sh,
        |  simhash64(array('spark', 'engine')) AS h""".stripMargin).collect().head
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Double]("n") == 5.0)
    assert(r.getAs[Int]("k") == 64)
    assert(r.getSeq[String](r.fieldIndex("sh")).toList == List("a b", "b c", "c b", "b c"))
    assert(r.getAs[Long]("h") != 0L)
    // the round-4 additions: projection (scalar), vector-sum (aggregate),
    // NFC normalization
    val r2 = spark.sql(
      """SELECT size(random_projection_q6(array(1.0F, 2.0F), 4)) AS k,
        |  vec_sum_q6(v) AS s
        |FROM VALUES (array(1.0F, 2.0F)), (array(0.5F, -1.0F)) t(v)""".stripMargin)
      .collect().head
    assert(r2.getAs[Int]("k") == 4)
    assert(r2.getSeq[Long](r2.fieldIndex("s")).toList == List(1500000L, 1000000L))
    val r3 = spark.sql("SELECT nfc_normalize('cafe\u0301') AS n").collect().head
    assert(r3.getAs[String]("n") == "caf\u00e9")
  }

  test("rolling hash is order-sensitive") {
    val d = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextFunctions.rollingHash(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(3L))
    assert(out(1L) != out(2L))
  }

  test("persistent IVF index: build once, probe with list-partition pruning") {
    import graft.functions.Similarity
    val path = graft.Fixtures.newDir("graft_ivf").toFile.getAbsolutePath
    Similarity.buildIvfIndex(emb, path, nLists = 8, trainIters = 2)
    // index layout: tiny centroid table + per-list partitions
    assert(new java.io.File(s"$path/lists").listFiles()
      .count(_.getName.startsWith("list_id=")) > 1)
    val queries = emb.filter(col("vec_id") < 5)
    // full probe over the loaded index ≡ brute force (exact scoring)
    val full = Similarity.queryIvfIndex(spark, path, queries, k = 10, nProbes = 8)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(full == brute)
    // partial probe: bounded result, and the scan is pruned to the probed
    // list partitions (enforced in-plan by the isin partition filter)
    val part = Similarity.queryIvfIndex(spark, path, queries, k = 10, nProbes = 2)
    assert(part.count() > 0 && part.count() <= 50)
    // QUANTIZED probe (IVFADC): full probe + wide refine ≡ brute force —
    // exact scores after the fp32 rerank, int8 ranking only gates entry
    val quant = Similarity.queryIvfIndexQuantized(spark, path, queries,
      k = 10, nProbes = 8, refine = 8)
      .select("query_id", "vec_id", "score")
      .as[(Long, Long, Double)].collect().toSet
    val bruteScored = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "vec_id", "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(quant == bruteScored)
    // the approximate phase's parquet scan reads ONLY the int8 columns —
    // fp32 cv must be pruned (4× narrower probe I/O by layout)
    val approxScan = spark.read.parquet(s"$path/lists")
      .select(col("list_id"), col("vec_id"), col("q8"), col("nq8"))
    val scanLine = approxScan.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).get
    assert(scanLine.contains("q8") && !scanLine.contains("cv"), scanLine)
  }

  test("int8 quantization: bounded error, zero-vector safe, 4x narrower") {
    import graft.functions.Similarity.{quantizeInt8, dequantize}
    val v = Seq((1L, Array(0.5f, -1.27f, 0.0f, 1.27f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = v.select(col("vec_id"), quantizeInt8(col("embedding")).as("qt"),
      dequantize(quantizeInt8(col("embedding"))).as("back"), col("embedding"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    val r1 = out(1L)
    val scale = r1.getStruct(1).getAs[Double]("scale")
    val q = r1.getStruct(1).getSeq[Int](1)
    assert(math.abs(scale - 1.27 / 127.0) < 1e-9)
    assert(q == Seq(50, -127, 0, 127)) // extremes map to ±127 exactly
    // dequantized error ≤ scale/2 per element
    val orig = r1.getSeq[Float](3)
    val back = r1.getSeq[Double](2)
    assert(orig.zip(back).forall { case (o, b) => math.abs(o - b) <= scale / 2 + 1e-12 })
    // zero vector: scale 0, all-zero q (no division by zero)
    assert(out(2L).getStruct(1).getAs[Double]("scale") == 0.0)
  }

  test("stripHtml and redactPii: markup gone, typed placeholders, order fixed") {
    val in = Seq(
      "<p>Hi &amp; <b>bye</b></p><script>evil()</script>",
      "mail a.b+c@ex.co, phone +47 22 33 44 55, ip 10.0.0.7, card 4111 1111 1111 1111",
      "&amp;lt; stays entity-encoded once") // amp decoded LAST → no double decode
      .toDF("text")
    val out = in.select(
      TextFunctions.redactPii(TextFunctions.stripHtml(col("text"))).as("c"))
      .as[String].collect()
    assert(out(0) == "Hi & bye")
    assert(out(1) == "mail <EMAIL>, phone <PHONE>, ip <IP>, card <CARD>")
    assert(out(2) == "&lt; stays entity-encoded once")
  }

  test("near-dup clusters: min-label propagation = connected components") {
    // chain 1-2-3 (diameter 2), pair 7-8, plus a long chain 10..19
    // (diameter 9 — forces multiple propagation rounds to fixpoint)
    val pairs = (Seq((1L, 2L), (2L, 3L), (7L, 8L)) ++
      (10L until 19L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val out = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).forall(out(_) == 1L))
    assert(out(7L) == 7L && out(8L) == 7L)
    assert((10L to 19L).forall(out(_) == 10L))
    assert(out.size == 15)
    // pointer jumping: a 200-node chain (diameter 199) must converge well
    // inside the default iteration cap — plain propagation would need 199
    // rounds and silently stop at the cap with wrong labels
    val chain = (100L until 299L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val longOut = Dedup.clusters(chain).as[(Long, Long)].collect().toMap
    assert((100L to 299L).forall(longOut(_) == 100L))
  }

  test("hash sampling is deterministic and exact across plans") {
    import graft.functions.Sampling
    val d = docs.select(col("doc_id"), col("source"))
    // Bernoulli: same rows on every run, rate in a sane band
    val s1 = Sampling.sampleByHash(d, "doc_id", 0.3).as[(Long, String)].collect().toSet
    val s2 = Sampling.sampleByHash(d, "doc_id", 0.3).as[(Long, String)].collect().toSet
    assert(s1 == s2 && s1.nonEmpty && s1.size < d.count())
    // capPerGroup (two-phase) ≡ the naive full-window formulation
    import org.apache.spark.sql.expressions.Window
    val u = Sampling.portableUniform(col("doc_id"))
    val w = Window.partitionBy(col("source")).orderBy(u, col("doc_id"))
    val naive = d.withColumn("_r", row_number().over(w)).filter(col("_r") <= 3)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    val twoPhase = Sampling.capPerGroup(d, "source", "doc_id", n = 3)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    assert(twoPhase == naive)
    // undershooting pre-filter (safety < 1) must fall back to exact
    val forced = Sampling.capPerGroup(d, "source", "doc_id", n = 3, safety = 0.01)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    assert(forced == naive)
    // hashSplit: total partition, stable, roughly proportional
    val split = Sampling.hashSplit(d, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    val total = split.values.sum
    assert(total == d.count() && split.keySet == Set("train", "val", "test"))
    assert(split("train") > split("val") && split("train") > split("test"))
    // mixture is monotone: raising a rate only ADDS rows
    val lo = Sampling.mixtureByGroup(d, "source", "doc_id", Map.empty, 0.2)
      .as[(Long, String)].collect().toSet
    val hi = Sampling.mixtureByGroup(d, "source", "doc_id", Map.empty, 0.5)
      .as[(Long, String)].collect().toSet
    assert(lo.subsetOf(hi) && lo.nonEmpty && hi.size > lo.size)
  }

  test("winnowing catches containment that whole-doc similarity misses") {
    import graft.functions.Dedup
    // doc 2 embeds a 12-token span of doc 1 inside otherwise-unrelated
    // text: Jaccard over the whole docs is far below any dedup
    // threshold, but winnowing (k=4, w=4: any shared run of >= 7 tokens
    // guarantees a shared fingerprint) must flag the pair
    val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = Seq(
      (1L, s"one two three four five six seven $span eight nine ten"),
      (2L, s"completely different text about spark plans $span and more words here"),
      (3L, "nothing shared with anything else at all in this document text")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(d, k = 4, w = 4, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && !pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // whole-document Jaccard misses it at any dedup-grade threshold
    assert(Dedup.ngramJaccardPairs(d, 3, 0.8, Int.MaxValue).count() == 0)
    // portable and xxhash64 modes agree on the pair set
    val fast = Dedup.winnowPairs(d, k = 4, w = 4, minShared = 1, portable = false)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fast == pairs)
    // the fingerprint-frequency cap keeps the containment pair flowing
    // through the min-id star (rep of every hot fp is doc 1)
    assert(Dedup.winnowPairs(d, k = 4, w = 4, minShared = 1, maxFpFreq = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet == pairs)
    // edges: w=1 selects every distinct k-gram hash; fewer k-grams than
    // the window selects exactly the single global minimum
    import graft.functions.expressions.VectorExpressions.winnow
    val tiny = Seq(("a b c d e f")).toDF("text")
      .select(winnow(TextFunctions.shingles(col("text"), 4), w = 1).as("w1"),
        winnow(TextFunctions.shingles(col("text"), 4), w = 9).as("w9"),
        TextFunctions.shingles(col("text"), 4).as("g"))
      .collect().head
    def seq[T](name: String) = tiny.getAs[scala.collection.Seq[T]](name)
    assert(seq[Long]("w1").size == seq[String]("g").size)
    assert(seq[Long]("w9").size == 1)
    assert(seq[Long]("w1").contains(seq[Long]("w9").head))
  }

  test("cross-document line dedup drops hot lines, preserves order and blanks") {
    import graft.functions.Pipeline
    val d = Seq(
      (1L, "unique one\nCOOKIE BANNER\nbody a"),
      (2L, "COOKIE BANNER\nbody b\n\ntail b"),
      (3L, "COOKIE BANNER\nbody c"),
      (4L, "solo doc")
    ).toDF("doc_id", "text")
    // banner occurs 3× > maxOccurrences=2 → dropped everywhere; blank
    // line in doc 2 survives; order preserved
    val out = Pipeline.dedupLines(d, maxOccurrences = 2)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "unique one\nbody a")
    assert(out(2L) == "body b\n\ntail b")
    assert(out(3L) == "body c")
    assert(out(4L) == "solo doc")
    // at maxOccurrences=3 the banner survives intact
    val lax = Pipeline.dedupLines(d, maxOccurrences = 3)
      .as[(Long, String)].collect().toMap
    assert(lax(3L) == "COOKIE BANNER\nbody c")
  }

  test("chunking: stride windows, short tail, overlap, empty doc skipped") {
    import graft.functions.Pipeline
    val d = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "!!!"))
      .toDF("doc_id", "text")
    // maxTokens=4 overlap=1 → stride 3 → starts 0,3,6,9
    val out = Pipeline.chunkDocuments(d, maxTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "chunk_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 0L, 4L), (1L, 1L, 4L), (1L, 2L, 4L), (1L, 3L, 1L)))
    // overlap: last token of chunk 0 is first of chunk 1 (fp differs,
    // but every token is covered: Σ chunk_tokens = n + overlaps·(chunks-1))
    assert(out.filter(_._1 == 1L).map(_._3).sum == 10 + 1 * 3)
  }

  test("vocab: deterministic ranked ids, OOV mapping, positional checksum") {
    import graft.functions.Vocab
    val d = Seq(
      (1L, "aa bb aa cc"),   // corpus counts: aa:3, bb:3, cc:1, zz:1
      (2L, "bb aa bb zz")    // aa/bb tie at 3 → text order: aa=0, bb=1
    ).toDF("doc_id", "text")
    val vocab = Vocab.build(d, size = 3).as[(String, Int)].collect().toMap
    assert(vocab == Map("aa" -> 0, "bb" -> 1, "cc" -> 2)) // zz loses the tie
    val enc = Vocab.encode(d, Vocab.build(d, 3), oovId = 3)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1: ids (aa,bb,aa,cc) = 0,1,0,2 → checksum 1·0+2·1+3·0+4·2 = 10
    assert(enc(1L) == ((1L, 4L, 0L, 10L)))
    // doc 2: ids (bb,aa,bb,zz=OOV 3) → 1·1+2·0+3·1+4·3 = 16, one OOV
    assert(enc(2L) == ((2L, 4L, 1L, 16L)))
  }

  test("repetition signals: duplicate lines/words/3-grams are fractioned") {
    val d = Seq(
      (1L, "buy now\nbuy now\nbuy now"),        // all lines identical
      (2L, "alpha beta gamma\ndelta epsilon"),   // no repetition
      (3L, "spam spam spam spam"),               // one word repeated
      (4L, ""),                                  // empty → all zeros
      (5L, "a b c a b c a b c")                  // repeated 3-gram loop
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextFunctions.repetitionSignals(col("text")).as("r"))
      .select(col("doc_id"), col("r.dup_line_frac"), col("r.dup_word_frac"),
        col("r.dup_3gram_frac"))
      .as[(Long, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 2.0 / 3)          // 3 lines, 1 distinct
    assert(out(2L)._2 == 0.0 && out(2L)._3 == 0.0 && out(2L)._4 == 0.0)
    assert(out(3L)._3 == 3.0 / 4)          // 4 tokens, 1 distinct
    assert(out(4L)._2 == 0.0 && out(4L)._3 == 0.0 && out(4L)._4 == 0.0)
    assert(out(5L)._4 == 4.0 / 7)          // 7 3-grams, 3 distinct
    // the fused native pass ≡ the declarative split/filter/distinct
    // formula, bit-for-bit, over the real corpus (incl. tab/space edges)
    def declarative(text: org.apache.spark.sql.Column) = {
      def dupFrac(arr: org.apache.spark.sql.Column) =
        when(size(arr) > 0,
          (size(arr) - size(array_distinct(arr))).cast("double") / size(arr))
          .otherwise(lit(0.0))
      struct(
        dupFrac(TextFunctions.lines(text)).as("dup_line_frac"),
        dupFrac(TextFunctions.tokens(text)).as("dup_word_frac"),
        dupFrac(TextFunctions.shingles(text, 3)).as("dup_3gram_frac"))
    }
    val edge = Seq((90L, "x\t\n\t\nx"), (91L, "  \n a\ta \n A  a"),
      (92L, "Ünïcode STRAßE straße\nünïcode straße")).toDF("doc_id", "text")
    val both = docs.select(col("doc_id"), col("text")).unionByName(edge)
      .select(col("doc_id"),
        TextFunctions.repetitionSignals(col("text")).as("f"),
        declarative(col("text")).as("d"))
    assert(both.filter(col("f") =!= col("d")).count() == 0)
  }

  test("decontamination flags n-gram overlap with a benchmark set") {
    import graft.functions.Decontaminate
    val bench = Seq((100L, "the capital of france is paris")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "everyone knows the capital of france is paris obviously"), // contaminated
      (2L, "a completely unrelated document about spark plans"),       // clean
      (3L, "the capital of france is paris the capital of france is paris") // dup grams count once
    ).toDF("doc_id", "text")
    val hits = Decontaminate.flagContaminated(corpus, bench, n = 5)
      .as[(Long, Long)].collect().toMap
    assert(!hits.contains(2L))
    // doc 1 contains the benchmark's two 5-grams ("the capital of france is",
    // "capital of france is paris")
    assert(hits(1L) == 2L)
    // doc 3 repeats them — distinct grams still count once each
    assert(hits(3L) == 2L)
    // portable and xxhash64 key modes agree on WHICH docs are flagged
    val fast = Decontaminate.flagContaminated(corpus, bench, n = 5, portable = false)
      .as[(Long, Long)].collect().toMap
    assert(fast == hits)
    // cleanCorpus is the exact complement
    val clean = Decontaminate.cleanCorpus(corpus, bench, n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L))
    // plan guard: the corpus side reaches the benchmark keys through a
    // broadcast LEFT SEMI join — corpus text is never shuffled
    val flagged = Decontaminate.flagContaminated(docs, docs.limit(3), n = 5)
    flagged.count()
    val plan = flagged.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
  }

  test("sequence packing: budget-sized cuts, deterministic, total-preserving") {
    import graft.functions.Sampling
    val d = docs.select(col("doc_id"), col("text"))
    val packed = Sampling.packSequences(d, "doc_id",
      TextFunctions.tokenCount(col("text")), budget = 512, nBuckets = 8)
    val rows = packed.as[(Long, Long, Long, Long, Long)].collect()
    // total partition: every doc assigned exactly once
    assert(rows.length == d.count())
    assert(rows.map(_._2).toSet.subsetOf((0L until 8L).toSet))
    // offsets bounded by the budget
    assert(rows.forall(r => r._4 >= 0 && r._4 < 512))
    // determinism across plans (repartition must not change the packing)
    val again = Sampling.packSequences(d.repartition(13), "doc_id",
      TextFunctions.tokenCount(col("text")), budget = 512, nBuckets = 8)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(again.toSet == rows.toSet)
    // within a bucket the chop starts at 0 and can't outrun the token
    // stream (a doc longer than the budget may skip ids — it OWNS them)
    rows.groupBy(_._2).foreach { case (_, rs) =>
      val ids = rs.map(_._3)
      assert(ids.min == 0L && ids.max <= rs.map(_._5).sum / 512)
    }
  }

  test("prepareTrainingData: full chain end-to-end, stage invariants hold") {
    import graft.functions.Pipeline
    val bench = docs.filter($"doc_id" % 10 === 0)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)

    // curated-documents mode
    val curated = Pipeline.prepareTrainingData(corpus, Some(bench),
      minQuality = 0.0, packBudget = 0)
    val rows = curated.collect()
    assert(rows.nonEmpty)
    assert(curated.columns.toSeq == Seq("doc_id", "text"))
    val inIds = corpus.select("doc_id").as[Long].collect().toSet
    assert(rows.forall(r => inIds.contains(r.getLong(0))))
    assert(rows.forall(_.getString(1).nonEmpty))
    // decontamination really bound: a benchmark doc's 5-gram can't survive
    val survivors = rows.map(_.getLong(0)).toSet
    val flagged = graft.functions.Decontaminate.flagContaminated(
      curated, bench).select("doc_id").as[Long].collect().toSet
    assert(flagged.isEmpty)

    // packed mode: total tokens preserved from the curated set
    val packed = Pipeline.prepareTrainingData(corpus, Some(bench),
      minQuality = 0.0, packBudget = 256)
    val totTokens = curated
      .agg(sum(graft.functions.TextFunctions.tokenCount($"text")))
      .as[Long].head()
    val packedTokens = packed.agg(sum("n_tokens")).as[Long].head()
    assert(packedTokens == totTokens)
  }

  test("tf-idf top terms: hand-computed ranks, deterministic tie-break") {
    import graft.functions.Pipeline
    val d = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date")).toDF("doc_id", "text")
    val out = Pipeline.topTfidfTerms(d, topK = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3), r.getLong(4)))
      .toMap
    def q6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    // N=3; df: apple 1, banana 2, cherry 2, date 1
    assert(out((1L, 1L)) == ("apple", 2L, q6(2 * math.log(3.0))))
    assert(out((1L, 2L)) == ("banana", 1L, q6(math.log(1.5))))
    assert(out((3L, 1L)) == ("cherry", 3L, q6(3 * math.log(1.5))))
    assert(out((3L, 2L)) == ("date", 1L, q6(math.log(3.0))))
    // doc 2: banana and cherry tie on score (tf=1, df=2) -> term asc
    assert(out((2L, 1L))._1 == "banana" && out((2L, 2L))._1 == "cherry")
  }

  test("approx corpus stats: sketch within tolerance, one shuffle vs two") {
    import graft.functions.Pipeline
    val exact = Pipeline.corpusStats(docs).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val approx = Pipeline.corpusStatsApprox(docs, rsd = 0.05).collect()
      .map(r => (r.getString(0), r.getLong(4), r.getSeq[Int](5))).toList
    approx.foreach { case (src, nApprox, pcts) =>
      val nExact = exact(src)
      assert(math.abs(nApprox - nExact).toDouble / nExact <= 0.2,
        s"$src: approx $nApprox vs exact $nExact")
      assert(pcts.length == 2 && pcts(0) <= pcts(1), s"$src: p50/p95 $pcts")
    }
    // the scale claim: HLL keeps the report at ONE exchange; exact
    // distinct pays a second, data-width one
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val sa = graft.store.Bucketing.shuffleCount(Pipeline.corpusStatsApprox(docs))
      val se = graft.store.Bucketing.shuffleCount(Pipeline.corpusStats(docs))
      assert(sa == 1, s"approx stats should shuffle once, got $sa")
      assert(se > sa, s"exact distinct should shuffle more ($se vs $sa)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("duplicate spans: exact extent of a copied run; within-doc repeats count") {
    // doc 1: unique prefix (10 tokens) + shared run (25 tokens) + unique tail
    val shared = (1 to 25).map(i => s"s$i").mkString(" ")
    def uniq(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val d = Seq(
      (1L, uniq("a", 10) + " " + shared + " " + uniq("b", 10)),
      (2L, uniq("c", 5) + " " + shared + " " + uniq("d", 30)),
      // doc 3 repeats its own 20-token block twice back-to-back
      (3L, uniq("e", 4) + " " + uniq("r", 20) + " " + uniq("r", 20)),
      (4L, uniq("z", 40))).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, w = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc 1: windows 10..15 hit -> span [10, 34] = the 25 shared tokens
    // doc 2: windows 5..10 hit  -> span [5, 29]
    // doc 3: windows 4..24 all equal-shifted copies... only the EXACT
    //   window "r1..r20" occurs twice (positions 4 and 24) -> islands
    //   merge (gap 20 <= w) -> span [4, 43]
    assert(spans.contains((1L, 10L, 34L, 25L)))
    assert(spans.contains((2L, 5L, 29L, 25L)))
    assert(spans.contains((3L, 4L, 43L, 40L)))
    assert(!spans.exists(_._1 == 4L))
    // x64 mode agrees
    val x = Dedup.duplicateSpans(d, w = 20, portable = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(x == spans)

    // detect→cut: flagged ranges removed, untouched doc intact, the
    // fully-duplicated middle of doc 3 gone
    val cut = Dedup.cutSpans(d, Dedup.duplicateSpans(d, w = 20))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut(1L) == (uniq("a", 10) + " " + uniq("b", 10)))
    assert(cut(2L) == (uniq("c", 5) + " " + uniq("d", 30)))
    assert(cut(3L) == uniq("e", 4))
    assert(cut(4L) == uniq("z", 40))
  }

  test("incremental minhash index: batch-vs-index pairs = cross-set exact pairs") {
    val root = graft.Fixtures.newDir("mhidx").toString
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    Dedup.buildMinhashIndex(corpus, root)

    val got = Dedup.queryMinhashIndex(spark, batch, root)
      .select("id_new", "id_idx").as[(Long, Long)].collect().toSet
    // ground truth: exact all-pairs restricted to (batch, corpus)
    val all = Dedup.ngramJaccardPairs(docs, 3, 0.8, Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val expected = all.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (n, i) => n % 10 == 0 && i % 10 != 0 }.toSet
    assert(got == expected)
  }

  test("minhash index rejects parameter-mismatched append and query") {
    val root = graft.Fixtures.newDir("mhidx3").toString
    val d = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    Dedup.buildMinhashIndex(d, root, n = 3, k = 64, bands = 16)
    intercept[IllegalArgumentException] {
      Dedup.buildMinhashIndex(d, root, n = 3, k = 64, bands = 8, append = true)
    }
    intercept[IllegalArgumentException] {
      Dedup.queryMinhashIndex(spark, d, root, n = 4)
    }
    // matching parameters pass
    Dedup.buildMinhashIndex(d, root, append = true)
  }

  test("duplicate spans: property vs brute-force reference on random corpora") {
    import org.scalacheck.{Gen, Prop}
    val w = 3
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
    val corpus = Gen.chooseNum(2, 5).flatMap(n => Gen.listOfN(n, doc))
    checkProp(Prop.forAll(corpus) { ds =>
      val df = ds.zipWithIndex
        .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Dedup.duplicateSpans(df, w = w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList

      // brute force: count every w-gram corpus-wide, mark positions whose
      // w-gram occurs ≥ 2 times, merge intervals gapped ≤ w
      val grams = ds.zipWithIndex.flatMap { case (toks, i) =>
        toks.sliding(w).filter(_.size == w).zipWithIndex
          .map { case (g, p) => (i.toLong, p, g.mkString(" ")) }
      }
      val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
      val expected = grams.filter(g => counts(g._3) >= 2)
        .groupBy(_._1).toList.flatMap { case (id, hits) =>
          val ps = hits.map(_._2).sorted
          val islands = ps.foldLeft(List.empty[List[Int]]) {
            case (acc, p) if acc.nonEmpty && p - acc.head.head <= w =>
              (p :: acc.head) :: acc.tail
            case (acc, p) => List(p) :: acc
          }
          islands.map(is => (id, is.min.toLong, (is.max + w - 1).toLong))
        }
      got.toSet == expected.toSet
    }, minTests = 60)
  }

  test("dedupAgainstIndex drops matching batch docs and can index survivors") {
    val root = graft.Fixtures.newDir("mhidx2").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely unrelated corpus content about spark physical plans"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "fresh never seen text about columnar shuffles and bucketing"))
      .toDF("doc_id", "text")
    Dedup.buildMinhashIndex(corpus, root)
    val clean = Dedup.dedupAgainstIndex(spark, batch, root,
      indexSurvivors = true)
    assert(clean.select("doc_id").as[Long].collect().toSet == Set(11L))
    // survivor was appended: a re-send of the same doc now hits the index
    val again = Seq(
      (20L, "fresh never seen text about columnar shuffles and bucketing"))
      .toDF("doc_id", "text")
    val hits = Dedup.queryMinhashIndex(spark, again, root)
      .select("id_idx").as[Long].collect().toSet
    assert(hits == Set(11L))
  }

  test("compactMinhashIndex folds per-batch appends into few files; " +
    "queries unchanged, appends still work") {
    val root = graft.Fixtures.newDir("mhidx4").toString
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    // simulate a stream's history: one append per "micro-batch"
    (0 until 5).foreach { b =>
      Dedup.buildMinhashIndex(corpus.filter($"doc_id" % 5 === b), root,
        append = b > 0)
    }
    val before = Dedup.queryMinhashIndex(spark, batch, root)
      .select("id_new", "id_idx").as[(Long, Long)].collect().toSet
    assert(before.nonEmpty)

    val (nBefore, nAfter) = Dedup.compactMinhashIndex(spark, root)
    assert(nBefore > nAfter && nAfter == 2, // 1 file per table at this size
      s"expected a real fold, got $nBefore -> $nAfter")
    val after = Dedup.queryMinhashIndex(spark, batch, root)
      .select("id_new", "id_idx").as[(Long, Long)].collect().toSet
    assert(after == before, "compaction changed query results")

    // appends after compaction keep working (meta + layout intact)
    Dedup.buildMinhashIndex(
      Seq((9001L, "fresh post-compaction doc about shuffle-free appends"))
        .toDF("doc_id", "text"), root, append = true)
    val again = Dedup.queryMinhashIndex(spark,
      Seq((9002L, "fresh post-compaction doc about shuffle-free appends"))
        .toDF("doc_id", "text"), root)
      .select("id_idx").as[Long].collect().toSet
    assert(again == Set(9001L))
  }
}
