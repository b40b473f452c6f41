package graft

import scala.jdk.CollectionConverters._

import graft.functions.Similarity
import graft.functions.expressions.{VectorAggregates, VectorExpressions}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Round-17 optimization pins:
 *  - the one nearest-centroid kernel ([[graft.functions.expressions
 *    .CentroidTopK]]) answers exactly what the original crossJoin +
 *    `row_number` formulation answers — same assignments, same scores
 *    (portable rounding included), same tie-breaks (duplicate centroids,
 *    zero norms, zero and null vectors), over ragged and empty centroid
 *    tables and at k = 64;
 *  - streamingIvfAppend refuses a degenerate index whose centroids
 *    parquet exists but holds zero rows (ADVICE-r16: a length-only FS
 *    check would accept it and silently drop every streamed vector),
 *    and names the file when a centroids parquet is unreadable;
 *  - CentroidTopK ranks NaN and signed-zero scores in array_max's order;
 *  - the collected-centroid cache is a bounded LRU, not a clear-at-64 map.
 */
class Round17Spec extends SparkSpec {

  private def vecRows(n: Int, dims: Int, seed: Int): Seq[(Long, Array[Float])] =
    (0 until n).map { i =>
      val v =
        if (i == 3) Array.fill(dims)(0.0f) // zero vector: the norm guard
        else Array.tabulate(dims)(j =>
          (((i * 31 + j * 17 + seed * 11) % 97) / 97.0f) - 0.5f)
      (i.toLong, v)
    }

  private def vecs(n: Int, dims: Int, seed: Int): DataFrame = {
    val rows = vecRows(n, dims, seed).map { case (id, v) => Row(id, v) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false),
          nullable = false))))
  }

  private def mk(dims: Int, seed: Int): Array[Float] =
    Array.tabulate(dims)(j => (((seed * 13 + j * 7) % 89) / 89.0f) - 0.5f)

  /** centroids with a deliberate tie (id 4 duplicates id 1's vector)
   *  and a zero centroid (id 3) — the knife edges of the argmax. */
  private def tieCents(dims: Int): DataFrame = {
    def mk(seed: Int) = this.mk(dims, seed)
    val rows = Seq(
      Row(0L, mk(1)), Row(1L, mk(2)), Row(2L, mk(3)),
      Row(3L, Array.fill(dims)(0.0f)),
      Row(4L, mk(2)), // identical to id 1 — smaller id must win the tie
      Row(5L, mk(4)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("group", LongType, nullable = false),
        StructField("centroid", ArrayType(FloatType, containsNull = false),
          nullable = false))))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** The original nearest-centroid search: every row of `rows`
   *  (rid, v) crossJoined with every centroid of `cents` (cid, c), ranked
   *  per row by (score desc, cid asc); the first `n` survive as
   *  (rid, cid, score). `portable` rounds the cosine to 6 dp before the
   *  ranking. */
  private def refNearest(rows: DataFrame, cents: DataFrame, n: Int,
      portable: Boolean): DataFrame = {
    val cos = Similarity.cosine(col("v"), col("c"))
    val w = Window.partitionBy(col("rid")).orderBy(col("score").desc, col("cid").asc)
    rows.crossJoin(cents)
      .withColumn("score", if (portable) round(cos, 6) else cos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n).select("rid", "cid", "score")
  }

  private def asRows(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("rid"), col("embedding").as("v"))

  private def asCents(df: DataFrame): DataFrame =
    df.select(col("group").as("cid"), col("centroid").as("c"))

  /** assignToCentroids over the reference search. */
  private def refAssign(v: DataFrame, c: DataFrame): DataFrame =
    refNearest(asRows(v), asCents(c), 1, portable = true)
      .select(col("rid").as("vec_id"), col("cid").as("centroid_id"),
        col("score").as("sim"))

  /** trainCentroids (default mode) over the reference search, as (cid, c). */
  private def refTrain(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val c = asRows(corpus)
    var cents = c.orderBy(xxhash64(col("rid")), col("rid")).limit(k)
      .select(col("rid").as("cid"), col("v").as("c"))
    for (_ <- 0 until iters)
      cents = refNearest(c, cents, 1, portable = false).join(c, "rid")
        .groupBy(col("cid"))
        .agg(VectorAggregates.vecSumQ6(col("v")).as("_s"), count(lit(1)).as("_n"))
        .select(col("cid"), transform(col("_s"), x =>
          x.cast("double") / lit(1e6) / col("_n")).as("c"))
    cents
  }

  /** ivfTopKWith over the reference search, for centroids (cid, c). */
  private def refIvf(corpus: DataFrame, cents: DataFrame, queries: DataFrame,
      k: Int, nProbes: Int): DataFrame = {
    val c = asRows(corpus)
    val q = asRows(queries)
    val assigned = refNearest(c, cents, 1, portable = false).join(c, "rid")
      .select(col("cid"), col("rid").as("vec_id"), col("v").as("cv"))
    val probes = refNearest(q, cents, nProbes, portable = false).join(q, "rid")
      .select(col("cid"), col("rid").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    assigned.join(probes, "cid").filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", round(Similarity.cosine(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("score"), col("rank"))
  }

  private def normed(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").as("cv"))
      .withColumn("nc", VectorExpressions.l2norm(col("cv")))

  private def listTable(cents: DataFrame): DataFrame =
    cents.select(col("group").as("list_id"), col("centroid"),
      VectorExpressions.l2norm(col("centroid")).as("ncent"))

  test("assignToCentroids ≡ the crossJoin + row_number reference " +
    "(portable rounding, duplicate-centroid ties, zero norms, null vector)") {
    // 40 generic vectors, one EXACTLY equal to the duplicated centroid
    // vector — its cosine against ids 1 and 4 is identical by
    // construction, forcing the tie-break — and one null vector
    val nullable = StructType(vecs(1, 8, 0).schema.map(_.copy(nullable = true)))
    val v = vecs(40, 8, 0).unionAll(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(99L, mk(8, 2)), Row(98L, null)), 1),
      nullable))
    val c = tieCents(8)
    val got = sortedRows(Similarity.assignToCentroids(v, c,
      centIdCol = "group", centVecCol = "centroid"))
    assert(got == sortedRows(refAssign(v, c)))
    // the tie: no assignment may land on id 4 — id 1 holds the SAME
    // vector and must win every tie; vec 99 IS that vector, so the tie
    // is provably exercised
    assert(got.forall(_.split(",")(1) != "4"))
    assert(got.contains("[99,1,1.0]"))
    // a null vector scores 0.0 everywhere: the smallest id, as the
    // zero-norm guard of the pairwise cosine answers
    assert(got.contains("[98,0,0.0]"))
  }

  test("ivfTopKTrained ≡ the crossJoin + row_number reference " +
    "(trainCentroids + probe routing + assignment end to end)") {
    val corpus = vecs(60, 8, 2)
    val queries = vecs(5, 8, 7)
    val got = sortedRows(Similarity.ivfTopKTrained(
      corpus, queries, k = 3, nLists = 5, nProbes = 2, trainIters = 2))
    assert(got.nonEmpty && got == sortedRows(refIvf(corpus,
      refTrain(corpus, k = 5, iters = 2), queries, k = 3, nProbes = 2)))
  }

  test("a ragged centroid table scores over min(|v|, |c|), as the " +
    "pairwise cosine does") {
    val c = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(5, 8, 12, 3, 8).zipWithIndex.map { case (d, i) => Row(i.toLong, mk(d, i + 1)) }, 2),
      tieCents(8).schema)
    // vectors of 8 and of 6 dims against centroids of 3 to 12
    val v = vecs(30, 8, 1).unionAll(vecs(10, 6, 3).withColumn("vec_id", col("vec_id") + 100))
    assert(sortedRows(Similarity.assignToCentroids(v, c,
      centIdCol = "group", centVecCol = "centroid")) == sortedRows(refAssign(v, c)))
    assert(sortedRows(Similarity.ivfTopKWith(normed(v), listTable(c), v,
      k = 3, nProbes = 2)) == sortedRows(refIvf(v, asCents(c), v, k = 3, nProbes = 2)))
  }

  test("an empty centroid table answers no rows") {
    val c = tieCents(8).filter(col("group") < 0)
    val v = vecs(10, 8, 0)
    val assigned = Similarity.assignToCentroids(v, c,
      centIdCol = "group", centVecCol = "centroid")
    assert(assigned.schema.map(f => (f.name, f.dataType)) == Seq(
      ("vec_id", LongType), ("centroid_id", LongType), ("sim", DoubleType)))
    assert(assigned.isEmpty)
    assert(Similarity.ivfTopKWith(normed(v), listTable(c), v, k = 3, nProbes = 2).isEmpty)
  }

  test("at k = 64, assignToCentroids and ivfTopKWith ≡ the reference") {
    val c = vecs(64, 8, 5).select(col("vec_id").as("group"), col("embedding").as("centroid"))
    val v = vecs(200, 8, 0)
    assert(sortedRows(Similarity.assignToCentroids(v, c)) == sortedRows(refAssign(v, c)))
    val queries = vecs(8, 8, 9)
    val got = sortedRows(Similarity.ivfTopKWith(normed(v), listTable(c), queries,
      k = 3, nProbes = 4))
    assert(got.nonEmpty && got == sortedRows(refIvf(v, asCents(c), queries, k = 3, nProbes = 4)))
  }

  test("streamingIvfAppend refuses an index whose centroids parquet " +
    "holds zero rows") {
    val work = graft.Fixtures.newDir("graft_r17guard").toFile.getAbsolutePath
    val empty = vecs(10, 4, 0).filter(col("vec_id") < 0)
    graft.functions.Similarity.buildIvfIndex(empty, s"$work/idx",
      nLists = 4, trainIters = 1)
    val incoming = vecs(5, 4, 1)
    incoming.write.parquet(s"$work/in")
    val e = intercept[IllegalArgumentException] {
      graft.functions.Similarity.streamingIvfAppend(
        spark.readStream.schema(incoming.schema).parquet(s"$work/in"),
        s"$work/idx", s"$work/ckpt")
    }
    assert(e.getMessage.contains("no IVF index"))
  }

  test("streamingIvfAppend names the file and the index when a centroids " +
    "parquet is corrupt") {
    val work = graft.Fixtures.newDir("graft_r17corrupt").toFile.getAbsolutePath
    graft.functions.Similarity.buildIvfIndex(vecs(10, 4, 0), s"$work/idx",
      nLists = 2, trainIters = 1)
    val cents = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$work/idx"))
      .iterator().asScala.filter(p => p.getParent.getFileName.toString == "centroids")
      .toSeq
    val parquet = cents.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parquet.nonEmpty)
    // truncated past its footer; the stale checksums go too, so the
    // parquet reader (not the checksum check) is what fails
    cents.filter(_.getFileName.toString.endsWith(".crc"))
      .foreach(java.nio.file.Files.delete)
    parquet.foreach(p => java.nio.file.Files.write(p,
      java.util.Arrays.copyOf(java.nio.file.Files.readAllBytes(p), 16)))
    val incoming = vecs(5, 4, 1)
    incoming.write.parquet(s"$work/in")
    val e = intercept[IllegalStateException] {
      graft.functions.Similarity.streamingIvfAppend(
        spark.readStream.schema(incoming.schema).parquet(s"$work/in"),
        s"$work/idx", s"$work/ckpt")
    }
    assert(parquet.exists(p => e.getMessage.contains(p.getFileName.toString)))
    assert(e.getMessage.contains(s"$work/idx"))
  }

  test("CentroidTopK ranks NaN and signed zeros as array_max does, " +
    "ties by smaller position") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayMax, ArrayPosition, Literal}
    import graft.functions.expressions.CentroidTopK
    // one dim, query [1.0] of norm 1: scores -0.0 (an underflowing dot),
    // 0.0 (a zero-norm centroid), NaN and 0.5 at positions 1..4
    val cents = Array(-Double.MinPositiveValue, 1.0, Double.NaN, 0.5)
    val norms = Array(4.0, 0.0, 1.0, 1.0)
    def topK(k: Int, n: Int): Seq[(Int, Double)] = {
      val out = CentroidTopK(Literal.create(Array(1.0), ArrayType(DoubleType)),
        Literal(1.0), cents.take(k), (0 to k).toArray, norms.take(k), n = n,
        roundScores = false).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2); (r.getInt(0), r.getDouble(1))
      }
    }
    val all = topK(4, 4)
    assert(all.map(_._1) == Seq(3, 4, 1, 2))
    assert(1.0 / all(2)._2 == Double.NegativeInfinity && all(3)._2 == 0.0 &&
      1.0 / all(3)._2 == Double.PositiveInfinity)
    def firstMax(scores: Seq[Double]): Long = {
      val a = Literal.create(scores.toArray, ArrayType(DoubleType))
      ArrayPosition(a, ArrayMax(a)).eval().asInstanceOf[Long]
    }
    val scores = Seq(-0.0, 0.0, Double.NaN, 0.5)
    for (k <- Seq(2, 4))
      assert(topK(k, 1).head._1 == firstMax(scores.take(k)))
  }

  test("the centroid literal cache keeps a hot entry through 65 further inserts") {
    // the centroid cache used to clear() itself once it held more than
    // 64 entries, dropping the generations live streams re-read every
    // micro-batch
    val collected = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def read(sig: String): Unit = Similarity.cachedCentroids(sig) {
      collected(sig) += 1
      Similarity.Centroids(lit(null), Array.empty, Array(0), Array.empty)
    }
    read("lru-hot")
    (1 to 65).foreach { i => read(s"lru-cold$i"); read("lru-hot") }
    assert(collected("lru-hot") == 1)
    read("lru-cold65") // the newest stayed
    read("lru-cold1") // the oldest went
    assert(collected("lru-cold65") == 1 && collected("lru-cold1") == 2)
  }
}
