package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Round-17 optimization pins:
 *  - the literal-centroid argmax and the large-k [[graft.functions
 *    .expressions.CentroidTopK]] matrix path are BIT-IDENTICAL — same
 *    assignments, same scores (portable rounding included), same
 *    tie-breaks (duplicate centroids, zero norms, zero vectors);
 *  - streamingIvfAppend refuses a degenerate index whose centroids
 *    parquet exists but holds zero rows (ADVICE-r16: a length-only FS
 *    check would accept it and silently drop every streamed vector),
 *    and names the file when a centroids parquet is unreadable;
 *  - CentroidTopK ranks NaN and signed-zero scores in array_max's order;
 *  - the centroid literal cache is a bounded LRU, not a clear-at-64 map.
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

  private def withMaxK[T](k: Int)(body: => T): T = {
    val old = sys.props.get("graft.argmax.literal.maxk")
    sys.props("graft.argmax.literal.maxk") = k.toString
    try body finally old match {
      case Some(v) => sys.props("graft.argmax.literal.maxk") = v
      case None => sys.props -= "graft.argmax.literal.maxk": Unit
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  test("assignToCentroids: CentroidTopK path ≡ literal path " +
    "(portable rounding, duplicate-centroid ties, zero norms)") {
    // 40 generic vectors plus one EXACTLY equal to the duplicated
    // centroid vector — its cosine against ids 1 and 4 is identical by
    // construction, forcing the tie-break on both paths
    val tieRow = Seq(Row(99L, mk(8, 2)))
    val v = vecs(40, 8, 0).unionAll(spark.createDataFrame(
      spark.sparkContext.parallelize(tieRow, 1), vecs(1, 8, 0).schema))
    val c = tieCents(8)
    def run() = sortedRows(graft.functions.Similarity.assignToCentroids(
      v, c, centIdCol = "group", centVecCol = "centroid"))
    val literal = withMaxK(1000)(run())
    val exprPath = withMaxK(0)(run())
    assert(literal == exprPath)
    // the tie: no assignment may land on id 4 — id 1 holds the SAME
    // vector and must win every tie on both paths; vec 99 IS that
    // vector, so the tie is provably exercised
    assert(exprPath.forall(_.split(",")(1) != "4"))
    assert(exprPath.exists(r => r.startsWith("[99,") &&
      r.split(",")(1) == "1"))
  }

  test("ivfTopKTrained: CentroidTopK path ≡ literal path " +
    "(trainCentroids + probe routing + assignment end to end)") {
    val corpus = vecs(60, 8, 2)
    val queries = vecs(5, 8, 7)
    def run() = sortedRows(graft.functions.Similarity.ivfTopKTrained(
      corpus, queries, k = 3, nLists = 5, nProbes = 2, trainIters = 2))
    val literal = withMaxK(1000)(run())
    val exprPath = withMaxK(0)(run())
    assert(literal.nonEmpty && literal == exprPath)
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
        Literal(1.0), cents.take(k), norms.take(k), dims = 1, n = n,
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
    // centroidLitCache used to clear() itself once it held more than 64
    // entries, dropping the generations live streams re-read every
    // micro-batch
    val collected = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def read(sig: String): Unit = graft.functions.Similarity.centroidLits(sig) {
      collected(sig) += 1; Seq.empty
    }
    read("lru-hot")
    (1 to 65).foreach { i => read(s"lru-cold$i"); read("lru-hot") }
    assert(collected("lru-hot") == 1)
    read("lru-cold65") // the newest stayed
    read("lru-cold1") // the oldest went
    assert(collected("lru-cold65") == 1 && collected("lru-cold1") == 2)
  }
}
