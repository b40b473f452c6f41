package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.ingest.IngestPipeline
import graft.model.{Filter, ProcessConfig, Selector, Tier}
import graft.sources.LogReplay
import graft.store.TierStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness checkers. Each returns the problems it found; an empty
 *  result means the outputs are right. */
object Checks {

  /** The Service's process: the subscribed selectors and one pass-all
   *  entry filter. */
  def ingestConfig(saveIntervalMs: Long): ProcessConfig = ProcessConfig(
    id = 1, name = "default", autostart = true, saveIntervalMs = saveIntervalMs,
    filters = Seq(Filter(id = 1)),
    selectors = Gen.Selectors.zipWithIndex.map { case (t, i) => Selector(i + 1, t) })

  /** The tiers ingest writes to. */
  val WriteTiers: Seq[Tier] = Seq(Tier.GenRaw, Tier.GenDefault, Tier.GenYear)

  /** Points of the write tiers, with their tier. */
  def points(store: TierStore): DataFrame =
    WriteTiers.map(t => store.read(t).select(lit(t.name).as("tier"), col("measurement"),
      col("value"), col("src"))).reduce(_ unionByName _)

  /** Per-(tier, measurement) count and value sum, and the count of every
   *  sequence-tagged source. */
  def summary(pts: DataFrame): (Map[(String, String), (Long, Double)], DataFrame) = {
    val byMeas = pts.groupBy("tier", "measurement")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("value"), lit(0.0))).as("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val tagged = pts.filter(col("src").startsWith("s")).groupBy("src").count()
    (byMeas, tagged)
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 + 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Compare two summaries over the (tier, measurement) keys of the
   *  expected side. */
  def compare(actual: DataFrame, expected: DataFrame): Seq[String] = {
    val (am, at) = summary(actual)
    val (em, et) = summary(expected)
    val byMeas = em.toSeq.sorted.flatMap { case (k, (n, s)) =>
      am.get(k) match {
        case None => Seq(s"$k: expected $n points, found none")
        case Some((an, as)) =>
          (if (an != n) Seq(s"$k: expected $n points, found $an") else Nil) ++
            (if (!close(as, s)) Seq(s"$k: expected value sum $s, found $as") else Nil)
      }
    }
    val missing = et.exceptAll(at).count()
    val extra = at.exceptAll(et).count()
    byMeas ++
      (if (missing > 0) Seq(s"$missing tagged frames missing or short") else Nil) ++
      (if (extra > 0) Seq(s"$extra tagged frames duplicated or unexpected") else Nil)
  }

  /**
   * Ingest check: the store must equal a batch replay of the same frame
   * files through `IngestPipeline.runBatch` into a fresh store, per
   * (tier, measurement) and per tagged frame.
   */
  def ingest(spark: SparkSession, framesDir: String, store: TierStore,
      replayRoot: String, config: ProcessConfig): Seq[String] = {
    val fresh = new TierStore(spark, replayRoot)
    fresh.init()
    IngestPipeline.runBatch(LogReplay.read(spark, framesDir), config, None, fresh)
    compare(points(store), points(fresh))
  }

  /** Data files under a store root (staging excluded). */
  def dataFiles(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Nil
    val s = Files.walk(p)
    try s.iterator().asScala.filter { f =>
      Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet") &&
        !f.toString.contains("/_staging/")
    }.toList
    finally s.close()
  }

  /** Count and bytes of the data files under a store root. */
  def storeFiles(root: String): (Long, Long) = {
    val files = dataFiles(root)
    (files.size.toLong, files.map(Files.size).sum)
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }
}
