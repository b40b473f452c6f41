package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import graft.ingest.IngestPipeline
import graft.sources.LogReplay
import graft.store.TierStore
import org.apache.spark.sql.functions._

/**
 * The benchmark's own tests: the generator is deterministic per seed, and
 * every checker fails on a planted fault (a dropped frame, a duplicated
 * batch, a wrong aggregate, a wrong answer). `run.py --self-test` runs it;
 * it prints one line per test and exits non-zero on the first failure.
 */
object SelfTest {
  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) { System.out.flush(); sys.exit(1) }
  }

  /** Every kind of generated input of a seed, at a fixed anchor. */
  def sample(seed: Long): String = {
    val g = Gen(seed)
    val anchor = 1700000000000L
    val frames = g.frameFile(0, 3000, anchor - 3600000L, 3600000L) + g.probe(7, anchor)
    val points = (0 until 500).flatMap(s => (0 until g.seriesRate(s)).map(j => g.point(s, 3, j, anchor)))
      .mkString("\n")
    val cmds = (0 until 300).map(k => g.command(k, anchor).json(s"u$k")).mkString("\n")
    Seq(sha(frames), sha(points), sha(cmds)).mkString(" ")
  }

  def run(work: Path): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // generator
    val a = sample(11); val b = sample(11); val c = sample(12)
    expect("same seed gives byte-identical frames, points and commands", a == b)
    expect("another seed gives other frames, points and commands",
      a.split(' ').zip(c.split(' ')).forall { case (x, y) => x != y })

    // aggregate checker
    val g = Gen(5)
    val exp = Expect.run(g, 3, 1700000000000L / 30000 * 30000)
    expect("aggregate checker passes the expectation itself", Expect.compare(exp, exp).isEmpty)
    val wrong = exp.updated(0, exp.head.copy(_4 = exp.head._4 + 1.0))
    expect("aggregate checker fails a wrong aggregate", Expect.compare(wrong, exp).nonEmpty)
    expect("aggregate checker fails a dropped aggregate", Expect.compare(exp.tail, exp).nonEmpty)
    expect("aggregate checker fails a duplicated aggregate", Expect.compare(exp :+ exp.head, exp).nonEmpty)

    // query checker
    val end = 1700000000000L / 60000 * 60000
    val cmd = Cmd("gdp", "m", "sum", "1h", "", "none", end - 3 * 3600000L, end, None, "gen_raw")
    val ref = Map("m" -> (0 until 300).map(i => Pt("m", end - 3 * 3600000L + i * 30000L, i.toDouble, "import")).toArray)
    val buckets = ref("m").groupBy(p => p.ms / 1000 / 3600 * 3600).toSeq.sortBy(_._1)
    def answer(vals: Seq[(Long, Double)]) =
      s"""{"val":{"Results":[{"Series":[{"name":"m","tags":{},"columns":["time","sum"],"values":[""" +
        vals.map { case (t, v) => s"[$t,$v]" }.mkString(",") + "]}]}]}}"
    val right = buckets.map { case (t, ps) => (t, ps.map(_.value).sum) }
    expect("query checker passes a right answer", Answers.check(cmd, answer(right), ref).isEmpty)
    expect("query checker fails a wrong answer",
      Answers.check(cmd, answer(right.updated(1, (right(1)._1, right(1)._2 + 1))), ref).nonEmpty)
    expect("query checker fails a missing bucket", Answers.check(cmd, answer(right.tail), ref).nonEmpty)
    expect("query checker fails an error answer",
      Answers.check(cmd, """{"val":{"Results":null,"error":"boom"}}""", ref).nonEmpty)

    // ingest checker, on a real store
    val spark = graft.GraftSession.builder(shufflePartitions = 4).master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val frames = work.resolve("frames")
      Files.createDirectories(frames)
      Frames.writeBacklog(g, frames.toString, 0, 3, 1700000000000L - 3600000L, 1700000000000L, 2)
      val store = new TierStore(spark, work.resolve("store").toString)
      store.init()
      IngestPipeline.runBatch(LogReplay.read(spark, frames.toString), Checks.ingestConfig(1000), None, store)
      val replay = new TierStore(spark, work.resolve("replay").toString)
      replay.init()
      IngestPipeline.runBatch(LogReplay.read(spark, frames.toString), Checks.ingestConfig(1000), None, replay)
      val act = Checks.points(store)
      val ref = Checks.points(replay)
      expect("ingest checker passes an exact store", Checks.compare(act, ref).isEmpty)
      val oneTagged = act.filter(col("src").startsWith("s")).select("src").head().getString(0)
      expect("ingest checker fails a dropped frame",
        Checks.compare(act.filter(col("src") =!= oneTagged), ref).nonEmpty)
      expect("ingest checker fails a duplicated batch",
        Checks.compare(act.unionByName(act.filter(col("src").isin(oneTagged, "app"))), ref).nonEmpty)
    } finally spark.stop()
    println("self-test passed")
  }
}
