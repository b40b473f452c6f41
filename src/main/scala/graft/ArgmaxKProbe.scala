package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * VERDICT-r16 ask #3: measure the literal-centroid argmax (k unrolled
 * literal score subtrees — the round-16 rewrite) against the
 * [[graft.functions.expressions.CentroidTopK]] matrix expression at
 * REALISTIC k (up to 4096 lists × 256 dims), separating PLAN cost
 * (analysis + codegen — the part that grows with k in the literal
 * shape) from per-row EXECUTION cost. Its crossover would set
 * `Similarity.argmaxLiteralMaxK`'s default; it has not been run yet,
 * so that default (128) is unmeasured.
 *
 * Usage: runMain graft.ArgmaxKProbe [rows] [dims] [k,k,...]
 * Paths are switched per-case via the `graft.argmax.literal.maxk`
 * sysprop (the same seam the equivalence suite uses), so both shapes
 * run the PUBLIC assignToCentroids entry point unchanged.
 */
object ArgmaxKProbe {

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toInt).getOrElse(200000)
    val dims = args.lift(1).map(_.toInt).getOrElse(256)
    val ks = args.lift(2).map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(8, 64, 256, 512, 1024, 4096))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(shufflePartitions = cpus)
      .master(s"local[$cpus]").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def synth(n: Int, seed: Int): DataFrame =
      spark.range(n.toLong).select(col("id").as("vec_id"),
        array((0 until dims).map(j =>
          (pmod(col("id") * (j * 7 + seed + 3), lit(997)).cast("float") /
            lit(997.0f)) - lit(0.5f)): _*).as("embedding"))

    val work = Fixtures.newDir("graft_akp").toFile.getAbsolutePath
    synth(rows, 0).write.mode("overwrite").parquet(s"$work/corpus")
    // read back so the timed plan starts from a real scan, like the
    // operator does (plan literals dominate either way)
    val corpusDisk = spark.read.parquet(s"$work/corpus")

    for (k <- ks; path <- Seq("literal", "topk")) {
      sys.props("graft.argmax.literal.maxk") =
        (if (path == "literal") Int.MaxValue else 0).toString
      val cents = synth(k, 13).select(col("vec_id").as("group"),
        col("embedding").as("centroid"))
      try {
        val t0 = System.nanoTime()
        val df = graft.functions.Similarity.assignToCentroids(
          corpusDisk, cents, centIdCol = "group", centVecCol = "centroid")
        val plan = df.queryExecution.executedPlan // forces analysis+planning
        val planS = (System.nanoTime() - t0) / 1e9
        val wscg = plan.toString.contains("WholeStageCodegen")
        def once(): Double = {
          val t = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
        once() // warm (codegen compile)
        val runs = Seq.fill(3)(once()).sorted
        println(f"""{"probe":"argmax","k":$k,"dims":$dims,"rows":$rows,""" +
          f""""path":"$path","plan_s":$planS%.3f,"exec_s":${runs(1)}%.3f,""" +
          s""""wholestage":$wscg}""")
      } catch {
        case e: Throwable =>
          println(s"""{"probe":"argmax","k":$k,"path":"$path","error":"${
            e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")
            .take(120).replace('"', '\'')}"}""")
      }
      sys.props -= "graft.argmax.literal.maxk"
    }
    spark.stop()
  }
}
