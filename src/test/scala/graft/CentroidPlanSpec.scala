package graft

import graft.functions.Similarity
import graft.functions.expressions.{CentroidTopK, VectorExpressions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/**
 * The shape of the nearest-centroid plans, at a small, a fixture-scale
 * and a large centroid count: `assignToCentroids`, and the assignment
 * and probe routing of `ivfTopKWith`.
 *
 * Enforced: each argmax and each route is ONE `CentroidTopK` node (the
 * centroid matrix is not unrolled into the plan), `assignToCentroids`
 * shuffles nothing, and every generated method is under HotSpot's
 * 8000-byte JIT limit (larger methods are never compiled) whatever the
 * number of centroids.
 */
class CentroidPlanSpec extends SparkSpec {

  private val dims = 4

  /** `n` synthetic rows (vec_id, embedding) read through a codegen'd
   *  range, so the projection under test is not folded into a local
   *  relation. */
  private def vecs(n: Int, seed: Int): DataFrame =
    spark.range(n.toLong).select(col("id").as("vec_id"),
      array((0 until dims).map(j =>
        (pmod(col("id") * (j * 7 + seed + 3), lit(97)).cast("float") /
          lit(97.0f)) - lit(0.5f)): _*).as("embedding"))

  /** Every operator of an executed plan, inside adaptive query stages too. */
  private def ops(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
    case s: QueryStageExec => ops(s.plan)
    case _ => p +: p.children.flatMap(ops)
  }

  private def topKs(p: SparkPlan): Seq[CentroidTopK] =
    ops(p).flatMap(_.expressions.flatMap(_.collect { case t: CentroidTopK => t }))

  /** The executed plan of `df` after it ran. */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def assertMethodsUnderJitLimit(p: SparkPlan): Unit = {
    val stats = codegenStringSeq(p)
    assert(stats.nonEmpty, p.treeString)
    stats.foreach { case (subtree, _, s) =>
      assert(s.maxMethodCodeSize < 8000, s"maxMethodCodeSize ${s.maxMethodCodeSize} in\n$subtree")
    }
  }

  for (k <- Seq(8, 64, 1024)) {
    test(s"assignToCentroids at k=$k: one CentroidTopK, no Exchange, " +
      "every method under 8000 bytes") {
      val cents = vecs(k, 13).select(col("vec_id").as("group"),
        col("embedding").as("centroid"))
      val plan = executed(Similarity.assignToCentroids(vecs(200, 0), cents))
      assert(topKs(plan).map(t => (t.n, t.norms.length)) == Seq((1, k)), plan.treeString)
      assert(ops(plan).collect { case e: Exchange => e }.isEmpty, plan.treeString)
      assertMethodsUnderJitLimit(plan)
    }

    test(s"ivfTopKWith at k=$k: one CentroidTopK for the assignment and one " +
      "for the routes, every method under 8000 bytes") {
      def normed(df: DataFrame) = df.select(col("vec_id"), col("embedding").as("cv"))
        .withColumn("nc", VectorExpressions.l2norm(col("cv")))
      val centroids = normed(vecs(k, 13)).select(col("vec_id").as("list_id"),
        col("cv").as("centroid"), col("nc").as("ncent"))
      val plan = executed(Similarity.ivfTopKWith(normed(vecs(200, 0)), centroids,
        vecs(5, 7), k = 3, nProbes = 2))
      assert(topKs(plan).map(t => (t.n, t.norms.length)).sorted ==
        Seq((1, k), (2, k)), plan.treeString)
      assertMethodsUnderJitLimit(plan)
    }
  }
}
