package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.functions.expressions.{FimpDecode, FimpValue}
import graft.ingest.IngestPipeline
import graft.model.{Filter, ProcessConfig, Selector}
import graft.sources.StreamSource
import graft.store.TierStore
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, InputAdapter, SparkPlan,
  UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper

/**
 * The shape of the standing ingest plan: `IngestPipeline.runFromSource`
 * over a `LogFiles` source with the default filter chain. The frames
 * reach every Transform branch (price forecasts included), so the plan
 * is the one that runs in production.
 *
 * Enforced: one scan of the source, no union, no CodegenFallback
 * expression, every generated method under HotSpot's 8000-byte JIT limit
 * (larger methods are never compiled), and each one-pass decode
 * evaluated once per row — in particular not copied into a pushed-down
 * filter.
 */
class IngestPlanSpec extends SparkSpec {

  private val frames = Seq(
    """pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:meter_elec/ad:1_0 {"serv":"meter_elec","type":"evt.meter.report","val_t":"float","val":1200.5,"props":{"unit":"W"},"src":"app"}""",
    """pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:meter_elec/ad:2_0 {"serv":"meter_elec","type":"evt.meter_ext.report","val_t":"float_map","val":{"e_import":1.5,"e_export":0.2,"p_import":900,"p_export":0},"props":{},"src":"s8"}""",
    """pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:thermostat/ad:3_0 {"serv":"thermostat","type":"cmd.setpoint.report","val_t":"str_map","val":{"temp":"21.5","type":"heat","unit":"C"},"props":{},"src":"app"}""",
    """pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:price_info_elec/ad:4_0 {"serv":"price_info_elec","type":"evt.price_forecast.report","val_t":"object","val":[{"level":"NORMAL","total":0.8,"energy":0.3,"tax":0.1,"currency":"NOK","startsAt":"2026-08-12T00:00:00Z"}],"props":{},"src":"app"}""",
    """pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:ecollector/ad:0_0 {"serv":"ecollector","type":"evt.ecollector.report","val_t":"float","val":1.0,"props":{},"src":"app"}""")

  private def dir(): String = Fixtures.newDir("graft_plan").toFile.getAbsolutePath

  /** The executed plan of the ingest stream's last micro-batch. */
  private lazy val plan: SparkPlan = {
    val logs = dir()
    Files.write(Paths.get(logs, "a.log"), frames.zipWithIndex.map { case (f, i) =>
      f"@${4611686018427387904L + 1700000000L + i}%016x00000000 $f"
    }.mkString("\n").getBytes(UTF_8))
    val store = new TierStore(spark, dir())
    val config = ProcessConfig(id = 1, saveIntervalMs = 100, filters = Seq(Filter(id = 1)),
      selectors = Seq(Selector(1, "pt:j1/mt:evt/#")))
    val q = IngestPipeline.runFromSource(spark, StreamSource.LogFiles(logs), config, None,
      store, dir())
    try {
      q.processAllAvailable()
      assert(store.read(graft.model.Tier.GenRaw).count() > 0, "the stream wrote no points")
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    } finally q.stop()
  }

  private def exprs(p: SparkPlan): Seq[Expression] = p.expressions.flatMap(_.collect { case e => e })

  test("the source is scanned once and nothing is unioned") {
    assert(plan.collect { case s: FileSourceScanExec => s }.size == 1, plan.treeString)
    assert(plan.collectLeaves().size == 1, plan.treeString)
    assert(plan.collect { case u: UnionExec => u }.isEmpty, plan.treeString)
  }

  test("no operator evaluates a CodegenFallback expression") {
    val fallbacks = for {
      op <- plan.collect { case p => p }
      e <- exprs(op) if e.isInstanceOf[CodegenFallback]
    } yield s"${op.nodeName}: ${e.prettyName}"
    assert(fallbacks.isEmpty, fallbacks.mkString("\n"))
  }

  test("every operator above the scan runs inside whole-stage codegen") {
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    val compiled = plan.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten.toSet
    val outside = plan.collect {
      case p if p.children.nonEmpty && !compiled(p) &&
        !p.isInstanceOf[WholeStageCodegenExec] && !p.isInstanceOf[InputAdapter] => p.nodeName
    }
    assert(outside.isEmpty, outside.mkString(", ") + "\n" + plan.treeString)
  }

  test("every generated method is under the 8000-byte JIT limit") {
    val stats = codegenStringSeq(plan)
    assert(stats.nonEmpty)
    stats.foreach { case (subtree, _, s) =>
      assert(s.maxMethodCodeSize < 8000, s"maxMethodCodeSize ${s.maxMethodCodeSize} in\n$subtree")
    }
  }

  test("each decode is evaluated once per row and never in a filter") {
    def count(f: PartialFunction[Expression, Unit]): (Int, Int) = {
      val ops = plan.collect { case p => p }
      (ops.map(op => exprs(op).count(f.isDefinedAt)).sum,
        ops.collect { case op: FilterExec => exprs(op).count(f.isDefinedAt) }.sum)
    }
    assert(count { case _: FimpDecode => } == (1, 0), plan.treeString)
    assert(count { case _: FimpValue => } == (1, 0), plan.treeString)
  }
}
