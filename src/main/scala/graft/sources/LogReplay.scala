package graft.sources

import graft.functions.expressions.{FimpDecode, FimpExpressions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * S2 — batch replay of MQTT message logs
 * (reference: src/integration/tsdb/cli/batch_loader.go:28-87,
 * process.go:211-231 AddMessage).
 *
 * Line format: `<tai64n> pt:<topic> {json}` — the reference splits on
 * " pt:" then on " {" and parses the tai64n label for the historical
 * event time. Batch and live ingest share the transform pipeline (the
 * core Spark advantage: this is the same DataFrame code path).
 *
 * The line split is codegen'd builtins (regexp_extract / conv); the FIMP
 * payload is decoded once per frame by the compiled
 * [[graft.functions.expressions.FimpDecode]], so a 100 TB replay is one
 * whole-stage-compiled map stage over text splits.
 */
object LogReplay {

  /** FIMP JSON envelope schema (payload side), `val` aside: the fields
   *  `from_json(payload, fimpSchema)` would read. */
  val fimpSchema: StructType = StructType(FimpDecode.schema.filterNot(_.name == "val"))

  /** tai64n label (`@` + 16 hex sec + 8 hex nanos, seconds offset 2^62)
   *  → timestamp. */
  def tai64nToTimestamp(label: Column): Column = {
    val sec = conv(substring(regexp_replace(label, "^@", ""), 1, 16), 16, 10)
      .cast(LongType) - 4611686018427387904L
    val nanos = conv(substring(regexp_replace(label, "^@", ""), 17, 8), 16, 10)
      .cast(LongType)
    timestamp_micros(sec * 1000000L + floor(nanos / 1000L).cast(LongType))
  }

  /**
   * Log lines → raw envelopes (topic, payload, time) — the wire shape
   * every streaming front door produces (see StreamSource). Unparseable
   * lines are dropped (the reference skips lines without " pt:").
   */
  def toEnvelope(lines: DataFrame, lineCol: String = "value"): DataFrame = {
    val l = col(lineCol)
    lines
      .filter(l.contains(" pt:") && l.contains(" {"))
      .select(
        concat(lit("pt:"), regexp_extract(l, " pt:(\\S+) \\{", 1)).as("topic"),
        concat(lit("{"), regexp_extract(l, " \\{(.*)$", 1)).as("payload"),
        tai64nToTimestamp(regexp_extract(l, "^(\\S+) pt:", 1)).as("time"))
  }

  /** Raw envelopes → the canonical rawEvent shape (`Schemas.rawEvent`):
   *  topic, serv, msg_type, val_t, val_json, props, src, domain, time.
   *  Shared by batch replay and every streaming source.
   *
   *  One [[graft.functions.expressions.FimpDecode]] pass per payload
   *  yields the `fimpSchema` fields (as `from_json` would) and `val_json`
   *  (as `get_json_object(payload, '$.val')` would). It runs inside a
   *  one-row `inline`: a filter on the decoded columns (the filter chain's
   *  `serv <> 'ecollector'`) cannot be pushed below a generator's output,
   *  whereas below a projection Catalyst would copy the decode into the
   *  filter and parse every frame twice. */
  def decodeEnvelope(env: DataFrame): DataFrame =
    env.select(col("topic"), col("time"),
        inline(array(FimpExpressions.decode(col("payload")))))
      .select(
        col("topic"),
        col("serv"),
        col("type").as("msg_type"),
        col("val_t"),
        col("val").as("val_json"),
        col("props"),
        col("src"),
        // domain = address global prefix (process.go:216 addr.GlobalPrefix)
        regexp_extract(col("topic"), "^pt:([^/]+)", 1).as("domain"),
        col("time"))

  /**
   * Parse raw log lines into the canonical rawEvent shape — the batch
   * replay entry (S2), composed from the two stages above.
   */
  def parse(lines: DataFrame, lineCol: String = "value"): DataFrame =
    decodeEnvelope(toEnvelope(lines, lineCol))

  /** Read a directory of log files and parse (loadMessagesFromFile). */
  def read(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    parse(spark.read.text(path))

  /** Render events back into the log-line format (for tests/round-trips). */
  def format(events: DataFrame): Column = {
    val sec = unix_timestamp(col("time")) + 4611686018427387904L
    val label = concat(lit("@"), lpad(lower(hex(sec)), 16, "0"), lit("00000000"))
    concat(label, lit(" "), col("topic"), lit(" "),
      to_json(struct(col("serv").as("serv"), col("msg_type").as("type"),
        col("val_t").as("val_t"), col("val_json").as("val"),
        col("props").as("props"), col("src").as("src"))))
    // NB `val` is emitted as a JSON string; parse() reads `val` as
    // get_json_object does, unescaping it back to the raw literal, so the
    // round-trip is lossless for scalar and structured values alike.
  }
}
