package graft

import java.sql.Timestamp

import scala.util.Random

import graft.functions.expressions.FimpExpressions
import graft.ingest.Transform
import graft.sources.LogReplay
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Differential test of the one-pass FIMP decoders against the builtin
 * parses they replace in the ingest plan:
 *  - `FimpDecode(payload)` against `from_json(payload, LogReplay.fimpSchema)`
 *    and `get_json_object(payload, '$.val')`, and `LogReplay.decodeEnvelope`
 *    against the builtin composition of the rawEvent columns;
 *  - `FimpValue(val_json)` against `get_json_object(val_json, '$.<key>')`
 *    for every key Transform reads, the old object test
 *    (`get_json_object(val_json, '$')` non-null and `trim(val_json)`
 *    starting with `{`), and `from_json(val_json, Transform.priceSchema)`.
 *
 * Strings are compared as bytes. The corpus is seeded: the ingest
 * benchmark's frame shapes with random field order, duplicate keys,
 * whitespace, escapes, number spellings, nulls, missing keys and nested
 * values. On valid JSON the two sides must agree exactly; every malformed
 * input either agrees too or is one of the differences pinned below and
 * listed in Transform's "Documented divergence" note.
 */
class FimpDecodeSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("e_import", "e_export", "p_import", "p_export", "temp", "unit", "type")

  // --- a seeded corpus of valid FIMP payloads ---

  private def corpus(seed: Long, n: Int): Seq[String] = {
    val r = new Random(seed)
    def pick[T](xs: T*): T = xs(r.nextInt(xs.length))
    def ws(): String = if (r.nextInt(6) == 0) pick(" ", "  ", "\n", "\t", " \r\n ") else ""
    def str(): String = pick("app", "s8", "", "a\\\"q", "back\\\\slash", "\\u00e9t\\u00E9",
      "emoji \\ud83d\\ude00", "lone \\ud800 high", "lone \\udc00 low", "\\udc00\\udc00",
      "tab\\tnl\\n", "sl\\/ash", "\\u0000nul", "ünï ∂", "\\\"\\\\\\/\\b\\f\\n\\r\\t")
    def quoted(s: String): String = "\"" + s + "\""
    def num(): String = pick("0", "-0", "1", "-17", "21.5", "21.50", "100.000", "1e3", "1E3",
      "1.5e-7", "-2.5E+2", "0.1", "-0.0", "4.9e-324", "1e400", "-1e400", "2147483648",
      "9223372036854775808", "12345678901234567890123", "3.141592653589793238462643383279",
      f"${r.nextDouble() * 5000}%.2f", f"${r.nextDouble() * 5}%.4f", r.nextInt(100000).toString)
    def scalar(): String = pick(quoted(str()), num(), "true", "false", "null")
    def obj(depth: Int): String = (0 until r.nextInt(4)).map { _ =>
      ws() + quoted(pick("a", "b", "temp", "unit", "e_import", "x")) + ws() + ":" + ws() + value(depth + 1)
    }.mkString("{", ",", "}")
    def arr(depth: Int): String = (0 until r.nextInt(4)).map(_ => ws() + value(depth + 1) + ws())
      .mkString("[", ",", "]")
    def value(depth: Int): String =
      if (depth > 2) scalar() else pick(scalar(), scalar(), obj(depth), arr(depth))
    def priceEntry(): String = Seq(
      Some(s""""level":${pick("\"NORMAL\"", "\"HIGH\"", "null", "1", "{\"a\":1}")}"""),
      Some(s""""total":${pick(num(), "\"NaN\"", "\"-INF\"", "\"0.5\"", "\"\"", "null", "true")}"""),
      Option.when(r.nextBoolean())(s""""energy":${num()}"""),
      Option.when(r.nextBoolean())(s""""tax":${pick(num(), "[1]", "{}")}"""),
      Option.when(r.nextBoolean())(s""""total":${num()}"""),
      Some(s""""currency":${pick("\"NOK\"", "\"EUR\"", "null", "7")}"""),
      Some(s""""startsAt":"2026-08-12T0${r.nextInt(10)}:00:00Z"""")).flatten
      .map(ws() + _ + ws()).mkString("{", ",", "}")
    // the ingest benchmark's frame shapes (serv, type, val_t, val, props)
    def shape(): (String, String, String, String, String) = r.nextInt(13) match {
      case 0 => ("sensor_temp", "cmd.sensor.get_report", "string", quoted(str()), "{}")
      case 1 => ("ecollector", "evt.ecollector.report", "float", num(), "{}")
      case 2 => ("meter_elec", "evt.meter.report", "float", num(), s"""{"unit":"${pick("W", "kW", "kWh", "MWh")}"}""")
      case 3 => ("meter_elec", "evt.meter_ext.report", "float_map",
        keys.take(4).filter(_ => r.nextInt(4) > 0).map(k => s""""$k":${pick(num(), num(), "\"1.5\"", "null", "\"x\"")}""")
          .mkString("{", ",", "}"), "{}")
      case 4 => ("sensor_temp", "evt.sensor.report", "float", num(), """{"unit":"C"}""")
      case 5 => ("thermostat", "cmd.setpoint.report", "str_map",
        s"""{"temp":${pick("\"21.5\"", "22", "\"abc\"", "null")},"type":"heat","unit":"C"}""", "{}")
      case 6 => ("sensor_presence", "evt.presence.report", "bool", pick("true", "false"), "{}")
      case 7 => ("chargepoint", "evt.current_session.report", "float", num(), "{}")
      case 8 => ("price_info_elec", "evt.price_forecast.report", "object",
        pick((0 until r.nextInt(5)).map(_ => pick(priceEntry(), priceEntry(), "null")).mkString("[", ",", "]"),
          priceEntry(), "[]", "null"), "{}")
      case 9 => ("vinculum", "evt.pd7.response", "object", value(0),
        s"""{"n":${num()},"b":true,"z":null,"o":{"x":[1,2]},"s":${quoted(str())},"n":"dup"}""")
      case 10 => ("dev_sys", "evt.mode.report", pick("string", "int", "null", ""), value(1), "{}")
      case 11 => ("meter_elec", "evt.meter.report", "float", num(),
        pick("null", "\"str\"", "5", "[]", """{"unit":"W","unit":"kW"}"""))
      case _ => (str(), str(), str(), value(0), obj(1))
    }
    (0 until n).map { _ =>
      val (serv, typ, valT, v, props) = shape()
      val fields = Seq("serv" -> quoted(serv), "type" -> quoted(typ), "val_t" -> quoted(valT),
        "val" -> v, "props" -> props, "src" -> quoted(str()))
        .filter(_ => r.nextInt(12) > 0) // a missing key now and then
        .map { case (k, x) => if (r.nextInt(15) == 0) (k, pick("null", num(), "true", obj(1))) else (k, x) }
      val dups = fields.filter(_ => r.nextInt(10) == 0)
        .map { case (k, _) => (k, pick("null", quoted(str()), num(), obj(1))) }
      r.shuffle(fields ++ dups)
        .map { case (k, x) => ws() + quoted(k) + ws() + ":" + ws() + x + ws() }
        .mkString(ws() + "{", ",", "}" + ws())
    }
  }

  // --- both sides, as comparable rows ---

  /** A string column as hex of its bytes (null stays null). */
  private def bytes(c: Column): Column = hex(c.cast("binary"))
  private def mapBytes(c: Column): Column = to_json(struct(
    transform(map_keys(c), k => bytes(k)).as("k"), transform(map_values(c), v => bytes(v)).as("v")))

  private def envelopeSides(payloads: DataFrame): DataFrame = {
    val p = col("payload")
    val old = from_json(p, LogReplay.fimpSchema)
    val dec = FimpExpressions.decode(p)
    def side(fields: String => Column, v: Column): Column = array(
      bytes(fields("serv")), bytes(fields("type")), bytes(fields("val_t")), bytes(v),
      mapBytes(fields("props")), bytes(fields("src")))
    payloads.select(p,
      side(old.getField, get_json_object(p, "$.val")).as("old"),
      side(dec.getField, dec.getField("val")).as("new"))
  }

  private def valueSides(vals: DataFrame): DataFrame = {
    val v = col("v")
    val parsed = FimpExpressions.value(v)
    val oldObj = coalesce(get_json_object(v, "$").isNotNull && trim(v).startsWith("{"), lit(false))
    vals.select(v,
      array(oldObj.cast("string") +: keys.map(k => bytes(get_json_object(v, "$." + k))): _*).as("old"),
      array(parsed.getField("obj").cast("string") +: keys.map(k => bytes(parsed.getField(k))): _*).as("new"),
      from_json(v, Transform.priceSchema).as("old_prices"),
      parsed.getField("prices").as("new_prices"),
      (from_json(v, Transform.priceSchema) <=> parsed.getField("prices")).as("prices_equal"))
  }

  private def mismatches(df: DataFrame, input: String): Seq[String] =
    df.filter(!(col("old") <=> col("new")) ||
        (if (df.columns.contains("prices_equal")) !col("prices_equal") else lit(false)))
      .collect().toSeq.map(r => s"${r.getAs[String](input)}\n  old ${r.get(1)}\n  new ${r.get(2)}" +
        (if (r.length > 3) s"\n  old prices ${r.get(3)}\n  new prices ${r.get(4)}" else ""))

  private lazy val payloads: Seq[String] = (1L to 4L).flatMap(corpus(_, 1500))

  test("the seeded corpus reaches every shape it is built to cover") {
    val df = payloads.toDF("payload").select(FimpExpressions.decode(col("payload")).as("d"))
      .select(col("d.*"))
    val n = payloads.size.toLong
    assert(df.filter(col("serv") === "price_info_elec").count() > n / 30)
    assert(df.filter(col("val").startsWith("{")).count() > n / 10)
    assert(df.filter(col("val").startsWith("[")).count() > n / 30)
    assert(df.filter(col("props").isNull).count() > 0)
    assert(df.filter(size(col("props")) > 1).count() > 0)
    assert(df.filter(col("val").isNull).count() > 0)
  }

  test("FimpDecode is byte-identical to from_json + get_json_object on valid JSON") {
    val bad = mismatches(envelopeSides(payloads.toDF("payload")), "payload")
    assert(bad.isEmpty, s"${bad.size} of ${payloads.size} differ:\n" + bad.take(5).mkString("\n"))
  }

  test("FimpValue is byte-identical to get_json_object and from_json(priceSchema) on valid JSON") {
    val vals = payloads.toDF("payload").select(get_json_object(col("payload"), "$.val").as("v"))
      .union(Seq(
        """{"level":"N","total":"x","total":2}""", """{"level":{"a":1},"tax":"NaN"}""",
        """[{"total":1,"total":null}]""", """ [{"level":{"a":1},"total":1,"total":"x"}] x""", """[null,{"level":"N"}]""", """[1,{"level":"N"}]""",
        """["a"]""", """[""]""", """[[1]]""", """[]""", "  [{\"total\":1}]", "\n{\"temp\":1}",
        " {\"e_import\":1}", """{"unit":null,"unit":"C","unit":"F"}""", """5""", """null""",
        """"{\"temp\":1}"""", """{"type":{"k":[1,{"z":2.50}]}}""",
        "{\"e_import\":\"\\ud800\"}", """{"e_import":1} trailing""", """[{"total":1}] trailing""").toDF("v"))
    val bad = mismatches(valueSides(vals), "v")
    assert(bad.isEmpty, s"${bad.size} differ:\n" + bad.take(5).mkString("\n"))
  }

  test("decodeEnvelope yields the rawEvent columns of the builtin composition") {
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val env = payloads.zipWithIndex.map { case (p, i) => (s"pt:j1/mt:evt/ad:$i", p, t0) }
      .toDF("topic", "payload", "time")
    val parsed = from_json(col("payload"), LogReplay.fimpSchema)
    val builtin = env.select(col("topic"), parsed.getField("serv").as("serv"),
      parsed.getField("type").as("msg_type"), parsed.getField("val_t").as("val_t"),
      get_json_object(col("payload"), "$.val").as("val_json"), parsed.getField("props").as("props"),
      parsed.getField("src").as("src"), regexp_extract(col("topic"), "^pt:([^/]+)", 1).as("domain"),
      col("time"))
    val decoded = LogReplay.decodeEnvelope(env)
    assert(decoded.schema == builtin.schema)
    def rows(df: DataFrame): Seq[Seq[Any]] = df.select(df.columns.map { c =>
      if (c == "props") mapBytes(col(c)) else if (c == "time") col(c) else bytes(col(c))
    }: _*).collect().toSeq.map(_.toSeq)
    assert(rows(decoded) == rows(builtin))
  }

  test("malformed payloads agree with the builtins except the documented divergences") {
    val agree = Seq(
      """{"serv":"a","val":1""", """{"serv":"a","val":1,}""", """{"serv":"a"} garbage""",
      """{"serv":"a"}}""", """{serv:"a","val":1}""", """{'serv':'a','val':'b'}""",
      """{"serv":"a",/*c*/"val":1}""", """[{"serv":"a","val":1}]""", "", "   ", "5", "null",
      """{"serv":"a","val":"x""", """{"serv":"a","val":01}""",
      """{"serv":"a","val":1e}""", """{"serv":"a","val":tru}""",
      """{"serv":"a","val":"\x"}""", "{\"serv\":\"a\",\"val\":\"\\ud83d\"}").toDF("payload")
    val bad = mismatches(envelopeSides(agree), "payload")
    assert(bad.isEmpty, bad.mkString("\n"))
    val vbad = mismatches(valueSides(Seq("""[{"total":1}""", """[{"total":1},]""", """{"temp":1""",
      """{"temp":}""", """{"temp":1}}""").toDF("v")), "v")
    assert(vbad.isEmpty, vbad.mkString("\n"))
  }

  test("divergence: a raw control character in an envelope string nulls val too") {
    val payload = "{\"serv\":\"a\",\"val\":\"c\td\"}"
    val r = Seq(payload).toDF("p").select(
      from_json(col("p"), LogReplay.fimpSchema).getField("serv"),
      get_json_object(col("p"), "$.val"),
      FimpExpressions.decode(col("p")).getField("serv"),
      FimpExpressions.decode(col("p")).getField("val")).head()
    assert(r == Row(null, "c\td", null, null))
  }

  test("divergence: a syntax error inside an envelope field's value nulls every field") {
    // from_json keeps the fields it converted before the error (Spark's
    // partial results) in this plan; the decoder gives up on the frame
    val r = Seq("""{"serv":"a","props":{"k":}}""", """{"serv":"a","src":{"k":}}""").toDF("p")
      .select(from_json(col("p"), LogReplay.fimpSchema).getField("serv"),
        FimpExpressions.decode(col("p")).getField("serv"))
      .collect().toSeq
    assert(r == Seq(Row("a", null), Row("a", null)))
  }

  test("divergence: a NaN token as val is read as from_json reads it") {
    val r = Seq("""{"serv":"a","val":NaN}""", """{"serv":"a","val":{"x":NaN}}""").toDF("p")
      .select(get_json_object(col("p"), "$.val"), FimpExpressions.decode(col("p")).getField("val"))
      .collect().toSeq
    assert(r == Seq(Row(null, "\"NaN\""), Row(null, """{"x":"NaN"}""")))
  }

  test("divergence: a price array parses with get_json_object's settings") {
    val r = Seq("""[{"total":NaN}]""", "[{\"level\":\"a\tb\"}]").toDF("v")
      .select(to_json(from_json(col("v"), Transform.priceSchema)),
        to_json(FimpExpressions.value(col("v")).getField("prices")))
      .collect().toSeq
    assert(r == Seq(Row("""[{"total":"NaN"}]""", null), Row(null, """[{"level":"a\tb"}]""")))
  }

  test("a null or non-JSON value is not parsed and reads as not an object") {
    val r = Seq[String](null, "21.5", "abc", "true").toDF("v")
      .select(FimpExpressions.value(col("v")).as("x")).select(col("x.*")).collect().toSeq
    assert(r.forall(row => row.getBoolean(0) == false && (1 until row.length).forall(row.isNullAt)))
  }
}
