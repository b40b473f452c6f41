package graft.ingest

import graft.functions.expressions.{FimpExpressions, FimpValue}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * DefaultTransform: FIMP event → 0..N typed data points
 * (reference: src/integration/tsdb/transform.go:26-351).
 *
 * Input: a DataFrame with the `Schemas.rawEvent` columns plus (optional,
 * from metadata enrichment) `dev_id`, `location_id`, `dev_type` string
 * columns. `val_json` holds plain literal text for scalar val_t
 * (`"21.5"`, `"true"`, `"abc"`) and JSON for structured val_t
 * (float_map / str_map / object arrays).
 *
 * Implementation: ONE narrow pass over one scan of the source. Each row
 * gets the small int array of the candidate points it emits (a concat of
 * per-candidate conditional singleton arrays), one `explode` turns each
 * candidate into a point row, and every output column is a CASE over the
 * candidate kind. No UDFs, no shuffles, no union.
 *
 * Codegen structure: everything here compiles, so the whole transform is
 * one whole-stage-codegen stage.
 *  - `val_json` is parsed at most once per row, by
 *    [[graft.functions.expressions.FimpValue]], and only when it starts
 *    with `{` or `[`. That one pass yields the keys read below, the "is an
 *    object" test and the price array.
 *  - Price forecasts ride the same pass: `posexplode_outer` turns each
 *    price entry into a row (every other row passes through once), and
 *    that row's one candidate is its price point: no second scan, no
 *    union and no per-element lambda (`transform` is CodegenFallback).
 *  - The work is split into stages (per-row facts, then the drop test and
 *    the generic point's fields, then one CASE per output column), each
 *    reading the previous stage's columns. Whole-stage codegen puts the
 *    code between two generators into one Java method, and HotSpot never
 *    JIT-compiles a method over 8000 bytes: the single-projection form
 *    compiled to a 28 kB method. `IngestPlanSpec` holds every method
 *    under the limit.
 *
 * Documented divergence: the reference drops an extended meter report
 * whose val_json fails to unmarshal into map[string]float64 even when
 * the failure is on a key it never reads (transform.go:117-120); here
 * only non-object payloads and unparseable KNOWN keys
 * (e_import/e_export/p_import/p_export) drop the message. On malformed or
 * non-standard JSON the one-pass decode also departs from the builtin
 * parsers it replaced (each pinned in `FimpDecodeSpec`):
 *  - a syntax error inside the value of an envelope field `from_json`
 *    converts (`serv`, `type`, `val_t`, `props`, `src`) now nulls every
 *    field, so the filter drops the frame; `from_json` could keep the
 *    fields it had converted before the error (Spark's partial results),
 *    and whether it did depended on the plan around it;
 *  - an envelope with a raw control character inside a string now
 *    decodes to all-null fields, `val` included; `get_json_object` used
 *    to accept it for `val` alone (`from_json` rejected it, so `serv` was
 *    null and the filter dropped the frame either way);
 *  - a NaN or Infinity token (not a string) as `val`, or anywhere inside
 *    it, now yields the value `from_json`'s parser reads (NaN rendered as
 *    `"NaN"`) where `get_json_object` returned null;
 *  - a price array is parsed with `get_json_object`'s settings: a NaN or
 *    Infinity token in it is now a syntax error (no price points), and a
 *    raw control character inside one of its strings is now accepted.
 *
 * Faithfully reproduced reference quirks (all cited):
 *  - series id falls back to "" (not topic) when metadata is absent,
 *    because getDefaultTags pre-seeds dev_id="" (transform.go:30-36,356).
 *  - the generic point for meter W/kW / kWh reports double-prefixes the
 *    measurement in its series id (transform.go:66,344: seriesID was already
 *    prefixed before the final append).
 *  - price-forecast points carry tag dir="export" but series suffix
 *    ";import" (transform.go:280,287).
 *  - a too-big p_import/p_export in an extended report drops the WHOLE
 *    message (transform.go:199-201,226-228 return nil).
 *  - thermostat setpoint unit/type default to "" when absent, because the
 *    Go blank-assign overwrites the declared defaults (transform.go:252-257).
 */
object Transform {

  val MeasPower = "electricity_meter_power"
  val MeasEnergy = "electricity_meter_energy"
  val MeasEnergySampled = "electricity_meter_energy_sampled"
  val MeasPriceInfo = "electricity_price_info"
  val MaxAllowedPower = 30000.0 // transform.go:22

  /** A price forecast's `val` (model/types.go:5-12). */
  val priceSchema: ArrayType = ArrayType(FimpValue.priceSchema)

  private val nullS = lit(null).cast(StringType)
  private val nullD = lit(null).cast(DoubleType)
  private val nullB = lit(null).cast(BooleanType)

  def apply(events: DataFrame): DataFrame = {
    val df0 = Seq("dev_id", "location_id", "dev_type")
      .foldLeft(events)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(StringType)))

    val serv = col("serv")
    val msgType = col("msg_type")
    val valT = col("val_t")
    val time = col("time")

    // process.go:136 — default measurement name
    val measDefault = concat_ws(".", serv, msgType)
    // transform.go:30-36 — dev_id is pre-seeded "" so the topic fallback is dead code
    val seriesBase = coalesce(col("dev_id"), lit(""))

    // --- stage 1: per-row facts, next to the val_json parse (each stage
    // reads the previous stage's columns; see "Codegen structure") ---
    val meterServ = serv.isin("meter_elec", "sensor_power", "chargepoint")
    val facts = Seq(
      meterServ.as("_meter_serv"),
      (meterServ && msgType.isin("evt.meter.report", "evt.sensor.report")).as("_meter_report"),
      (meterServ && (msgType === "evt.current_session.report")).as("_session"),
      (meterServ && (msgType === "evt.meter_ext.report")).as("_meter_ext"),
      ((serv === "thermostat") && msgType.isin("cmd.setpoint.set", "cmd.setpoint.report"))
        .as("_setpoint"),
      (serv === "price_info_elec").as("_price_serv"),
      (serv === "price_info_elec" && (msgType === "evt.price_forecast.report"))
        .as("_price_forecast"),
      col("val_json").try_cast(DoubleType).as("_fval"),
      col("props").getItem("unit").as("_unit"))
    val isMeterServ = col("_meter_serv")
    val isMeterReport = col("_meter_report")
    val isSession = col("_session")
    val isMeterExt = col("_meter_ext")
    val isSetpoint = col("_setpoint")
    val isPriceServ = col("_price_serv")
    val isPriceForecast = col("_price_forecast")
    val fval = col("_fval")
    val unitProp = col("_unit")

    val isW = unitProp === "W"
    val isKW = unitProp === "kW"
    val isKWh = unitProp === "kWh"
    val normVal = when(isKW, fval * 1000).otherwise(fval) // transform.go:57-60

    // every key read from val_json comes from its one parse (see scaladoc)
    val parsed = col("_v")
    def goj(key: String): Column = parsed.getField(key)
    def fVal(key: String): Column = goj(key).try_cast(DoubleType)
    // an ext payload must be a JSON object with double-parseable known keys
    // (transform.go:117-120 unmarshal failure; see divergence note)
    val fmapInvalid = !parsed.getField("obj") ||
      ExtKeys.map(k => goj(k).isNotNull && fVal(k).isNull).reduce(_ || _)
    val sTemp = goj("temp").try_cast(DoubleType)
    val sUnit = goj("unit")
    val sType = goj("type")

    // --- stage 2: whole-message error drops (reference returns (nil, err)) ---
    val dropMsg =
      (isMeterReport && ((isW || isKW) && (normVal > MaxAllowedPower || fval.isNull))) || // transform.go:61-62
      (isMeterReport && !(isW || isKW || isKWh)) ||              // transform.go:80-81 unknown unit
      (isMeterReport && fval.isNull) ||                          // transform.go:86-88 float parse
      (isSession && fval.isNull) ||
      (isMeterExt && fmapInvalid) ||                             // transform.go:117-120
      (isMeterExt && (coalesce(fVal("p_import"), lit(0.0)) > MaxAllowedPower ||
                      coalesce(fVal("p_export"), lit(0.0)) > MaxAllowedPower)) ||
      (isSetpoint && sTemp.isNull) ||                            // transform.go:258-264
      (serv === "ecollector")                                    // process.go:237-240

    // --- stage 2: the generic (fall-through) point: transform.go:298-350 ---
    val genericApplies = !isMeterExt && !isPriceServ &&
      (isMeterReport || isSession || isSetpoint ||
        (!isMeterReport && !isSession && !isSetpoint && valT =!= ""))
    val genericMeas = when(isMeterReport && (isW || isKW), MeasPower)
      .when(isMeterReport && isKWh, MeasEnergy)
      .otherwise(measDefault)
    val genericValue = when(isMeterReport && (isW || isKW), normVal)
      .when(isMeterReport && isKWh, fval)
      .when(isSession, fval)
      .when(isSetpoint, sTemp)
      .when(valT === "float", fval)
      .when(valT === "int", col("val_json").try_cast(LongType).cast(DoubleType))
      .when(valT === "null", lit(0.0))
      .otherwise(nullD)
    val genericBool = when(valT === "bool" && !isMeterReport && !isSession && !isSetpoint,
      col("val_json").try_cast(BooleanType)).otherwise(nullB)
    val genericStr = when(isMeterReport || isSession || isSetpoint, nullS)
      .when(valT === "string", col("val_json"))
      .when(valT === "object", lit("object"))                    // transform.go:328-329
      .when(valT.isin("float", "int", "bool", "null"), nullS)
      .otherwise(col("val_json"))                                // transform.go:334-335 default arm
    val genericUnit = when(isMeterReport && (isW || isKW), unitProp)
      .when(isMeterReport && isKWh, unitProp)
      .when(isSession, lit("kWh"))
      .when(isSetpoint, coalesce(sUnit, lit(""))) // transform.go:252-255 quirk
      .when(valT === "float", unitProp)
      .otherwise(nullS)
    val genericDir = when(isMeterReport || isSession, lit("import")).otherwise(nullS)
    val genericServiceTag = when(isMeterServ, serv).otherwise(nullS) // transform.go:46
    // series-id quirks, see scaladoc
    val genericSeries = when(isMeterReport && (isW || isKW),
        concat(lit(MeasPower + ";" + MeasPower + ";"), seriesBase, lit(";import")))
      .when(isMeterReport && isKWh,
        concat(lit(MeasEnergy + ";" + MeasEnergy + ";"), seriesBase, lit(";import")))
      .when(isSession,
        concat(measDefault, lit(";" + MeasEnergySampled + ";"), seriesBase, lit(";import")))
      .otherwise(concat(genericMeas, lit(";"), seriesBase))
    // fields_json built by string concat, not to_json: StructsToJson costs
    // a Jackson generator per invocation — at one call per emitted point it
    // was the hottest expression in the stage; concat stays pure codegen.
    // Escaping covers backslash + quote (control chars in src don't occur
    // in FIMP source ids; price points keep full to_json).
    def jsonEsc(c: Column): Column =
      regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")
    val srcField = when(col("src").isNotNull,
      concat(lit("\"src\":\""), jsonEsc(col("src")), lit("\"")))
    val fieldsSrc = concat(lit("{"), concat_ws(",", srcField), lit("}"))
    val genericFields = when(isSetpoint,
        concat(lit("{"), concat_ws(",", srcField,
          concat(lit("\"type\":\""), jsonEsc(coalesce(sType, lit(""))), lit("\""))), lit("}")))
      .otherwise(fieldsSrc)

    val stage2 = Seq(dropMsg.as("_drop"), genericApplies.as("_generic"),
      genericMeas.as("_g_meas"), genericValue.as("_g_value"), genericBool.as("_g_bool"),
      genericStr.as("_g_str"), genericUnit.as("_g_unit"), genericDir.as("_g_dir"),
      genericServiceTag.as("_g_service"), genericSeries.as("_g_series"),
      genericFields.as("_g_fields"), fieldsSrc.as("_fields_src")) ++
      ExtKeys.map(k => fVal(k).as("_" + k))

    // --- stage 3: the points of a row, one candidate kind each. Concat of
    // conditional singleton arrays, not array + array_compact: ArrayCompact
    // rewrites to a lambda filter (CodegenFallback). ---
    val kind = col("_kind")
    val noKinds = array().cast("array<int>")
    def emits(cond: Column, k: Int): Column = when(cond, array(lit(k))).otherwise(noKinds)
    val kinds = when(isPriceForecast, emits(col("_price_pos").isNotNull, PriceKind))
      .when(col("_drop"), noKinds)
      .otherwise(concat(Seq(
        emits(col("_generic"), GenericKind),
        emits(isMeterReport && isKWh, KwhSampledKind),            // transform.go:69-78
        emits(isSession, SessionSampledKind)) ++                  // transform.go:90-113
        extKinds.zipWithIndex.map { case (e, i) =>                // transform.go:115-243
          emits(isMeterExt && col("_" + e.key).isNotNull, FirstExtKind + i) }: _*))

    /** A column's value per kind: `generic`, the two sampled twins, each
     *  extended-report kind and the price point, in kind order. */
    def byKind(generic: Column, kwh: Column, session: Column, ext: ExtKind => Column,
        price: Column): Column =
      extKinds.zipWithIndex.foldLeft(when(kind === GenericKind, generic)
          .when(kind === KwhSampledKind, kwh).when(kind === SessionSampledKind, session)) {
        case (c, (e, i)) => c.when(kind === FirstExtKind + i, ext(e))
      }.when(kind === PriceKind, price)

    // price forecast: transform.go:271-294, one point per price entry
    val price = col("_price")
    val fieldsSrcCol = col("_fields_src")
    val points = Seq(
      byKind(col("_g_meas"), lit(MeasEnergySampled), lit(MeasEnergySampled), e => lit(e.meas),
        lit(MeasPriceInfo)).as("measurement"),
      when(kind === PriceKind, to_timestamp(price.getField("startsAt")))
        .otherwise(time).as("time"),
      coalesce(col("dev_id"), lit("")).as("dev_id"),
      coalesce(col("dev_type"), lit("")).as("dev_type"),
      byKind(col("_g_dir"), lit("import"), lit("import"), e => lit(e.dir), lit("export"))
        .as("dir"),
      coalesce(col("location_id"), lit("")).as("location_id"),
      when(kind === GenericKind, col("_g_service")).otherwise(serv).as("service"),
      col("src"), col("topic"), col("domain"),
      byKind(col("_g_value"), fval, fval, e => col("_" + e.key), price.getField("total"))
        .as("value"),
      when(kind === GenericKind, col("_g_bool")).as("value_bool"),
      when(kind === GenericKind, col("_g_str")).as("value_str"),
      byKind(col("_g_unit"), unitProp, lit("kWh"), e => lit(e.unit), price.getField("currency"))
        .as("unit"),
      byKind(col("_g_series"), concat(lit(MeasEnergy + ";"), seriesBase, lit(";import")),
        concat(lit(MeasEnergySampled + ";"), seriesBase, lit(";import")),
        e => concat(lit(e.meas + ";"), seriesBase, lit(";" + e.dir)),
        concat(lit(MeasPriceInfo + ";"), seriesBase, lit(";import"))).as("series_id"),
      byKind(lit("mean"), lit("difference"), lit("sum"), e => lit(e.agg), lit("mean"))
        .as("agg_func"),
      byKind(col("_g_fields"), fieldsSrcCol, fieldsSrcCol, _ => nullS,
        to_json(struct(col("src").as("src"), price.getField("level").as("level"))))
        .as("fields_json"))

    df0.withColumn("_v", FimpExpressions.value(col("val_json")))
      .select(col("*") +: facts: _*)
      .select(col("*"), posexplode_outer(when(isPriceForecast, parsed.getField("prices")))
        .as(Seq("_price_pos", "_price")))
      .select(col("*") +: stage2: _*)
      .select(col("*"), explode(kinds).as("_kind"))
      .select(points: _*)
  }

  /** The value keys an extended meter report may carry (transform.go:115-243). */
  private val ExtKeys = Seq("e_import", "e_export", "p_import", "p_export")

  /** Candidate kinds, in the order a row emits its points. */
  private val GenericKind = 0
  private val KwhSampledKind = 1
  private val SessionSampledKind = 2
  private val FirstExtKind = 3

  /** One point of the extended meter report fan-out (transform.go:115-243). */
  private final case class ExtKind(key: String, meas: String, dir: String, agg: String,
      unit: String)
  private val extKinds = Seq(
    ExtKind("e_import", MeasEnergy, "import", "last", "kWh"),
    ExtKind("e_import", MeasEnergySampled, "import", "difference", "kWh"),
    ExtKind("e_export", MeasEnergy, "export", "last", "kWh"),
    ExtKind("e_export", MeasEnergySampled, "export", "difference", "kWh"),
    ExtKind("p_import", MeasPower, "import", "mean", "W"),
    ExtKind("p_export", MeasPower, "export", "mean", "W"))
  private val PriceKind = FirstExtKind + extKinds.size
}
