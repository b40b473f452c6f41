package graft.functions.expressions

import java.io.ByteArrayOutputStream

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonFactoryBuilder,
  JsonGenerationException, JsonGenerator, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * One-pass FIMP JSON decoding for the ingest hot path.
 *
 * The builtin route parses every frame many times: one `from_json` for
 * the envelope, one `get_json_object` for `val`, one more per key the
 * transform reads, one `from_json` for a price array. Each call is a full
 * Jackson pass, and `from_json` is CodegenFallback. These two
 * expressions read their input once with Jackson's streaming parser and
 * return every field the ingest plan uses, with values byte-identical to
 * the builtins they replace on valid JSON:
 *
 *  - [[FimpDecode]] (payload): the envelope fields as
 *    `from_json(payload, LogReplay.fimpSchema)` yields them, plus `val` as
 *    `get_json_object(payload, '$.val')` yields it.
 *  - [[FimpValue]] (val_json): the keys `Transform` reads as
 *    `get_json_object(val_json, '$.<key>')` yields them, whether val_json
 *    is a JSON object (the `get_json_object(val_json, '$')` and
 *    `trim(val_json)` prefix test), and the price array as
 *    `from_json(val_json, Transform.priceSchema)` yields it. Text that does
 *    not start with `{` or `[` is not parsed at all.
 *
 * Both compile (see [[FimpParse]]) and keep no state between rows.
 *
 * Where the builtins disagree with each other on malformed or
 * non-standard JSON, one configuration wins: the envelope parses as
 * `from_json` does (single quotes and NaN/Infinity tokens accepted, raw
 * control characters rejected), the value as `get_json_object` does
 * (single quotes and raw control characters accepted, NaN rejected).
 * `Transform`'s scaladoc lists the resulting differences.
 */
object FimpExpressions {
  def decode(payload: Column): Column =
    GraftBridge.column(FimpDecode(GraftBridge.expression(payload)))
  def value(valJson: Column): Column =
    GraftBridge.column(FimpValue(GraftBridge.expression(valJson)))

  /** `from_json`'s parser configuration (default `JSONOptions`). */
  private[expressions] lazy val structFactory: JsonFactory =
    new JSONOptions(Map.empty[String, String], "UTC").buildJsonFactory()

  /** `get_json_object`'s parser configuration. */
  private[expressions] lazy val pathFactory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  /** A parser over `s`, made as the builtins make theirs. */
  private[expressions] def open(f: JsonFactory, s: UTF8String): JsonParser =
    CreateJacksonParser.utf8String(f, s)

  /** The text `from_json`'s string converter yields for the current
   *  value token: null, the string itself, or the value re-rendered. */
  private[expressions] def structText(f: JsonFactory, p: JsonParser): UTF8String =
    p.currentToken match {
      case JsonToken.VALUE_NULL => null
      case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
      case _ => rendered(f, p)
    }

  /** The text `get_json_object` yields for the current non-null value
   *  token: a string unquoted and unescaped, anything else re-rendered;
   *  null where its generator rejects the text (an unpaired surrogate). */
  private[expressions] def pathText(f: JsonFactory, p: JsonParser): UTF8String =
    if (p.currentToken != JsonToken.VALUE_STRING) rendered(f, p)
    else try generated(f)(_.writeRaw(p.getText))
    catch { case _: JsonGenerationException => null }

  /** The current value as `JsonGenerator.copyCurrentStructure` writes it. */
  private def rendered(f: JsonFactory, p: JsonParser): UTF8String =
    generated(f)(_.copyCurrentStructure(p))

  private def generated(f: JsonFactory)(write: JsonGenerator => Unit): UTF8String = {
    val out = new ByteArrayOutputStream(64)
    val g = f.createGenerator(out, JsonEncoding.UTF8)
    write(g)
    g.close()
    UTF8String.fromBytes(out.toByteArray)
  }
}

/** A one-pass decoder of a string column into a never-null struct,
 *  generating code as a call into the instance (the [[TokenStats]]
 *  idiom) so the stage stays whole-stage compiled. */
sealed trait FimpParse extends UnaryExpression {
  def compute(s: UTF8String): InternalRow

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got $other")
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = $ref.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }
}

/**
 * payload → struct<serv, type, val_t, val, props, src>: the FIMP envelope
 * in one streaming pass. `serv`, `type`, `val_t`, `props` and `src` follow
 * `from_json(payload, LogReplay.fimpSchema)`: the last occurrence of a key
 * wins, a non-string value is re-rendered as JSON text, a `props` that is
 * not an object leaves the field as it was. A syntax error anywhere
 * before the root object closes makes every field null (`from_json` may
 * keep the fields converted before an error inside a field's value; see
 * `Transform`'s divergence note). `val` follows
 * `get_json_object(payload, '$.val')`: the first non-null occurrence,
 * a string unquoted, anything else as JSON text. A null payload, or one
 * whose root is not an object, yields all fields null; the struct itself
 * is never null.
 */
case class FimpDecode(child: Expression) extends FimpParse {
  override def dataType: DataType = FimpDecode.schema

  def compute(payload: UTF8String): InternalRow = {
    val r = new Array[Any](6)
    if (payload != null) {
      val f = FimpExpressions.structFactory
      try {
        val p = FimpExpressions.open(f, payload)
        try {
          if (p.nextToken() == JsonToken.START_OBJECT) {
            var valSeen = false
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              val name = p.currentName
              val t = p.nextToken()
              name match {
                case "serv" => r(0) = FimpExpressions.structText(f, p)
                case "type" => r(1) = FimpExpressions.structText(f, p)
                case "val_t" => r(2) = FimpExpressions.structText(f, p)
                case "val" if !valSeen && t != JsonToken.VALUE_NULL =>
                  valSeen = true
                  r(3) = FimpExpressions.pathText(f, p)
                case "props" if t == JsonToken.START_OBJECT => r(4) = props(f, p)
                case "props" if t == JsonToken.VALUE_NULL => r(4) = null
                case "src" => r(5) = FimpExpressions.structText(f, p)
                case _ => p.skipChildren()
              }
            }
          }
        } finally p.close()
      } catch {
        case _: java.io.IOException => java.util.Arrays.fill(r.asInstanceOf[Array[AnyRef]], null)
      }
    }
    new GenericInternalRow(r)
  }

  private def props(f: JsonFactory, p: JsonParser): ArrayBasedMapData = {
    val ks = ArrayBuffer.empty[Any]
    val vs = ArrayBuffer.empty[Any]
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      ks += UTF8String.fromString(p.currentName)
      p.nextToken()
      vs += FimpExpressions.structText(f, p)
    }
    ArrayBasedMapData(ks.toArray, vs.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object FimpDecode {
  val schema: StructType = StructType(Seq(
    StructField("serv", StringType),
    StructField("type", StringType),
    StructField("val_t", StringType),
    StructField("val", StringType),
    StructField("props", MapType(StringType, StringType)),
    StructField("src", StringType)))
}

/**
 * val_json → struct<obj, e_import, e_export, p_import, p_export, temp,
 * unit, type, prices>: everything `Transform` reads from a FIMP value, in
 * at most one streaming pass.
 *
 *  - The keys follow `get_json_object(val_json, '$.<key>')`: top-level
 *    only, the first non-null occurrence, a string unquoted, anything
 *    else as JSON text.
 *  - `obj` is true when val_json, leading spaces trimmed, starts with `{`
 *    and parses as JSON up to the end of its root value: the old
 *    `get_json_object(val_json, '$')` non-null and `trim` prefix test.
 *  - `prices` follows `from_json(val_json, Transform.priceSchema)`: an
 *    array root converts element by element (null elements kept, any
 *    other non-object element nulls the whole array), an object root is a
 *    one-element array, a field that fails to convert is null and does
 *    not overwrite an earlier occurrence, the last occurrence wins.
 *
 * Text whose first non-whitespace character is neither `{` nor `[` is not
 * parsed: for it every builtin above yields null (or a non-object).
 * A syntax error before the root value closes makes every field null and
 * `obj` false. The struct itself is never null.
 */
case class FimpValue(child: Expression) extends FimpParse {
  override def dataType: DataType = FimpValue.schema

  def compute(v: UTF8String): InternalRow = {
    val r = new Array[Any](FimpValue.schema.length)
    r(0) = false
    val first = if (v == null) -1 else firstByte(v, jsonWs = true)
    if (first == '{' || first == '[') {
      val f = FimpExpressions.pathFactory
      try {
        val p = FimpExpressions.open(f, v)
        try {
          if (p.nextToken() == JsonToken.START_OBJECT) {
            val decided = new Array[Boolean](FimpValue.keys.length)
            val el = new Array[Any](FimpValue.priceFields.length)
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              val name = p.currentName
              val t = p.nextToken()
              val k = FimpValue.keys.indexOf(name)
              if (k >= 0) {
                if (!decided(k) && t != JsonToken.VALUE_NULL) {
                  decided(k) = true
                  r(1 + k) = FimpExpressions.pathText(f, p)
                } else p.skipChildren()
              } else priceField(f, p, el, FimpValue.priceFields.indexOf(name))
            }
            r(0) = firstByte(v, jsonWs = false) == '{'
            r(r.length - 1) = new GenericArrayData(Array[Any](new GenericInternalRow(el)))
          } else r(r.length - 1) = prices(f, p)
        } finally p.close()
      } catch {
        case _: java.io.IOException =>
          java.util.Arrays.fill(r.asInstanceOf[Array[AnyRef]], null)
          r(0) = false
      }
    }
    new GenericInternalRow(r)
  }

  /** First byte that is not whitespace: JSON's (space, tab, LF, CR) or,
   *  for the `trim` test, space only. -1 when there is none. */
  private def firstByte(v: UTF8String, jsonWs: Boolean): Int = {
    var i = 0
    while (i < v.numBytes) {
      val b = v.getByte(i)
      if (!(b == ' ' || (jsonWs && (b == '\t' || b == '\n' || b == '\r')))) return b
      i += 1
    }
    -1
  }

  /** The elements of an array root, or null where `from_json` gives up. */
  private def prices(f: JsonFactory, p: JsonParser): GenericArrayData = {
    val out = ArrayBuffer.empty[Any]
    while (p.nextToken() != JsonToken.END_ARRAY) {
      p.currentToken match {
        case JsonToken.VALUE_NULL => out += null
        case JsonToken.START_OBJECT =>
          val el = new Array[Any](FimpValue.priceFields.length)
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            val j = FimpValue.priceFields.indexOf(p.currentName)
            p.nextToken()
            priceField(f, p, el, j)
          }
          out += new GenericInternalRow(el)
        case _ => return null
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Convert the current value into price field `j` (skip it when j < 0),
   *  as `from_json`'s string and double converters do. */
  private def priceField(f: JsonFactory, p: JsonParser, el: Array[Any], j: Int): Unit =
    if (j < 0) p.skipChildren()
    else if (FimpValue.priceSchema(j).dataType == StringType) el(j) = FimpExpressions.structText(f, p)
    else p.currentToken match {
      case JsonToken.VALUE_NULL => el(j) = null
      case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => el(j) = p.getDoubleValue
      case JsonToken.VALUE_STRING => p.getText match {
        case "NaN" => el(j) = Double.NaN
        case "+INF" | "+Infinity" | "Infinity" => el(j) = Double.PositiveInfinity
        case "-INF" | "-Infinity" => el(j) = Double.NegativeInfinity
        case _ =>
      }
      case _ => p.skipChildren()
    }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object FimpValue {
  /** The keys `Transform` reads from a value object. */
  val keys: IndexedSeq[String] =
    IndexedSeq("e_import", "e_export", "p_import", "p_export", "temp", "unit", "type")

  /** One price-forecast entry (reference model/types.go:5-12). */
  val priceSchema: StructType = StructType(Seq(
    StructField("level", StringType),
    StructField("total", DoubleType),
    StructField("energy", DoubleType),
    StructField("tax", DoubleType),
    StructField("currency", StringType),
    StructField("startsAt", StringType)))
  private val priceFields: IndexedSeq[String] = priceSchema.fieldNames.toIndexedSeq

  val schema: StructType = StructType(
    StructField("obj", BooleanType, nullable = false) +:
      keys.map(StructField(_, StringType)) :+
      StructField("prices", ArrayType(priceSchema)))
}
