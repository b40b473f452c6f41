package graft.query

import java.time.Instant

import graft.model.{AndGroup, DataPointsFilter, DataPointsRequest, FieldPredicate, SelectItem, TagPredicate, Tier, WhereAtom}
import org.apache.spark.sql.DataFrame

/**
 * InfluxQL compatibility shim for the raw-query passthrough (S7).
 *
 * The reference's UI hand-writes InfluxQL strings (reference:
 * docs/api:9,194,251, docs/queries:1-2; the server builds the same
 * templates in storage/influxdb_v1.go:87-95,158-183). The documented
 * query shapes parse into the SAME `DataPointsRequest` the structured
 * `get_data_points` command uses, so the planner's tier selection,
 * partition pruning, gap fill, and transform semantics apply unchanged —
 * a migrating user's saved dashboard queries run as-is. Anything outside
 * the documented grammar falls back to Spark SQL (`Api.dispatch` keeps
 * `spark.sql` as the general passthrough).
 *
 * Supported grammar (keywords case-insensitive, identifiers optionally
 * double-quoted, strings single-quoted):
 *
 *   SELECT <sel>[, <sel>]... [INTO ["rp".]"target"]
 *     FROM ["db".]["rp".]"measurement"
 *                    | /regex/             — unanchored match against the
 *                      measurement catalog (Go-re2 convention); one
 *                      series per matched measurement, tagged by a
 *                      `measurement` result column
 *                    | ( SELECT ... )      — subqueries nest to any
 *                      dashboard-plausible depth (the Grafana
 *                      max-of-mean idiom and its deeper InfluxDB 1.x
 *                      forms; a 64-level ceiling keeps a pathological
 *                      input in the error envelope instead of a stack
 *                      overflow); each level's AS alias names the
 *                      column the level above selects
 *       — a multi-item list (the multi-series panel shape) plans as ONE
 *         scan+shuffle; items are ALL aggregated or ALL bare (InfluxDB's
 *         mixing rule), columns named by alias or function name with
 *         `_1`/`_2` dedup; INTO materializes the result as stored points
 *         under `target` and returns (time=0, written=N)
 *     [WHERE cond [AND cond]...]
 *     [GROUP BY time(<dur>)[, tag] | tag] [FILL(null|previous|none|linear|<n>)]
 *     [ORDER BY time ASC|DESC] [LIMIT n] [OFFSET m] [SLIMIT n] [SOFFSET m]
 *       — LIMIT cuts points PER SERIES, SLIMIT cuts the SERIES COUNT in
 *         key order (the InfluxQL contract); the dashboard last-value
 *         idiom `ORDER BY time DESC LIMIT 1`
 *   sel  := field | fn(field) | transform...(fn(field)) | percentile(field, n)
 *         | top(field, n) | bottom(field, n) | integral(field[, dur])
 *         | count(distinct(field))
 *           [AS alias]    — transforms chain, e.g. abs(difference(max(f)))
 *                           (the dashboard energy query, influxdb_v1.go:229);
 *                           parameterized transforms carry a trailing arg:
 *                           derivative(x[, dur]), non_negative_derivative,
 *                           elapsed(x[, dur]), moving_average(x, n), pow(x, n);
 *                           scalar math (ceil/floor/round/sqrt/exp/ln/log2/
 *                           log10/trig) and cumulative_sum wrap unary
 *   cond := time >|>= now()-<dur> | time >=|> '<RFC3339>'
 *         | time <=|< '<RFC3339>' | tag = 'value' | tag != 'value'
 *         | tag =~ /re/ | tag !~ /re/
 *           — the Grafana template-variable forms; regex matches
 *           unanchored (Go-re2 convention), absent tags compare as ''
 *         | field >|>=|<|<=|=|!= <number>
 *           — per-POINT numeric field conditions, applied at the scan
 *           before any aggregation (tags are strings in InfluxQL, so a
 *           bare-number comparison is unambiguously a field)
 *         | ( orAtom OR orAtom [OR orAtom]... )
 *           — a parenthesized OR group (the pre-regex Grafana
 *           multi-value variable shape); time bounds may not ride an
 *           OR. Each orAtom is a tag/field condition, optionally
 *           parenthesized, or ONE parenthesized AND group of such
 *           conditions — `("a"='1' AND "b"='2') OR ("a"='3' AND
 *           "b"='4')`, the multi-template-variable shape; that form is
 *           also accepted unwrapped when it is the WHOLE WHERE clause
 *           (next to other AND conjuncts the bare spelling is
 *           precedence-ambiguous and refuses). Deeper boolean trees
 *           refuse in the envelope.
 *   SHOW MEASUREMENTS [ON db] [WITH MEASUREMENT =~ /re/]
 *   | SHOW RETENTION POLICIES | SHOW CONTINUOUS QUERIES
 *   | SHOW DATABASES | SHOW TAG KEYS [ON db] [FROM m]
 *   | SHOW TAG VALUES [ON db] [FROM m] WITH KEY = k
 *   | SHOW FIELD KEYS [ON db] [FROM m] | SHOW SERIES [ON db] [FROM m]
 *     — the Grafana template-variable catalog forms a dashboard pointed
 *     at the reference's InfluxDB issues; `ON db` is accepted and
 *     ignored (the store is the database)
 *
 * A FROM-clause retention policy pins the tier (the InfluxQL contract);
 * without one the planner's tier policy picks, as the structured command
 * does. Every select list, one item or many, parses into ONE statement
 * type, [[Select]]. A one-item select keeps the engine's fixed
 * (time, value) column shape whatever its alias — `Api.shapeResponse`
 * emits ["time","value"] columns exactly like the reference's response
 * fixtures (docs/api:26-176); only INTO and an outer subquery read its
 * alias ([[Select.valueColumns]]). A list's columns carry their
 * alias/function names ([[Planner.itemAliases]]), and a regex FROM
 * emits one Series per matched measurement — the shaper renders both.
 */
object InfluxQL {

  sealed trait Statement
  /** A select list over one measurement — `SELECT mean("v") AS a ...`
   *  or `SELECT mean("v") AS a, max("v") AS b ...` (the multi-series
   *  Grafana panel shape). `req` carries the shared frame (measurement,
   *  WHERE, GROUP BY, FILL, modifiers) with its per-item fields empty;
   *  each item carries its field/function/transform/alias. One item
   *  plans through the single-field defaults of [[Planner.dataPoints]]
   *  (field `value` when empty, `mean` when tag- or time-grouped) and
   *  names its planned column `value`; a list plans as ONE scan + ONE
   *  shuffle ([[Planner.dataPointsMulti]]). */
  final case class Select(items: Seq[SelectItem], req: DataPointsRequest,
      retentionPolicy: Option[String]) extends Statement {
    /** The value-column names this select's consumers see: one item's
     *  `AS` alias, `value` without one (INTO writes the field under it,
     *  an outer subquery references it); a list's names as planned,
     *  incl. the grouped bare-list mean default
     *  ([[Planner.plannedMultiAliases]]). */
    def valueColumns: Seq[String] = items match {
      case Seq(it) => Seq(if (it.alias.nonEmpty) it.alias else "value")
      case _ => Planner.plannedMultiAliases(items, req)
    }
  }
  /** Subquery — `SELECT <agg> FROM (SELECT <inner> ...)`, the
   *  Grafana-era max-of-mean idiom, nesting to ANY depth (`inner` may
   *  itself be a [[Subquery]]; the chain plans innermost-first).
   *  `innerAliases` are the inner's output column names (the columns
   *  the outer references): the [[Select.valueColumns]] of the inner's
   *  outermost select list. */
  final case class Subquery(outer: Select, inner: Statement,
      innerAliases: Seq[String]) extends Statement
  /** Regex measurement — `FROM /pattern/` (Go-RE2-style unanchored
   *  match, the Grafana multi-measurement panel form). `sel` carries
   *  the whole statement with a placeholder measurement; planning
   *  matches the pattern against the store catalog and unions the
   *  per-measurement plans, each tagged with a `measurement` column. */
  final case class RegexSelect(sel: Select, pattern: String) extends Statement
  /** `SELECT <agg> INTO ["rp".]"target" FROM ...` — materialize a query
   *  result as stored points under a new measurement (the InfluxDB
   *  manual-downsample idiom). The write happens at the Api layer (the
   *  shim stays store-free); the result is InfluxDB's
   *  `(time=0, written=N)` row. The written fields are the source's
   *  [[Select.valueColumns]]: a one-item source writes its field under
   *  its `AS` alias (`SELECT mean("v") AS foo INTO t ...` writes field
   *  `foo`). */
  final case class SelectInto(inner: Statement, retentionPolicy: Option[String],
      target: String) extends Statement
  /** `SHOW MEASUREMENTS [ON db] [WITH MEASUREMENT =~ /re/]` — the
   *  Grafana template-variable catalog form; `pattern` filters the
   *  measurement CATALOG (a listing, never a data scan) with a
   *  Go-re2-style unanchored match. */
  final case class ShowMeasurements(pattern: Option[String] = None)
      extends Statement
  case object ShowRetentionPolicies extends Statement
  case object ShowContinuousQueries extends Statement
  case object ShowDatabases extends Statement
  final case class ShowTagKeys(measurement: Option[String]) extends Statement
  final case class ShowTagValues(measurement: Option[String], key: String)
      extends Statement
  final case class ShowFieldKeys(measurement: Option[String]) extends Statement
  final case class ShowSeries(measurement: Option[String]) extends Statement

  private val AggFns = Set("mean", "count", "sum", "min", "max", "median",
    "first", "last", "spread", "stddev", "mode", "distinct")
  private val TransformFns = Set("abs", "difference", "non_negative_difference",
    "cumulative_sum", "elapsed", "derivative", "non_negative_derivative",
    "ceil", "floor", "round", "sqrt", "exp", "ln", "log2", "log10",
    "sin", "cos", "tan", "asin", "acos", "atan")
  /** Transforms that take a trailing argument — a duration unit
   *  (derivative/elapsed) or a count/exponent (moving_average/pow);
   *  parsed into the engine's `fn_arg` spelling. */
  private val ParamTransformFns = Set("derivative", "non_negative_derivative",
    "elapsed", "moving_average", "exponential_moving_average", "pow")

  /**
   * Cheap syntactic sniff: does this string carry a distinctive InfluxQL
   * marker (now() DURATION-LITERAL arithmetic like `now() - 1h`,
   * FILL(...), GROUP BY time(...), a double-quoted rp.measurement pair,
   * or a SHOW form)? Plain Spark SQL has none of these — `now()` alone is
   * a valid Spark function and interval math spells it
   * `now() - INTERVAL 1 HOUR`, so only the bare-duration suffix form
   * (docs/queries:1-2) is claimed; ordinary SQL keeps flowing to
   * `spark.sql` untouched. One deliberate overlap: `SHOW DATABASES` is
   * valid in BOTH dialects — the InfluxQL reading wins (a TSDB client
   * asking for databases wants the store, not the Spark catalog);
   * Spark's other SHOW forms (TABLES, VIEWS, ...) are not claimed.
   */
  /** Replace the CONTENT of single-quoted SQL string literals AND of
   *  `/.../ ` regex bodies (following `=~`/`!~` or a FROM keyword — the
   *  only two places the grammar puts a pattern) with spaces — same
   *  length, delimiters kept, `''` escape honored inside literals,
   *  `\x` escapes honored inside regex bodies — so the syntactic
   *  sniffers and the structural splices (INTO, regex FROM, subquery
   *  parens, clause and AND/OR splits) never match text INSIDE either:
   *  a valid Spark query like `WHERE msg = 'logged into db from host'`
   *  must not be claimed by the into-ident-from shape, a literal `(`
   *  must not unbalance the subquery paren scan, and an apostrophe or
   *  paren inside a regex body (`=~ /don't/`, `=~ /^\(/`) must not open
   *  a phantom string literal or unbalance a paren scan — both are
   *  legal InfluxQL patterns. ONE pass with joint state: masking
   *  literals and regex bodies in separate passes misreads each other's
   *  delimiters (a literal-first pass sees `/don't/`'s apostrophe as a
   *  string opener — the round-15 advice bug). A `/` opens a body only
   *  when the masked PREFIX ends in an opener, so Spark SQL division
   *  (`a/b`) and operators inside already-masked literals never start
   *  one. Length-preserving, so match positions on the masked string
   *  slice the ORIGINAL 1:1. */
  private[graft] def maskLiterals(q: String): String = {
    val sb = new StringBuilder(q)
    var i = 0; var inStr = false; var inRe = false
    while (i < sb.length) {
      val c = sb.charAt(i)
      if (inStr) {
        if (c == '\'') {
          if (i + 1 < sb.length && sb.charAt(i + 1) == '\'') {
            sb.setCharAt(i, ' '); sb.setCharAt(i + 1, ' '); i += 1
          } else inStr = false
        } else sb.setCharAt(i, ' ')
      } else if (inRe) {
        if (c == '\\' && i + 1 < sb.length) {
          sb.setCharAt(i, ' '); sb.setCharAt(i + 1, ' '); i += 1
        } else if (c == '/') inRe = false
        else sb.setCharAt(i, ' ')
      } else if (c == '\'') inStr = true
      else if (c == '/' && opensRegexBody(sb, i)) inRe = true
      i += 1
    }
    sb.toString
  }

  // regex-\w (ASCII word char, the \b boundary class) vs qualifier-ident
  // chars ([\w\-] — the dash is an ident char but NOT a word char, so
  // `x-from` still has a word boundary before `from`)
  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'
  @inline private def isIdentChar(c: Char): Boolean = isWordChar(c) || c == '-'

  /** Does a `/` at position `end` of the (so-far-masked) buffer open a
   *  regex body? True iff the prefix ends — module trailing whitespace —
   *  with `=~`/`!~`, or with the keyword FROM plus zero or more complete
   *  dotted qualifiers (`FROM /re/`, `FROM "rp"./re/`, `FROM db.rp./re/`).
   *  A bounded BACKWARDS scan over the already-masked prefix: each walk
   *  stops at the nearest structural break (typically the previous
   *  slash), so a slash-flood input costs amortized linear time instead
   *  of the former whole-prefix regex re-match per slash (O(n²) on
   *  crafted multi-KB input — the round-15 hostile-input advice). */
  private def opensRegexBody(sb: StringBuilder, end: Int): Boolean = {
    var j = end - 1
    var lastWs = 0
    def skipWs(): Unit = {
      lastWs = 0
      while (j >= 0 && Character.isWhitespace(sb.charAt(j))) { j -= 1; lastWs += 1 }
    }
    // spelled-out keyword check: chars (j-3..j) read `from`, preceded by
    // a word BOUNDARY, followed by at least one whitespace (`\bfrom\s`)
    def atFromKeyword(): Boolean =
      lastWs >= 1 && j >= 3 &&
        (sb.charAt(j) == 'm' || sb.charAt(j) == 'M') &&
        sb.substring(j - 3, j + 1).equalsIgnoreCase("from") &&
        (j - 4 < 0 || !isWordChar(sb.charAt(j - 4)))
    skipWs()
    if (j < 0) return false
    val c = sb.charAt(j)
    if (c == '~')
      return j >= 1 && (sb.charAt(j - 1) == '=' || sb.charAt(j - 1) == '!')
    // walk back over complete qualifier units { '.' ws* ident ws* }*
    while (j >= 0 && sb.charAt(j) == '.') {
      j -= 1; skipWs()
      if (j >= 0 && sb.charAt(j) == '"') {          // "[^"]+" — ≥1 content char
        val close = j; j -= 1
        while (j >= 0 && sb.charAt(j) != '"') j -= 1
        if (j < 0 || close - j < 2) return false
        j -= 1
      } else {                                      // [\w\-]+
        val start0 = j
        while (j >= 0 && isIdentChar(sb.charAt(j))) j -= 1
        if (j == start0) return false
      }
      skipWs()
    }
    atFromKeyword()
  }

  def looksLike(q: String): Boolean = {
    if (q.length > MaxStatementChars) return false
    val s = maskLiterals(q.trim).toLowerCase
    s.matches("(?s)show\\s+measurements\\b.*") ||
      s.matches("show\\s+retention\\s+policies\\s*;?") ||
      s.matches("show\\s+continuous\\s+queries\\s*;?") ||
      s.matches("show\\s+databases\\s*;?") ||
      s.matches("(?s)show\\s+(tag\\s+keys|tag\\s+values|field\\s+keys|series)\\b.*") ||
      s.matches("(?s)select\\s+.*\\bfrom\\s*\\(\\s*select\\b.*") ||
      // FROM /re/ — a regex measurement; no Spark SQL FROM clause starts
      // its relation with a bare slash (paths spell `parquet.`/p/``)
      s.matches("(?s)select\\s+.*\\bfrom\\s+(?:\"[^\"]+\"\\s*\\.\\s*)*/.*") ||
      // SELECT ... INTO <dotted-ident> FROM — InfluxDB's materializing
      // select; Spark's write form is INSERT INTO, which starts with
      // INSERT. The target must parse as a (possibly quoted, dotted)
      // identifier directly before FROM, so a Spark SQL string literal
      // that happens to contain the word "into" is not claimed
      s.matches("(?s)select\\s+.+\\binto\\s+(\"[^\"]+\"|[\\w\\-]+)" +
        "(\\s*\\.\\s*(\"[^\"]+\"|[\\w\\-]+)){0,2}\\s+from\\b.*") ||
      s.matches("(?s).*now\\(\\)\\s*[-+]\\s*\\d+(ns|us|µs|ms|s|m|h|d|w).*") ||
      // the =~ / !~ regex-match operators exist in no Spark SQL dialect
      // (string literals are masked above, so the character pair INSIDE
      // a quoted value is not claimed)
      s.matches("(?s).*[=!]~\\s*/.*") ||
      s.matches("(?s).*\\bfill\\s*\\(.*") ||
      s.matches("(?s).*\\bgroup\\s+by\\s+.*\\btime\\s*\\(.*") ||
      s.matches("(?s).*\\bfrom\\s+\"[^\"]+\"\\s*\\.\\s*\"[^\"]+\".*")
  }

  // FROM accepts 1-3 dotted parts: measurement | rp.measurement |
  // db.rp.measurement (the dashboard form, influxdb_v1.go:229-233 —
  // the db name is the store itself here and is ignored)
  private val SelectRe = (
    "(?is)^SELECT\\s+(.+?)\\s+FROM\\s+(\"[^\"]+\"|[\\w\\-]+)" +
      "(?:\\s*\\.\\s*(\"[^\"]+\"|[\\w\\-]+))?" +
      "(?:\\s*\\.\\s*(\"[^\"]+\"|[\\w\\-]+))?" +
      "(?:\\s+WHERE\\s+(.+?))?" +
      "(?:\\s+GROUP\\s+BY\\s+(.+?))?" +
      "(?:\\s+FILL\\s*\\(\\s*([\\w.\\-]+)\\s*\\))?" +
      "(?:\\s+ORDER\\s+BY\\s+time(?:\\s+(ASC|DESC))?)?" +
      "(?:\\s+LIMIT\\s+(\\d+))?" +
      "(?:\\s+OFFSET\\s+(\\d+))?" +
      "(?:\\s+SLIMIT\\s+(\\d+))?" +
      "(?:\\s+SOFFSET\\s+(\\d+))?\\s*$").r

  private def unquote(s: String): String =
    if (s.length >= 2 && s.head == '"' && s.last == '"') s.substring(1, s.length - 1)
    else s

  /** Recursion ceiling for the grammar's self-nesting shapes (subquery
   *  levels, redundant WHERE parens): generous for anything a dashboard
   *  emits (the deepest known idiom is 3), but bounded so a pathological
   *  input — 100k open-parens through the raw query API — refuses in
   *  the documented envelope instead of killing the caller's thread
   *  with a StackOverflowError (which is a crash, not an error reply). */
  private val MaxNestDepth = 64

  /** Raw statement size ceiling (chars) on the user-facing parse path.
   *  64 KB is orders of magnitude above anything a dashboard emits
   *  (Grafana's longest template-expanded WHERE is low-KB); the cap
   *  bounds total parse CPU on hostile input the same way MaxNestDepth
   *  bounds the stack — refuse cheaply, in the documented envelope,
   *  before any scanning. `looksLike` declines oversized input instead
   *  of throwing (it is a sniffer — unclaimed input flows to Spark SQL,
   *  which has its own limits). */
  private val MaxStatementChars = 64 * 1024

  /** DNF-expansion ceiling for OR-inside-AND WHERE groups: a conjunct
   *  like `(a OR b) AND (c OR d) AND ...` distributes into the product
   *  of its disjunctions; 64 covers any dashboard's template-variable
   *  output (Grafana emits ≤ a handful of OR arms per variable) while a
   *  crafted 2^n expansion refuses in the envelope. */
  private val MaxDnfDisjuncts = 64

  /** Parse a statement; throws IllegalArgumentException outside the
   *  documented grammar (callers fall back to Spark SQL only when
   *  `looksLike` is false — a malformed InfluxQL-looking string should
   *  error as InfluxQL, not as something else). */
  def parse(raw: String): Statement = {
    if (raw.length > MaxStatementChars)
      throw new IllegalArgumentException(
        s"statement exceeds $MaxStatementChars characters (${raw.length})")
    parse(raw, 0)
  }

  private def parse(raw: String, depth: Int): Statement = {
    if (depth > MaxNestDepth)
      throw new IllegalArgumentException(
        s"statement nesting exceeds $MaxNestDepth levels: $raw")
    val q = raw.trim.stripSuffix(";").trim
    val l = q.toLowerCase
    // SHOW MEASUREMENTS [ON db] [WITH MEASUREMENT =~ /re/] — the ON db
    // is accepted and ignored (the store IS the database), the WITH
    // pattern filters the catalog (Grafana's template-variable form)
    val showMeasRe =
      ("(?is)^SHOW\\s+MEASUREMENTS(?:\\s+ON\\s+(?:\"[^\"]+\"|[\\w\\-]+))?" +
        "(?:\\s+WITH\\s+MEASUREMENT\\s*=~\\s*/((?:[^/\\\\]|\\\\.)+)/)?\\s*$").r
    showMeasRe.findFirstMatchIn(q).foreach { m =>
      return ShowMeasurements(Option(m.group(1)).map(_.replace("\\/", "/")))
    }
    if (l.matches("show\\s+retention\\s+policies")) return ShowRetentionPolicies
    if (l.matches("show\\s+continuous\\s+queries")) return ShowContinuousQueries
    if (l.matches("show\\s+databases")) return ShowDatabases
    // the Grafana template-variable catalog forms: optional `ON db`
    // (ignored — the store IS the database), optional FROM measurement
    val on = "(?:\\s+ON\\s+(?:\"[^\"]+\"|[\\w\\-]+))?"
    val from = "(?:\\s+FROM\\s+(\"[^\"]+\"|[\\w\\-.]+))?"
    def meas(g: String): Option[String] = Option(g).map(unquote)
    val tagKeysRe = s"(?is)^SHOW\\s+TAG\\s+KEYS$on$from\\s*$$".r
    val tagValuesRe =
      (s"(?is)^SHOW\\s+TAG\\s+VALUES$on$from\\s+WITH\\s+KEY\\s*=\\s*" +
        "(\"[^\"]+\"|[\\w\\-]+)\\s*$").r
    val fieldKeysRe = s"(?is)^SHOW\\s+FIELD\\s+KEYS$on$from\\s*$$".r
    val seriesRe = s"(?is)^SHOW\\s+SERIES$on$from\\s*$$".r
    q match {
      case tagKeysRe(m) => return ShowTagKeys(meas(m))
      case tagValuesRe(m, k) => return ShowTagValues(meas(m), unquote(k))
      case fieldKeysRe(m) => return ShowFieldKeys(meas(m))
      case seriesRe(m) => return ShowSeries(meas(m))
      case _ =>
    }
    if (l.startsWith("show"))
      throw new IllegalArgumentException(s"unsupported SHOW statement: $raw")
    // SELECT ... INTO target FROM ... — peel the INTO clause (top level
    // only; it sits between the select list and FROM) and parse the rest
    val intoRe = ("(?is)^(SELECT\\s+.+?)\\s+INTO\\s+" +
      "((?:\"[^\"]+\"|[\\w\\-]+)(?:\\s*\\.\\s*(?:\"[^\"]+\"|[\\w\\-]+)){0,2})" +
      "\\s+(FROM\\b.*)$").r
    // all structural splices match against the literal-MASKED text (so
    // `into`/`/re/`/parens INSIDE a string literal are invisible) but
    // slice the ORIGINAL — masking is length-preserving, positions map 1:1
    val qm = maskLiterals(q)
    intoRe.findFirstMatchIn(qm).foreach { m =>
      // tokenize the dotted parts (a QUOTED name may itself carry dots)
      val parts = "\"[^\"]+\"|[\\w\\-]+".r.findAllIn(m.group(2))
        .toSeq.map(unquote)
      val target = parts.last
      val rp = if (parts.length >= 2) Some(parts(parts.length - 2)) else None
      val selPart = q.substring(m.start(1), m.end(1))
      val fromPart = q.substring(m.start(3), m.end(3))
      val inner = parse(s"$selPart $fromPart", depth + 1)
      inner match {
        case _: Select | _: Subquery => return SelectInto(inner, rp, target)
        case _ => throw new IllegalArgumentException(
          "SELECT INTO supports a single- or multi-item SELECT " +
            s"(optionally over a subquery), not a regex FROM: $raw")
      }
    }
    // FROM /re/ — regex measurement: splice in a placeholder, parse the
    // statement as usual, wrap with the pattern (InfluxDB matches the
    // regex UNANCHORED against measurement names, Go re2 style)
    val regexFromRe =
      ("(?is)\\bFROM\\s+((?:(?:\"[^\"]+\"|[\\w\\-]+)\\s*\\.\\s*){0,2})" +
        "/((?:[^/\\\\]|\\\\.)+)/").r
    regexFromRe.findFirstMatchIn(qm).foreach { m =>
      val pattern = q.substring(m.start(2), m.end(2)).replace("\\/", "/")
      val spliced = q.substring(0, m.start) +
        s"FROM ${q.substring(m.start(1), m.end(1))}$RegexMeasurement" +
        q.substring(m.end)
      parse(spliced, depth + 1) match {
        case sel: Select => return RegexSelect(sel, pattern)
        case _ => throw new IllegalArgumentException(
          "a regex measurement supports a plain (single- or multi-item) " +
            s"SELECT, not a subquery: $raw")
      }
    }
    splitSubquery(q).foreach { case (pre, innerText, post) =>
      return parseSubquery(raw, pre, innerText, post, depth)
    }
    // clause splitting runs over the literal-MASKED text (a ` GROUP BY `
    // or ` LIMIT ` inside a quoted WHERE value is data, not a clause
    // boundary — the lazy SelectRe captures would otherwise split the
    // statement inside the literal); groups slice the ORIGINAL by
    // position, masking being length-preserving
    val m = SelectRe.findFirstMatchIn(qm).getOrElse(
      throw new IllegalArgumentException(s"unsupported InfluxQL statement: $raw"))
    def g(i: Int): String =
      if (m.start(i) < 0) null else q.substring(m.start(i), m.end(i))
    // the shared frame — FROM parts ([db.][rp.]measurement; the db name
    // is the store itself and is ignored), WHERE, GROUP BY, FILL, and the
    // SELECT modifiers — identical for single- and multi-item lists
    val fromParts = Seq(g(2), g(3), g(4))
      .filter(_ != null).map(unquote)
    val measurement = fromParts.last
    val rp = if (fromParts.length >= 2) Some(fromParts(fromParts.length - 2)) else None
    val (relativeTime, fromTime, toTime, filters, tagPreds, fieldPreds,
      orPreds) = Option(g(5)).map(parseWhere)
        .getOrElse(("", "", "", DataPointsFilter(), Nil, Nil, Nil))
    val (groupByTime, groupByTag) =
      Option(g(6)).map(parseGroupBy).getOrElse(("", ""))
    val fillType = Option(g(7)).map(_.toLowerCase).getOrElse("")
    val baseReq = DataPointsRequest(
      measurement = measurement,
      relativeTime = relativeTime, fromTime = fromTime, toTime = toTime,
      groupByTime = groupByTime, groupByTag = groupByTag,
      fillType = fillType, filters = filters, tagPredicates = tagPreds,
      fieldPredicates = fieldPreds, orPredicates = orPreds,
      orderDesc = Option(g(8)).exists(_.equalsIgnoreCase("desc")),
      limit = modifier(g(9), "LIMIT"),
      offset = modifier(g(10), "OFFSET"),
      sLimit = modifier(g(11), "SLIMIT"),
      sOffset = modifier(g(12), "SOFFSET"))
    val items = splitTopLevelCommas(g(1)).map(parseSelectItem)
    if (items.isEmpty)
      throw new IllegalArgumentException(s"unsupported select list: ${g(1)}")
    // sequential transforms (difference / derivative / elapsed /
    // cumulative_sum / moving_average and variants) need a time axis to
    // run ALONG: raw rows carry their own `time`, and GROUP BY time(..)
    // provides bucket times — but an aggregate WITHOUT a time bucket
    // collapses the time column away, so `difference(max("value"))` with
    // no GROUP BY time has nothing to order by. Refuse it here so the
    // unsupported shape surfaces through the grammar's documented
    // IllegalArgumentException envelope instead of an opaque analysis
    // error downstream. (A list refuses this shape in the planner.)
    def sequential(t: String): Boolean =
      t == "difference" || t == "non_negative_difference" ||
        t == "cumulative_sum" || t.startsWith("derivative_") ||
        t == "derivative" || t.startsWith("non_negative_derivative") ||
        t.startsWith("elapsed") || t.startsWith("moving_average_") ||
        t.startsWith("exponential_moving_average_")
    items match {
      case Seq(it) if it.transformFunction.split(",").exists(sequential) &&
          it.dataFunction.nonEmpty && groupByTime.isEmpty =>
        throw new IllegalArgumentException(
          "a sequential transform over an aggregate requires GROUP BY time(...): " +
            s"nothing provides a time axis in: $raw")
      case _ => Select(items, baseReq, rp)
    }
  }

  /** A LIMIT/OFFSET/SLIMIT/SOFFSET operand as Int — an
   *  over-Int-range count (`LIMIT 9999999999999999`) refuses in the
   *  documented envelope rather than escaping as a raw
   *  NumberFormatException (found by the round-15 parse fuzz). */
  private def modifier(g: String, what: String): Int =
    if (g == null) 0
    else try g.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$what operand out of range: $g")
    }

  /** Split a select list on its depth-0 commas (commas inside function
   *  parens — `percentile(v, 95)` — stay with their item). Quoted
   *  identifiers can't carry commas in this grammar, so paren depth is
   *  the only state needed. */
  private def splitTopLevelCommas(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i).trim; start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start).trim
    out.result().filter(_.nonEmpty)
  }

  /** One select-list item with its `AS` alias (empty = InfluxDB's
   *  function-name column naming, [[Planner.itemAliases]]). */
  private def parseSelectItem(sel: String): SelectItem = {
    val asRe = "(?is)^(.*?)\\s+AS\\s+(\"[^\"]+\"|\\w+)\\s*$".r
    val (core, alias) = sel.trim match {
      case asRe(c, a) => (c.trim, unquote(a))
      case s => (s, "")
    }
    val (f, fn, tr) = parseSelectList(core)
    SelectItem(fieldName = f, dataFunction = fn, transformFunction = tr,
      alias = alias)
  }

  /** The planner-facing measurement name a subquery's inner result
   *  frame carries (never collides with a stored measurement: stored
   *  names come from the ingest transform, which never emits it). */
  private val SubMeasurement = "__subquery__"

  /** Placeholder spliced in for a `/regex/` FROM while the rest of the
   *  statement parses through the ordinary grammar. */
  private val RegexMeasurement = "__regex__"

  /** Split `... FROM ( inner ) tail` at the balanced parens: (text
   *  before FROM's paren incl. FROM, inner text, tail). None when the
   *  statement has no parenthesized FROM. */
  private def splitSubquery(q: String): Option[(String, String, String)] = {
    // scan the literal- and regex-body-masked text (a paren or `FROM (`
    // inside a string literal must not start or unbalance the split,
    // and an escaped paren in a tag-regex body — `=~ /^\(/` inside a
    // subquery's WHERE — must not unbalance the depth scan) and slice
    // the original — masking is length-preserving
    val qm = maskLiterals(q)
    "(?is)\\bFROM\\s*\\(".r.findFirstMatchIn(qm).flatMap { m =>
      val open = qm.indexOf('(', m.start)
      var depth = 0; var i = open; var close = -1
      while (i < qm.length && close < 0) {
        qm.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = i
          case _ =>
        }
        i += 1
      }
      if (close < 0) None
      else Some((q.substring(0, m.start), q.substring(open + 1, close).trim,
        q.substring(close + 1)))
    }
  }

  /** Parse one nesting level: outer over a parenthesized inner SELECT.
   *  The inner's output column names — the [[Select.valueColumns]] of
   *  its outermost select list — are the columns the outer references
   *  (InfluxDB's contract). Nesting recurses to ANY depth: the inner
   *  text re-enters [[parse]]. */
  private def parseSubquery(raw: String, pre: String, innerText: String,
      post: String, depth: Int): Statement = {
    if (!innerText.toLowerCase.startsWith("select"))
      throw new IllegalArgumentException(
        s"unsupported parenthesized FROM clause (expected a SELECT): $raw")
    // the columns the inner frame actually carries: those of its
    // outermost select list, as planned (a bare `SELECT "a","b" ... GROUP
    // BY time(1h)` inner plans columns `mean`/`mean_1`, not `a`/`b`) —
    // same contract as SELECT INTO's field names
    val (inner, innerAliases) = parse(innerText, depth + 1) match {
      case s: Select => (s, s.valueColumns)
      case s: Subquery => (s, s.outer.valueColumns)
      case _ => throw new IllegalArgumentException(
        s"subquery inner statement must be a SELECT: $raw")
    }
    parse(s"$pre FROM $SubMeasurement$post", depth + 1) match {
      case outer: Select => Subquery(outer, inner, innerAliases)
      case _ => throw new IllegalArgumentException(
        s"unsupported outer SELECT over a subquery: $raw")
    }
  }

  /** The last comma at paren depth 0 — splits a parameterized call's
   *  trailing argument off its (possibly nested) first argument. */
  private def splitLastTopLevelComma(s: String): Option[(String, String)] = {
    var depth = 0; var idx = -1
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => idx = i
        case _ =>
      }
      i += 1
    }
    if (idx < 0) None else Some((s.substring(0, idx), s.substring(idx + 1).trim))
  }

  private def parseSelectList(sel: String): (String, String, String) = {
    val s = sel.trim.replaceAll("(?is)\\s+AS\\s+(\"[^\"]+\"|\\w+)\\s*$", "").trim
    val pct = "(?is)^percentile\\s*\\(\\s*\"?([\\w.\\-]+)\"?\\s*,\\s*(\\d+(?:\\.\\d+)?)\\s*\\)$".r
    val topBottom = "(?is)^(top|bottom)\\s*\\(\\s*\"?([\\w.\\-]+)\"?\\s*,\\s*(\\d+)\\s*\\)$".r
    val integralP = "(?is)^integral\\s*\\(\\s*\"?([\\w.\\-]+)\"?\\s*(?:,\\s*(\\d+[smhdw]?)\\s*)?\\)$".r
    val countDistinct =
      "(?is)^count\\s*\\(\\s*distinct\\s*\\(\\s*\"?([\\w.\\-]+)\"?\\s*\\)\\s*\\)$".r
    val simple = "(?is)^(\\w+)\\s*\\(\\s*\"?([\\w.\\-]+)\"?\\s*\\)$".r
    val bare = "^\"?([\\w.\\-]+)\"?$".r
    val paramArg = "^\\d+[smhdw]?$|^\\d+\\.\\d+$".r
    // peel transform wraps outside-in: abs(difference(max("value"))) —
    // the dashboard energy query, influxdb_v1.go:229 — yields the chain
    // in APPLICATION order (inner first): "difference,abs". A
    // parameterized wrap (derivative(x, 1h), moving_average(x, 5))
    // carries its trailing argument into the `fn_arg` spelling.
    val wrap = "(?is)^(\\w+)\\s*\\((.*)\\)$".r
    def peel(expr: String, chain: List[String]): (String, List[String]) =
      expr.trim match {
        case wrap(tf, inner) if ParamTransformFns(tf.toLowerCase) &&
            splitLastTopLevelComma(inner).exists(a => paramArg.matches(a._2)) =>
          val Some((in2, arg)) = splitLastTopLevelComma(inner)
          peel(in2, s"${tf.toLowerCase}_$arg" :: chain)
        case wrap(tf, inner) if TransformFns(tf.toLowerCase) =>
          peel(inner, tf.toLowerCase :: chain)
        case e => (e, chain)
      }
    val (core, chain) = peel(s, Nil)
    val transform = chain.mkString(",")
    core match {
      case pct(field, n) if chain.isEmpty => (field, s"percentile_$n", "")
      case topBottom(which, field, n) if chain.isEmpty =>
        (field, s"${which.toLowerCase}_$n", "") // multi-row selector
      case integralP(field, dur) =>
        (field, if (dur == null) "integral" else s"integral_$dur", transform)
      case countDistinct(field) => (field, "count_distinct", transform)
      case simple(fn, field) if AggFns(fn.toLowerCase) =>
        (field, fn.toLowerCase, transform)
      case bare(field) => (field, "", transform) // transform over raw rows
      case other => throw new IllegalArgumentException(s"unsupported select list: $other")
    }
  }

  /** Split on a bare keyword at paren depth 0 (case-insensitive),
   *  leaving parenthesized groups intact. Depth and keyword matching
   *  run over the literal- and regex-body-MASKED text (an `and`, a
   *  paren, or a smiley inside a quoted value or a regex body is not
   *  structure); slices come from the ORIGINAL — masking is
   *  length-preserving. A word character (letter, digit, underscore)
   *  adjacent to the keyword disqualifies the match, so snake_case
   *  identifiers like `op_and_mode` never split. */
  private def splitTopLevelKeyword(s: String, kw: String): Seq[String] = {
    val masked = maskLiterals(s)
    val out = Seq.newBuilder[String]
    val upper = masked.toUpperCase
    val kwU = kw.toUpperCase
    var depth = 0; var start = 0; var i = 0
    def wordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    def wordBoundary(j: Int): Boolean =
      (j == 0 || !wordChar(masked.charAt(j - 1))) &&
        (j + kwU.length >= masked.length ||
          !wordChar(masked.charAt(j + kwU.length)))
    while (i < masked.length) {
      masked.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ if depth == 0 && upper.startsWith(kwU, i) && wordBoundary(i) =>
          out += s.substring(start, i); start = i + kwU.length; i = start
        case _ => i += 1
      }
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def parseWhere(w: String): (String, String, String,
      DataPointsFilter, Seq[TagPredicate], Seq[FieldPredicate],
      Seq[Seq[WhereAtom]]) = {
    val relRe = "(?i)^time\\s*>=?\\s*now\\(\\)\\s*-\\s*(\\d+[smhdw])$".r
    val fromRe = "(?i)^time\\s*(>=|>)\\s*'([^']+)'$".r
    val toRe = "(?i)^time\\s*(<=|<)\\s*'([^']+)'$".r
    val tagRe = "^\"?([\\w.\\-]+)\"?\\s*=\\s*'([^']*)'$".r
    // the Grafana template-variable WHERE forms: `tag != 'v'`,
    // `tag =~ /re/`, `tag !~ /re/` (regex body with \/ escapes,
    // Go-re2-style unanchored match)
    val tagNeRe = "^\"?([\\w.\\-]+)\"?\\s*!=\\s*'([^']*)'$".r
    val tagReRe = "^\"?([\\w.\\-]+)\"?\\s*(=~|!~)\\s*/((?:[^/\\\\]|\\\\.)+)/$".r
    // numeric FIELD conditions (`value > 30`) — tags are strings in
    // InfluxQL, so a bare-number comparison is unambiguously a field.
    // The reserved key `time` never matches as a field: a numeric
    // epoch-time bound (`time > 1703…e9`) must REFUSE in the envelope,
    // not silently compare a timestamp column to a double
    val fieldRe =
      "^\"?([\\w.\\-]+)\"?\\s*(>=|<=|!=|>|<|=)\\s*(-?\\d+(?:\\.\\d+)?)$".r
    def notTime(k: String): Boolean = !k.equalsIgnoreCase("time")
    // BALANCED outer-paren check over the MASKED text (a paren inside a
    // literal or regex body is not structure): the first `(` must pair
    // with the LAST character — the greedy `^\((.+)\)$` alone would
    // "unwrap" `(a) OR (b)` into the unbalanced `a) OR (b`
    def isWrapped(t: String): Boolean = {
      val m = maskLiterals(t)
      if (m.length < 2 || m.head != '(' || m.last != ')') false
      else {
        var depth = 0; var i = 0; var wrapped = true
        while (i < m.length) {
          m.charAt(i) match {
            case '(' => depth += 1
            case ')' =>
              depth -= 1
              if (depth <= 0 && i != m.length - 1) wrapped = false
            case _ =>
          }
          i += 1
        }
        wrapped && depth == 0
      }
    }
    // one OR-riding predicate part, expanded to the DISJUNCTION of
    // leaf-only atoms it denotes (no time terms — a time bound inside
    // an OR would make the scan range disjunctive, which nothing
    // emits). A parenthesized part unwraps (Grafana's builder wraps
    // EVERY tag filter in parens); AND inside builds an AndGroup; an
    // OR nested back inside an AND — `(a AND (b OR c)) OR d`, the full
    // two-level-DNF Grafana-builder closure (round 16) — DISTRIBUTES
    // at parse time into `(a AND b) OR (a AND c) OR d`, so the model
    // never grows an Or node and the planner/tier logic see only
    // leaf-atom AndGroups. The expansion is capped: a crafted
    // conjunction of many OR groups refuses in the envelope instead of
    // exploding exponentially.
    def atoms(t0: String): Seq[WhereAtom] = atomsAt(t0, 0)
    def atomsAt(t0: String, depth: Int): Seq[WhereAtom] = {
      if (depth > MaxNestDepth) throw new IllegalArgumentException(
        s"WHERE paren nesting exceeds $MaxNestDepth levels: $t0")
      val t = t0.trim
      t match {
        case tagRe(k, v) => Seq(TagPredicate(k, "=", v))
        case tagNeRe(k, v) => Seq(TagPredicate(k, "!=", v))
        case tagReRe(k, op, re) => Seq(TagPredicate(k, op, re.replace("\\/", "/")))
        case fieldRe(k, op, v) if notTime(k) =>
          Seq(FieldPredicate(k, op, v.toDouble))
        case _ if isWrapped(t) =>
          val inner = t.substring(1, t.length - 1).trim
          val orParts = splitTopLevelKeyword(inner, "OR")
          if (orParts.length >= 2) orParts.flatMap(atomsAt(_, depth + 1))
          else {
            val andParts = splitTopLevelKeyword(inner, "AND")
            if (andParts.length >= 2) {
              // cartesian product of each conjunct's disjunction —
              // (a OR b) AND (c OR d) -> ac, ad, bc, bd — flattening
              // nested AndGroups (associativity) so the model invariant
              // holds: an AndGroup's atoms are always LEAF predicates
              val product = andParts.map(atomsAt(_, depth + 1))
                .foldLeft(Seq(Seq.empty[WhereAtom])) { (acc, choices) =>
                  val next = for { a <- acc; c <- choices } yield a :+ c
                  if (next.length > MaxDnfDisjuncts)
                    throw new IllegalArgumentException(
                      s"WHERE group expands past $MaxDnfDisjuncts disjuncts: $t0")
                  next
                }
              product.map { conj =>
                val flat = conj.flatMap {
                  case AndGroup(as) => as; case a => Seq(a) }
                if (flat.length == 1) flat.head else AndGroup(flat)
              }
            } else atomsAt(inner, depth + 1)
          }
        case other => throw new IllegalArgumentException(
          s"unsupported WHERE condition: $other")
      }
    }
    var rel = ""; var from = ""; var to = ""
    var tags = Map.empty[String, String]
    val preds = Seq.newBuilder[TagPredicate]
    val fpreds = Seq.newBuilder[FieldPredicate]
    val orGroups = Seq.newBuilder[Seq[WhereAtom]]
    // one AND conjunct: a parenthesized group — an OR group
    // (`("host" = 'a' OR "host" = 'b')`, the pre-regex Grafana
    // multi-value variable shape: atoms disjoin) or redundant parens
    // around a single condition, which unwrap recursively — or a leaf.
    // An UNwrapped `(...) OR (...)` is accepted only when it is the
    // WHOLE WHERE clause: InfluxQL binds AND tighter than OR, so a bare
    // `a AND b OR c` means `(a AND b) OR c` — NOT what splitting the
    // clause at AND first would plan — and refusing the ambiguous
    // spelling beats silently diverging from InfluxDB.
    def term(t: String, soleConjunct: Boolean, depth: Int = 0): Unit = {
      if (depth > MaxNestDepth) throw new IllegalArgumentException(
        s"WHERE paren nesting exceeds $MaxNestDepth levels: $t")
      if (isWrapped(t)) {
        val inner = t.substring(1, t.length - 1).trim
        val parts = splitTopLevelKeyword(inner, "OR")
        if (parts.length >= 2) orGroups += parts.flatMap(atoms)
        // redundant parens around one condition
        else term(inner, soleConjunct, depth + 1)
      } else t match {
        case relRe(d) => rel = d
        case fromRe(_, ts) => from = ts
        case toRe(_, ts) => to = ts
        case tagRe(k, v) => tags += (k -> v)
        case tagNeRe(k, v) => preds += TagPredicate(k, "!=", v)
        case tagReRe(k, op, re) =>
          preds += TagPredicate(k, op, re.replace("\\/", "/"))
        case fieldRe(k, op, v) if notTime(k) =>
          fpreds += FieldPredicate(k, op, v.toDouble)
        case _ if splitTopLevelKeyword(t, "OR").length >= 2 =>
          if (!soleConjunct) throw new IllegalArgumentException(
            "an unparenthesized OR next to AND is ambiguous (InfluxQL " +
              s"binds AND tighter) — parenthesize the OR group: $t")
          orGroups += splitTopLevelKeyword(t, "OR").flatMap(atoms)
        case other => throw new IllegalArgumentException(
          s"unsupported WHERE condition: $other")
      }
    }
    val conjuncts = splitTopLevelKeyword(w, "AND")
    conjuncts.foreach(term(_, conjuncts.length == 1))
    (rel, from, to, DataPointsFilter(tags = tags), preds.result(),
      fpreds.result(), orGroups.result())
  }

  private def parseGroupBy(g: String): (String, String) = {
    val timeRe = "(?i)^time\\s*\\(\\s*(\\d+[smhdw])\\s*\\)$".r
    var gbTime = ""
    val gbTags = Seq.newBuilder[String]
    g.split(",").map(_.trim).filter(_.nonEmpty).foreach {
      case timeRe(d) => gbTime = d
      // a tag token is one identifier — a swallowed trailing clause
      // (the lazy GROUP BY capture can eat e.g. a malformed ORDER BY)
      // must fail inside the documented error envelope, not surface
      // later as a Spark AnalysisException on a bogus column
      case t if unquote(t).matches("[\\w\\-.]+") => gbTags += unquote(t)
      case t => throw new IllegalArgumentException(s"unsupported GROUP BY term: $t")
    }
    // several tags — `GROUP BY time(X), tag1, tag2` (raw-InfluxQL-only
    // surface; the reference API takes one tag) — ride the DTO's single
    // field comma-joined; [[DataPointsRequest.groupByTagKeys]] splits
    (gbTime, gbTags.result().distinct.mkString(","))
  }

  /** Plan a parsed SELECT: an explicit retention policy pins the tier,
   *  otherwise the planner's tier policy resolves as usual. An open-ended
   *  absolute range (`time >= '...'` with no upper bound) closes at `now`,
   *  matching the reference's default query horizon. */
  def dataPoints(sel: Select, resolve: Tier => DataFrame,
      tierByName: String => Option[Tier], now: Instant,
      sliceResolve: Option[(Tier, String, Long, Long) => DataFrame] = None): DataFrame = {
    val req = sel.req
    val closed =
      if (req.fromTime.nonEmpty && req.toTime.isEmpty)
        sel.copy(req = req.copy(toTime = now.toString))
      else sel
    // an explicit retention policy PINS the tier — the slice reader
    // must then read that tier too, whatever tier the planner's policy
    // would have picked
    sel.retentionPolicy match {
      case Some(name) =>
        val t = tierByName(name).getOrElse(
          throw new IllegalArgumentException(s"unknown retention policy: $name"))
        planPinned(closed, _ => resolve(t), now, sliceResolve.map(f =>
          (_: Tier, m: String, a: Long, b: Long) => f(t, m, a, b)))
      case None => planPinned(closed, resolve, now, sliceResolve)
    }
  }

  /** Plan a select over already-pinned readers: one item through the
   *  single-field defaults ([[Planner.dataPoints]]), a list as one scan
   *  and one shuffle ([[Planner.dataPointsMulti]]). */
  private def planPinned(sel: Select, resolve: Tier => DataFrame, now: Instant,
      sliceResolve: Option[(Tier, String, Long, Long) => DataFrame]): DataFrame =
    sel.items match {
      case Seq(it) => Planner.dataPoints(sel.req.copy(fieldName = it.fieldName,
        dataFunction = it.dataFunction, transformFunction = it.transformFunction),
        resolve, now, sliceResolve)
      case items => Planner.dataPointsMulti(items, sel.req, resolve, now, sliceResolve)
    }

  /**
   * Plan a subquery (any nesting depth): the inner plans as usual —
   * recursing when it is itself a subquery — its result re-enters the
   * planner as a points frame (bucket times back to timestamps, the
   * value column named by the inner's alias so the outer's field
   * reference finds it), and the outer request runs over it. An outer
   * with no time bounds inherits the inner's, recursively down to the
   * innermost explicit WHERE (the dashboard
   * `SELECT max(m) FROM (SELECT mean(v) ... WHERE time > ...)`
   * shape puts WHERE inside); null gap rows from the inner's fill are
   * not points and do not reach the outer (InfluxDB semantics). The
   * inner must produce a time axis — a whole-range inner aggregate
   * leaves the outer nothing to range over and refuses in the envelope.
   */
  def dataPoints(sub: Subquery, resolve: Tier => DataFrame,
      tierByName: String => Option[Tier], queryNow: Instant,
      // no default: Scala forbids defaults on two overloads — the
      // Select overload keeps its None default, callers here pass one
      sliceResolve: Option[(Tier, String, Long, Long) => DataFrame]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
    // the INNER reads the store (slice applies); the outer runs over
    // the inner's in-memory points frame (nothing to slice). A nested
    // inner recurses — each level re-enters the planner over the level
    // below's aggregated (bucket-count-sized) frame, so only the
    // INNERMOST level ever scans data
    val innerDf = sub.inner match {
      case s: Select => dataPoints(s, resolve, tierByName, queryNow, sliceResolve)
      case s2: Subquery => dataPoints(s2, resolve, tierByName, queryNow, sliceResolve)
      case other => throw new IllegalArgumentException(
        s"unsupported subquery inner: $other")
    }
    if (!innerDf.columns.contains("time"))
      throw new IllegalArgumentException(
        "a subquery's inner SELECT must carry a time axis (GROUP BY " +
          "time(...) or raw points); a whole-range aggregate leaves the " +
          "outer query nothing to select over")
    // a one-item inner (or a nested inner whose outer has one item)
    // plans its column as `value` and takes its AS name here; a list's
    // columns already carry their itemAliases names
    val valueCols = sub.innerAliases
    val named =
      if (valueCols.size == 1) innerDf.withColumnRenamed("value", valueCols.head)
      else innerDf
    val tagCols = named.columns.toSeq.filterNot((valueCols :+ "time").toSet)
    // gap-fill rows where EVERY value column is null are not points; a
    // row with at least one real field is a point (the outer's aggregates
    // skip its null cells, the InfluxDB semantics)
    val anyReal = valueCols.map(col(_).isNotNull).reduce(_ || _)
    val pts = named.filter(anyReal)
      .select(Seq(lit(SubMeasurement).as("measurement"),
        timestamp_seconds(col("time")).as("time")) ++
        valueCols.map(col) ++ tagCols.map(col): _*)
    val o = sub.outer.req
    def boundsOf(r: DataPointsRequest): (Long, Long) =
      if (r.fromTime.nonEmpty)
        (Instant.parse(r.fromTime).getEpochSecond,
          Instant.parse(if (r.toTime.isEmpty) queryNow.toString else r.toTime)
            .getEpochSecond)
      else
        (queryNow.getEpochSecond -
          TierPolicy.relativeToMinutes(r.relativeTime) * 60,
          queryNow.getEpochSecond)
    def bucketOf(r: DataPointsRequest): Long = math.max(
      TierPolicy.relativeToMinutes(
        if (r.groupByTime == "auto") "" else r.groupByTime) * 60, 1L)
    // the time range a statement's RESULT rows may span: its own bounds
    // widened by one of its OWN buckets (the first bucket START floors
    // below its own fromSec, and InfluxDB's unbounded outer still
    // selects that bucket); a nesting level with no bounds of its own
    // recurses — each level widens the level below's range by its own
    // bucket, so the recursion reaches the innermost explicit WHERE
    def resultRange(st: Statement): (Long, Long) = st match {
      case s2: Subquery =>
        val o2 = s2.outer.req
        val (f, t) =
          if (o2.relativeTime.nonEmpty || o2.fromTime.nonEmpty) boundsOf(o2)
          else resultRange(s2.inner)
        (f - bucketOf(o2), t)
      case s: Select =>
        val (f, t) = boundsOf(s.req)
        (f - bucketOf(s.req), t)
      case other => throw new IllegalArgumentException(
        s"unsupported subquery inner: $other")
    }
    val outerReq =
      if (o.relativeTime.nonEmpty || o.fromTime.nonEmpty) o
      else {
        // no outer bounds: cover the WHOLE inner result
        val (fromSec, toSec) = resultRange(sub.inner)
        o.copy(fromTime = Instant.ofEpochSecond(fromSec).toString,
          toTime = Instant.ofEpochSecond(toSec).toString)
      }
    // a one-item outer that names no field other than the default
    // `value` selects the single inner column; over a multi-column inner
    // it must name one
    val items = sub.outer.items match {
      case Seq(it) if it.fieldName.isEmpty || it.fieldName == "value" =>
        val fld =
          if (valueCols.size == 1) valueCols.head
          else if (valueCols.contains("value")) "value"
          else throw new IllegalArgumentException(
            "the outer SELECT over a multi-column subquery must name " +
              s"the inner column it selects (one of: ${valueCols.mkString(", ")})")
        Seq(it.copy(fieldName = fld))
      case its => its
    }
    planPinned(Select(items, outerReq, None), _ => pts, queryNow, None)
  }

  /**
   * Plan a regex-measurement SELECT: match the pattern (unanchored, the
   * Go-re2 convention InfluxDB uses) against the store's measurement
   * catalog — a METADATA-sized list, never a data scan — and union the
   * per-measurement plans, each tagged with a `measurement` column
   * (InfluxDB emits one series per matched measurement). Every branch
   * prunes to its own measurement partitions, so the union reads exactly
   * the rows a single rlike scan would, while fills/transforms/limits
   * run per measurement as InfluxDB defines them. SLIMIT/SOFFSET order
   * series ACROSS measurements in InfluxDB and refuse here.
   */
  def dataPoints(rs: RegexSelect, resolve: Tier => DataFrame,
      tierByName: String => Option[Tier], now: Instant,
      sliceResolve: Option[(Tier, String, Long, Long) => DataFrame],
      measurements: () => Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    if (rs.sel.req.sLimit > 0 || rs.sel.req.sOffset > 0)
      throw new IllegalArgumentException(
        "SLIMIT/SOFFSET with a regex measurement is not supported " +
          "(the series cut would order across measurements)")
    val p = java.util.regex.Pattern.compile(rs.pattern)
    // the per-measurement plans gain a `measurement` result column — a
    // select alias or group tag of that name would be silently replaced
    def tagged(m: String, label: String): DataFrame = {
      val d = dataPoints(rs.sel.copy(req = rs.sel.req.copy(measurement = m)),
        resolve, tierByName, now, sliceResolve)
      require(!d.columns.contains("measurement"),
        "a regex-measurement select cannot also name a column `measurement`")
      d.withColumn("measurement", lit(label))
    }
    measurements().distinct.filter(m => p.matcher(m).find()).sorted match {
      // no match: an empty frame in the regex result shape (a sentinel
      // plan supplies the schema; limit(0) keeps even its fill spine out)
      case Nil => tagged(RegexMeasurement, "").limit(0)
      case matched => matched.map(m => tagged(m, m)).reduce(_ unionByName _)
    }
  }

  /** String-in, DataFrame-out convenience for SELECTs (the S7 entry).
   *  The catalog-backed forms take their extra inputs explicitly:
   *  regex FROM needs the measurement list, SELECT INTO a store to
   *  write (both wired at the Api layer). */
  def dataPoints(sql: String, resolve: Tier => DataFrame,
      tierByName: String => Option[Tier], now: Instant): DataFrame =
    dataPoints(sql, resolve, tierByName, now, () => Seq.empty)

  /** As above, with the measurement catalog a `/regex/` FROM matches. */
  def dataPoints(sql: String, resolve: Tier => DataFrame,
      tierByName: String => Option[Tier], now: Instant,
      measurements: () => Seq[String]): DataFrame =
    parse(sql) match {
      case sel: Select => dataPoints(sel, resolve, tierByName, now)
      case sub: Subquery => dataPoints(sub, resolve, tierByName, now, None)
      case rs: RegexSelect =>
        dataPoints(rs, resolve, tierByName, now, None, measurements)
      case other => throw new IllegalArgumentException(
        s"not a planner-served SELECT statement (SELECT INTO and the SHOW " +
          s"forms dispatch through the Api): $other")
    }
}
