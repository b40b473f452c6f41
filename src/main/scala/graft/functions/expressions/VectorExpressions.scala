package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the vector/hash hot paths.
 *
 * Spark's higher-order functions (`zip_with`, `aggregate`, `transform`)
 * evaluate their lambda per element via interpreted expression dispatch —
 * benchmarking the brute-force cosine join at sf0.1 showed ~50 s spent
 * there. These expressions replace the per-element lambda machinery with
 * a tight loop, and DotProduct/L2Norm generate Java directly into
 * whole-stage codegen (`doGenCode`), so the 100 TB scan path stays fully
 * compiled.
 */
object VectorExpressions {
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))
  def l2norm(a: Column): Column =
    GraftBridge.column(L2Norm(GraftBridge.expression(a)))
  def minhashSig(shingles: Column, k: Int): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(shingles), k))
  def wordShingles(tokens: Column, n: Int, distinct: Boolean): Column =
    GraftBridge.column(WordShingles(GraftBridge.expression(tokens), n, distinct))
  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens), portable = false))
  def simhashPortable(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens), portable = true))
  def lshSignature(vec: Column, nPlanes: Int, portable: Boolean = true): Column =
    GraftBridge.column(LshSignature(GraftBridge.expression(vec), nPlanes, portable))
  def randomProjectionQ6(vec: Column, k: Int, portable: Boolean = true): Column =
    GraftBridge.column(RandomProjectionQ6(GraftBridge.expression(vec), k, portable))
  def nfcNormalize(s: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(s)))
  def centroidTopK(vec: Column, norm: Column, cents: Array[Double],
      norms: Array[Double], dims: Int, n: Int, roundScores: Boolean): Column =
    GraftBridge.column(CentroidTopK(GraftBridge.expression(vec),
      GraftBridge.expression(norm), cents, norms, dims, n, roundScores))
  def tokenStats(tokens: Column, stopwords: Seq[String]): Column =
    GraftBridge.column(TokenStats(GraftBridge.expression(tokens), stopwords))
  def repetitionStats(text: Column): Column =
    GraftBridge.column(RepetitionStats(GraftBridge.expression(text)))
  def winnow(kgrams: Column, w: Int, portable: Boolean = true): Column =
    GraftBridge.column(Winnow(GraftBridge.expression(kgrams), w, portable))

  private[expressions] def elementGetter(t: DataType): String = t match {
    case ArrayType(FloatType, _) => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case ArrayType(IntegerType, _) => "getInt" // int8-quantized vectors
    case other => throw new IllegalArgumentException(s"unsupported vector type: $other")
  }
}

/** Σ aᵢ·bᵢ over two float/double arrays, widened to double per element
 *  (bit-identical to the `zip_with` + fold formulation it replaces). */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType | IntegerType, _),
          ArrayType(FloatType | DoubleType | IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure("DotProduct expects array<float|double|int> inputs")
  }

  private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case ArrayType(FloatType, _) => a.getFloat(i).toDouble
    case ArrayType(IntegerType, _) => a.getInt(i).toDouble
    case _ => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += get(a, left.dataType, i) * get(b, right.dataType, i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ga = VectorExpressions.elementGetter(left.dataType)
    val gb = VectorExpressions.elementGetter(right.dataType)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double)$a.$ga($i) * (double)$b.$gb($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** √(Σ aᵢ²) of a float/double/int array. */
case class L2Norm(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType | IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure("L2Norm expects an array<float|double|int> input")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val get: Int => Double = child.dataType match {
      case ArrayType(FloatType, _) => i => a.getFloat(i).toDouble
      case ArrayType(IntegerType, _) => i => a.getInt(i).toDouble
      case _ => i => a.getDouble(i)
    }
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val x = get(i)
      acc += x * x
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = VectorExpressions.elementGetter(child.dataType)
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $x = (double)$a.$g($i);
         |  $acc += $x * $x;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Contiguous n-token shingles joined by single spaces, optionally
 * de-duplicated preserving first occurrence (= array_distinct semantics).
 * The interpreted `transform(sequence, i -> concat_ws(slice(...)))`
 * formulation copies O(n) per shingle (O(n²) per document) through lambda
 * dispatch — profiled at ~2.5 s per pass over 5000 docs at sf0.1, and the
 * LSH self-join evaluates it four times. This is a single pass.
 */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("WordShingles expects array<string>")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val len = arr.numElements()
    if (len < n) return ArrayData.toArrayData(Array.empty[org.apache.spark.unsafe.types.UTF8String])
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](len)
    var i = 0
    while (i < len) { toks(i) = arr.getUTF8String(i); i += 1 }
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.unsafe.types.UTF8String](len - n + 1)
    val seen = if (distinct) new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]() else null
    i = 0
    while (i <= len - n) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks(i + j); j += 1 }
      val s = org.apache.spark.unsafe.types.UTF8String.concatWs(space, parts: _*)
      if (seen == null || seen.add(s)) out += s
      i += 1
    }
    ArrayData.toArrayData(out.toArray[AnyRef])
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * One pass over a token array → (token_count, total_chars, stopword_hits).
 * Fuses the three interpreted higher-order passes the quality-score
 * formula needs (aggregate-length, filter-isin, size). Values are
 * bit-identical to the unfused formulation (integer counts).
 */
case class TokenStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("token_count", IntegerType, nullable = false),
    StructField("total_chars", LongType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("TokenStats expects array<string>")
  }

  @transient private lazy val stopSet: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    stopwords.foreach(w => s.add(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
    s
  }

  def compute(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var chars = 0L
    var hits = 0
    var i = 0
    while (i < n) {
      val t = v.getUTF8String(i)
      chars += t.numChars()
      if (stopSet.contains(t)) hits += 1
      i += 1
    }
    InternalRow(n, chars, hits)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  // A real codegen body (a call into this instance) rather than
  // CodegenFallback: keeps the whole stage compiled AND lets whole-stage
  // subexpression elimination evaluate ONE TokenStats per row even when
  // optimizer rules (CollapseProject) have inlined the struct into every
  // derived column — interpreted projections do no CSE, so a fallback
  // here costs one full token scan per field reference.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenStats", this,
      classOf[TokenStats].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * One pass over the RAW text → the six integer counts behind the
 * Gopher-style repetition fractions: (line_count, line_distinct,
 * token_count, token_distinct, gram3_count, gram3_distinct). Fuses what
 * the declarative form spells as split + filter-lambda + array_distinct
 * + shingles (four interpreted passes, three intermediate arrays) into
 * one scan with hash sets. Semantics mirror the declarative/oracle form
 * exactly: lines split on '\n' and count when they contain a non-space
 * character (Spark/DuckDB `trim` strips 0x20 only); tokens are maximal
 * `[a-z0-9]+` runs of the Unicode-lowercased text; 3-grams are
 * space-joined token triples (tokens can't contain spaces, so joined
 * strings are in bijection with triples).
 */
case class RepetitionStats(child: Expression)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("line_count", IntegerType, nullable = false),
    StructField("line_distinct", IntegerType, nullable = false),
    StructField("token_count", IntegerType, nullable = false),
    StructField("token_distinct", IntegerType, nullable = false),
    StructField("gram3_count", IntegerType, nullable = false),
    StructField("gram3_distinct", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("RepetitionStats expects string")
  }

  def compute(u: org.apache.spark.unsafe.types.UTF8String): InternalRow = {
    val text = u.toString
    // lines over the ORIGINAL text (the declarative form dedups the raw
    // line strings, untrimmed — only the emptiness check trims)
    var lineCount = 0
    val lineSet = new java.util.HashSet[String]()
    val n = text.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || text.charAt(i) == '\n') {
        var j = start
        var nonSpace = false
        while (j < i && !nonSpace) {
          if (text.charAt(j) != ' ') nonSpace = true
          j += 1
        }
        if (nonSpace) { lineCount += 1; lineSet.add(text.substring(start, i)) }
        start = i + 1
      }
      i += 1
    }
    // tokens over the lowercased text (UTF8String.toLowerCase ≡ lower())
    val low = u.toLowerCase.toString
    val m = low.length
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    i = 0
    while (i < m) {
      val c = low.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < m && {
          val d = low.charAt(j); (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) j += 1
        toks += low.substring(i, j)
        i = j
      } else i += 1
    }
    val tokSet = new java.util.HashSet[String](toks.length * 2 + 1)
    toks.foreach(tokSet.add)
    val gram3Count = math.max(0, toks.length - 2)
    val gram3Set = new java.util.HashSet[String](gram3Count * 2 + 1)
    i = 0
    while (i + 2 < toks.length) {
      gram3Set.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    InternalRow(lineCount, lineSet.size, toks.length, tokSet.size,
      gram3Count, gram3Set.size)
  }

  override def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  // Codegen via an instance call (see TokenStats.doGenCode for why):
  // CollapseProject inlines this struct into every derived fraction —
  // only whole-stage CSE keeps it at one text scan per row.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repStats", this,
      classOf[RepetitionStats].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * One-pass SimHash over a token array: per token, a 64-bit hash; each hash
 * bit votes ±1 into bit counters; sign of each counter becomes the output
 * bit. Replaces an explode-to-(doc × token × 64-bit) shuffle (~32M rows at
 * sf0.1) with one eval per document.
 *
 * Two token-hash modes:
 *  - default: xxhash64 (same algorithm/seed 42 as Spark's builtin), 64-bit
 *    signature — the fastest path;
 *  - portable: the first 60 bits of md5(token) (= the value of the first
 *    15 hex chars of the digest), 60-bit signature — computable by any
 *    engine with an md5 function, which makes the whole simhash pipeline
 *    verifiable bit-for-bit against an external SQL oracle.
 */
case class SimHash64(child: Expression, portable: Boolean)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  val bits: Int = if (portable) 60 else 64

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("SimHash64 expects array<string>")
  }

  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")

  /** Unsigned value of the first 15 hex chars of md5(token). */
  private def portableHash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    md5.reset()
    val d = md5.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h >>> 4
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val counters = new Array[Int](bits)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h =
        if (portable) portableHash(s)
        else org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(s, 42L)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (counters(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Winnowing fingerprint selection (the MOSS scheme, Schleimer et al.
 * 2003): hash every k-gram, slide a window of `w` consecutive hashes,
 * keep the minimum of each window — the distinct selected hashes are a
 * position-robust fingerprint: any shared run of ≥ w+k−1 tokens between
 * two documents GUARANTEES a shared fingerprint regardless of where the
 * run sits in either document. This is the containment/partial-overlap
 * detector the whole-document schemes (Jaccard, MinHash, SimHash)
 * cannot provide. Returns the distinct fingerprints SORTED ascending
 * (deterministic output; the set, not the order, is the semantics).
 * Sliding minimum runs O(n) via a monotonic deque. Fewer than w hashes
 * → the single global minimum (every doc with ≥ 1 k-gram fingerprints).
 * Portable mode hashes with the first 60 bits of md5 (replicable in any
 * SQL engine); the scale default is xxhash64.
 */
case class Winnow(child: Expression, w: Int, portable: Boolean)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  require(w >= 1, "window must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("Winnow expects array<string>")
  }

  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")

  private def hash(s: org.apache.spark.unsafe.types.UTF8String): Long =
    if (portable) {
      md5.reset()
      val d = md5.digest(s.getBytes)
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
      h >>> 4
    } else org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(s, 42L)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return ArrayData.toArrayData(Array.empty[Long])
    val h = new Array[Long](n)
    var i = 0
    while (i < n) { h(i) = hash(arr.getUTF8String(i)); i += 1 }
    val sel = new java.util.TreeSet[java.lang.Long]()
    if (n < w) {
      var m = h(0); i = 1
      while (i < n) { if (h(i) < m) m = h(i); i += 1 }
      sel.add(m)
    } else {
      // monotonic deque of indices; head is the window minimum
      val dq = new java.util.ArrayDeque[Int]()
      i = 0
      while (i < n) {
        while (!dq.isEmpty && h(dq.peekLast()) >= h(i)) dq.pollLast()
        dq.addLast(i)
        if (dq.peekFirst() <= i - w) dq.pollFirst()
        if (i >= w - 1) sel.add(h(dq.peekFirst()))
        i += 1
      }
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * One-pass hyperplane-LSH signature over a float/double vector: bit p of
 * the output long = sign of ⟨v, plane_p⟩. Two plane generators:
 *
 *  - portable (oracle-parity mode):
 *      comp(p, i) = (((x·x) mod 1000003) · 2654435761 mod 1000000) / 1e6 − 0.5
 *    with x = p·65537 + i + 1 — pure 64-bit integer arithmetic (no
 *    overflow: max intermediate < 2.7e15), reproducible in any SQL
 *    engine, so LSH bucketing can be verified exactly by an external
 *    oracle. The quadratic step decorrelates planes (a linear Weyl step
 *    makes planes near-parallel).
 *  - non-portable (scale default): comp(p, i) = the top 53 bits of
 *    xxhash64(x, seed 42) mapped to [−0.5, 0.5) — better-distributed
 *    plane weights; not replicable in engines without xxhash64.
 *
 * Either way the plane matrix is computed ONCE per task on first eval
 * (dims become known from the first vector) and cached — the inner loop
 * is a plain dot product, not per-element hash arithmetic.
 */
case class LshSignature(child: Expression, nPlanes: Int, portable: Boolean = true)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  require(nPlanes >= 1 && nPlanes <= 63, "nPlanes must be in [1, 63]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("LshSignature expects array<float|double>")
  }

  @transient private var planes: Array[Double] = _
  @transient private var planeDims: Int = -1

  private def planeMatrix(dims: Int): Array[Double] = {
    if (planes == null || planeDims != dims) {
      val m = new Array[Double](nPlanes * dims)
      var p = 0
      while (p < nPlanes) {
        var i = 0
        while (i < dims) {
          val x = p.toLong * 65537L + i + 1
          m(p * dims + i) =
            if (portable)
              (((x * x) % 1000003L) * 2654435761L % 1000000L).toDouble / 1000000.0 - 0.5
            else
              (org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(x, 42L) >>> 11)
                .toDouble / (1L << 53).toDouble - 0.5
          i += 1
        }
        p += 1
      }
      planes = m
      planeDims = dims
    }
    planes
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val isF = child.dataType match { case ArrayType(FloatType, _) => true; case _ => false }
    val n = arr.numElements()
    val m = planeMatrix(n)
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      val off = p * n
      var i = 0
      while (i < n) {
        val e = if (isF) arr.getFloat(i).toDouble else arr.getDouble(i)
        dot += e * m(off + i)
        i += 1
      }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Johnson-Lindenstrauss random projection to `k` dims, in integer
 * micro-units: yₚ = Σᵢ floor(xᵢ·w(p,i)·1e6 + 0.5), the SAME plane matrix
 * (and cache) as [[LshSignature]] — the LSH signature is exactly
 * `sign(project(x))`. Each term is quantized BEFORE the sum, so the
 * output is an order-independent long sum any engine replicates exactly;
 * the quantization error (≤ dims·5e-7 per output) is far below the JL
 * distortion the projection itself accepts. One map-stage eval per row.
 */
case class RandomProjectionQ6(child: Expression, k: Int, portable: Boolean = true)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  require(k >= 1, "k must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("RandomProjectionQ6 expects array<float|double>")
  }

  @transient private var planes: Array[Double] = _
  @transient private var planeDims: Int = -1

  private def planeMatrix(dims: Int): Array[Double] = {
    if (planes == null || planeDims != dims) {
      val m = new Array[Double](k * dims)
      var p = 0
      while (p < k) {
        var i = 0
        while (i < dims) {
          val x = p.toLong * 65537L + i + 1
          m(p * dims + i) =
            if (portable)
              (((x * x) % 1000003L) * 2654435761L % 1000000L).toDouble / 1000000.0 - 0.5
            else
              (org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(x, 42L) >>> 11)
                .toDouble / (1L << 53).toDouble - 0.5
          i += 1
        }
        p += 1
      }
      planes = m
      planeDims = dims
    }
    planes
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val isF = child.dataType match { case ArrayType(FloatType, _) => true; case _ => false }
    val n = arr.numElements()
    val m = planeMatrix(n)
    val out = new Array[Long](k)
    var p = 0
    while (p < k) {
      var acc = 0L
      val off = p * n
      var i = 0
      while (i < n) {
        val e = if (isF) arr.getFloat(i).toDouble else arr.getDouble(i)
        acc += math.floor(e * m(off + i) * 1e6 + 0.5).toLong
        i += 1
      }
      out(p) = acc
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * One-pass k-slot MinHash signature over an array of shingle strings:
 * slotᵢ = min over shingles of ((aᵢ·crc32(s) + bᵢ) mod p), p = 2³¹−1,
 * deterministic odd/affine seeds. Replaces k separate interpreted
 * `transform`+`array_min` passes with a single loop (k·|shingles| work,
 * zero allocation per slot). One eval per document — CodegenFallback is
 * fine here; the loop body dominates.
 */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("MinHashSignature expects array<string>")
  }

  private val P = 2147483647L

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill[Long](k)(Long.MaxValue)
    val crc = new java.util.zip.CRC32()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      crc.reset()
      crc.update(s.getBytes)
      val h = crc.getValue
      var j = 0
      while (j < k) {
        val a = 1L + 2L * j
        val b = 97L + 31L * j
        val hv = java.lang.Math.floorMod(a * h + b, P)
        if (hv < sig(j)) sig(j) = hv
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * Top-`n` nearest centroids of a vector — ONE expression node holding
 * the centroid matrix as instance state, the LARGE-k twin of the
 * unrolled literal score-array formulation in
 * [[graft.functions.Similarity]]: that shape embeds k centroid vectors
 * as k separate literal subtrees (k DotProduct nodes per row), which is
 * the round's fastest plan at fixture k (≤ a few hundred) but grows the
 * generated code and the plan itself linearly in k — past ~10³ lists
 * the projection risks codegen method/constant-pool limits and plan
 * (de)serialization starts to price per centroid. Here the matrix is a
 * flat `Array[Double]` serialized once with this node, the per-row work
 * is one tight JVM loop (k·dims multiply-adds + an n-slot insertion),
 * and codegen stays whole-stage via the [[TokenStats]] instance-call
 * idiom.
 *
 * Output: array<struct<pos int, s double>> of the min(n, k) best
 * centroids ordered by (s desc, pos asc), `pos` 1-BASED so
 * `element_at(idLiteralArray, pos)` recovers the centroid id directly.
 * Scoring is BIT-IDENTICAL to the literal path: each element widens to
 * double before multiplying (the [[DotProduct]] contract), the dot
 * runs over min(|vec|, dims) elements, zero norms score 0.0, and
 * `roundScores` applies the exact `round(_, 6)` HALF_UP arithmetic of
 * the portable mode BEFORE selection. Ties keep the earlier (smaller
 * pos ≡ smaller centroid id — the matrix is collected in ascending id
 * order) entry, matching both the literal argmax's first-max rule and
 * the probe-route comparator's (s desc, id asc).
 */
case class CentroidTopK(vec: Expression, norm: Expression,
    cents: Array[Double], norms: Array[Double], dims: Int,
    n: Int, roundScores: Boolean) extends BinaryExpression {
  require(n >= 1, "n must be >= 1")
  require(norms.length * dims == cents.length,
    s"centroid matrix shape mismatch: ${cents.length} values for " +
      s"${norms.length} centroids x $dims dims")

  override def left: Expression = vec
  override def right: Expression = norm
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("s", DoubleType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, norm.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "CentroidTopK expects (array<float|double>, double)")
    }

  private val k = norms.length
  @transient private lazy val isFloat = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def compute(v: ArrayData, nv: Double): ArrayData = {
    val d = math.min(dims, v.numElements())
    val m = math.min(n, k)
    // the query vector widened ONCE (not once per centroid)
    val q = new Array[Double](d)
    var i = 0
    while (i < d) {
      q(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val bs = new Array[Double](m) // best scores, descending
    val bp = new Array[Int](m) // their 0-based centroid positions
    var filled = 0
    var c = 0
    while (c < k) {
      val cn = norms(c)
      var s = 0.0
      if (nv > 0 && cn > 0) {
        var dot = 0.0
        val off = c * dims
        i = 0
        while (i < d) { dot += q(i) * cents(off + i); i += 1 }
        s = dot / (nv * cn)
      }
      if (roundScores)
        s = java.math.BigDecimal.valueOf(s)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      // stable insertion in array_max's order (Spark's SQL double order:
      // NaN greatest, -0.0 equal to 0.0); only a strictly greater score
      // moves ahead, so ties keep the earlier (smaller-pos) entry first —
      // the (s desc, pos asc) order
      var j = filled
      while (j > 0 && SQLOrderingUtil.compareDoubles(s, bs(j - 1)) > 0) j -= 1
      if (j < m) {
        var t = math.min(filled, m - 1)
        while (t > j) { bs(t) = bs(t - 1); bp(t) = bp(t - 1); t -= 1 }
        bs(j) = s; bp(j) = c
        if (filled < m) filled += 1
      }
      c += 1
    }
    val out = new Array[Any](filled)
    i = 0
    while (i < filled) { out(i) = InternalRow(bp(i) + 1, bs(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[Double])

  // codegen via an instance call (the TokenStats idiom): the stage stays
  // whole-stage-compiled and the matrix lives in ONE referenced object,
  // never in generated source
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidTopK", this,
      classOf[CentroidTopK].getName)
    nullSafeCodeGen(ctx, ev, (v, nv) => s"${ev.value} = $ref.compute($v, $nv);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(vec = l, norm = r)
}

/**
 * Unicode NFC normalization (java.text.Normalizer) — the canonical-
 * composition pass every text-cleanup chain starts with: combining
 * sequences (`e` + U+0301) fold into their precomposed forms (`é`), so
 * fingerprints, dedup keys and tokenizers see one spelling of every
 * string. Spark has no built-in for this; a native expression keeps it
 * off the UDF path (one JVM call per row, no Python, no codegen break
 * beyond this projection). Both the JVM and DuckDB's `nfc_normalize`
 * implement the same Unicode algorithm, so results are byte-identical
 * cross-engine.
 */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"nfc_normalize expects string, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(v.toString, java.text.Normalizer.Form.NFC))

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
