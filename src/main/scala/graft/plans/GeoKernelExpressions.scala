package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd kernels for the geo residual tests (point-in-polygon ray
  * cast, point-to-polyline distance, closest point on line).
  *
  * Why native: the HOF (`aggregate`) formulations rebind every shared
  * sub-expression at each use site, so the per-segment projection chain
  * (x1/y1/x2/y2 → t → cx/cy) explodes combinatorially in TREE SIZE —
  * measured on q_kql_line_lookup the join-residual expression inflated past
  * the whole-stage-codegen budget into interpreted evaluation (2.9 s steady
  * for a 2-line × 26 k-point fixture). These expressions run the identical
  * IEEE chain (operation-for-operation the one the DuckDB oracles replay —
  * see the ops marked in the kernels) as a tight primitive loop inside
  * WholeStageCodegen.
  *
  * GraftExtensions registers them in every session (`graft.SparkEntry.builder`)
  * and KqlFunctions/KqlParser call them directly; the HOF formulations
  * (`KqlFunctions.pointInPolygonHof`/`pointToLineMetersHof`) stay only as the
  * NativeExprSpec references the kernels are asserted bit-identical to.
  */
object GeoKernelExpressions {
  val pipName = "graft_point_in_polygon"
  val plineName = "graft_point_to_line_m"
  val closestName = "graft_closest_point_on_line"

  /** Even-odd ray cast; comparison order FIXED (== the SQL-side HOF and the
    * DuckDB oracle replays): ((yi > y) != (yj > y)) && x < (xj-xi)*(y-yi)/
    * (yj-yi) + xi, edges i → (i+1) mod n. */
  def pointInPolygon(x: Double, y: Double, ring: ArrayData): Boolean = {
    val n = ring.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      val a = ring.getArray(i)
      val b = ring.getArray(if (i + 1 == n) 0 else i + 1)
      // null vertices: the HOF reference's comparisons null-propagate to
      // "no crossing" for edges touching them — skip, don't crash
      if (a != null && b != null) {
        val xi = a.getDouble(0); val yi = a.getDouble(1)
        val xj = b.getDouble(0); val yj = b.getDouble(1)
        if ((yi > y) != (yj > y) &&
            x < (xj - xi) * (y - yi) / (yj - yi) + xi) c += 1
      }
      i += 1
    }
    c % 2 == 1
  }

  /** Min point-to-segment distance in the local equirectangular projection,
    * meters on the mean-radius sphere. Chain per segment (== the HOF /
    * oracle): x1=(ax-px)*cosl, y1=ay-py, dx=x2-x1, dy=y2-y1, len2=dx²+dy²,
    * t = len2>0 ? clamp01(-(x1·dx+y1·dy)/len2) : 0, d=√(cx²+cy²);
    * result = min(d)·(π/180·6371000). */
  def pointToLineMeters(px: Double, py: Double, line: ArrayData): Double = {
    val cosl = math.cos(math.toRadians(py))
    val n = line.numElements()
    var acc = Double.PositiveInfinity
    var i = 0
    while (i < n - 1) {
      val a = line.getArray(i); val b = line.getArray(i + 1)
      // null vertices: least() in the HOF reference skips null candidates
      if (a != null && b != null) {
        val x1 = (a.getDouble(0) - px) * cosl
        val y1 = a.getDouble(1) - py
        val x2 = (b.getDouble(0) - px) * cosl
        val y2 = b.getDouble(1) - py
        val dx = x2 - x1; val dy = y2 - y1
        val len2 = dx * dx + dy * dy
        val t = if (len2 > 0) math.max(0.0, math.min(1.0, -(x1 * dx + y1 * dy) / len2))
          else 0.0
        val cx = x1 + t * dx; val cy = y1 + t * dy
        acc = math.min(acc, math.sqrt(cx * cx + cy * cy))
      }
      i += 1
    }
    acc * (math.Pi / 180 * 6371000.0)
  }

  /** Argmin of the same per-segment chain — strict < keeps the EARLIEST
    * segment on ties (== the struct-accumulator HOF fold and the oracle's
    * ROW_NUMBER over (dist, segment)). Output [lng, lat]; Java null when no
    * segment was examined (< 2 non-null vertices) — echoing the query point
    * would be a misleading answer for a degenerate line. */
  def closestPointOnLine(px: Double, py: Double, line: ArrayData): GenericArrayData = {
    val cosl = math.cos(math.toRadians(py))
    val n = line.numElements()
    var bestD = Double.PositiveInfinity
    var bx = 0.0; var by = 0.0
    var i = 0
    while (i < n - 1) {
      val a = line.getArray(i); val b = line.getArray(i + 1)
      // null vertices: the HOF fold's null candidate never replaces acc
      if (a != null && b != null) {
        val x1 = (a.getDouble(0) - px) * cosl
        val y1 = a.getDouble(1) - py
        val x2 = (b.getDouble(0) - px) * cosl
        val y2 = b.getDouble(1) - py
        val dx = x2 - x1; val dy = y2 - y1
        val len2 = dx * dx + dy * dy
        val t = if (len2 > 0) math.max(0.0, math.min(1.0, -(x1 * dx + y1 * dy) / len2))
          else 0.0
        val cx = x1 + t * dx; val cy = y1 + t * dy
        val d = math.sqrt(cx * cx + cy * cy)
        if (d < bestD) { bestD = d; bx = cx; by = cy }
      }
      i += 1
    }
    if (bestD.isPosInfinity) null
    else new GenericArrayData(Array[Any](px + bx / cosl, py + by))
  }
}

private[plans] trait GeoKernel3 extends TernaryExpression {
  def first: Expression; def second: Expression; def third: Expression
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (DoubleType, DoubleType, ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (double, double, array<array<double>>), got $other")
    }
}

/** graft_point_in_polygon(lng, lat, ring) → boolean. */
case class PointInPolygonExpr(first: Expression, second: Expression,
    third: Expression) extends GeoKernel3 {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(x: Any, y: Any, ring: Any): Any =
    GeoKernelExpressions.pointInPolygon(x.asInstanceOf[Double],
      y.asInstanceOf[Double], ring.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, r) =>
      s"graft.plans.GeoKernelExpressions.pointInPolygon($x, $y, $r)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
  override def prettyName: String = GeoKernelExpressions.pipName
}

/** graft_point_to_line_m(lng, lat, line) → meters. */
case class PointToLineMetersExpr(first: Expression, second: Expression,
    third: Expression) extends GeoKernel3 {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(x: Any, y: Any, line: Any): Any =
    GeoKernelExpressions.pointToLineMeters(x.asInstanceOf[Double],
      y.asInstanceOf[Double], line.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, l) =>
      s"graft.plans.GeoKernelExpressions.pointToLineMeters($x, $y, $l)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
  override def prettyName: String = GeoKernelExpressions.plineName
}

/** graft_shingle_stats(toks, probes, k) → struct(hits, nsh): the distinct
  * k-token-shingle count of a document plus how many probe phrases appear
  * among them — the contamination-check kernel. Replicates the column
  * formulation EXACTLY (TextAnalysis.shinglesOf: shingles are k consecutive
  * tokens joined by ' ' with concat_ws null-skip semantics, deduplicated;
  * docs shorter than k contribute their full join as one shingle) without
  * materializing the shingle array per row — one hash-set pass instead of
  * transform + array_distinct + two array_intersects. String equality only,
  * so native and HOF agree exactly (asserted in NativeExprSpec). */
object ShingleStats {
  def eval(toks: ArrayData, probes: ArrayData, k: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val m = toks.numElements()
    val set = new java.util.HashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    if (m >= k) {
      var i = 0
      while (i <= m - k) {
        sb.setLength(0)
        var j = 0
        var first = true
        while (j < k) {
          if (!toks.isNullAt(i + j)) { // concat_ws skips nulls entirely
            if (!first) sb.append(' ')
            sb.append(toks.getUTF8String(i + j).toString)
            first = false
          }
          j += 1
        }
        set.add(sb.toString)
        i += 1
      }
    } else {
      sb.setLength(0)
      var j = 0
      var first = true
      while (j < m) {
        if (!toks.isNullAt(j)) {
          if (!first) sb.append(' ')
          sb.append(toks.getUTF8String(j).toString)
          first = false
        }
        j += 1
      }
      set.add(sb.toString)
    }
    // DISTINCT probes (array_intersect in the column reference deduplicates) —
    // a repeated probe phrase must count once
    var hits = 0L
    val seen = new java.util.HashSet[String]()
    var p = 0
    val np = probes.numElements()
    while (p < np) {
      if (!probes.isNullAt(p)) {
        val ps = probes.getUTF8String(p).toString
        if (seen.add(ps) && set.contains(ps)) hits += 1
      }
      p += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(hits, set.size.toLong)
  }
}

/** graft_shingle_stats(toks, probes, k) → struct(hits: long, nsh: long). */
case class ShingleStatsExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<string>, array<string>, int), got $other")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("hits", LongType, nullable = false),
    StructField("nsh", LongType, nullable = false)))
  override protected def nullSafeEval(t: Any, p: Any, k: Any): Any =
    ShingleStats.eval(t.asInstanceOf[ArrayData], p.asInstanceOf[ArrayData],
      k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p, k) =>
      s"graft.plans.ShingleStats.eval($t, $p, $k)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
  override def prettyName: String = "graft_shingle_stats"
}

/** graft_repetition_stats(toks) → the Gopher repetition-filter signals in
  * ONE counting pass (token/bigram multiplicity maps) instead of two
  * array_sorts + two array_distincts + an interpreted run-length fold per
  * row. The ratios are the IDENTICAL integer-derived IEEE divisions the
  * column formulation (the NativeExprSpec reference) produces, so native
  * and reference agree exactly. Null tokens (absent from split() output but
  * handled for parity): excluded from distinct/mode grouping like the
  * null-propagating HOF comparisons — each null counts as a run of 1. */
object RepetitionStats {
  def eval(toks: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    val tokCounts = new java.util.HashMap[String, Long]()
    var nullToks = 0L
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) nullToks += 1
      else tokCounts.merge(toks.getUTF8String(i).toString, 1L, _ + _)
      i += 1
    }
    val nd = tokCounts.size.toLong + (if (nullToks > 0) 1L else 0L)
    var topTok = if (nullToks > 0) 1L else 0L
    val it = tokCounts.values.iterator()
    while (it.hasNext) topTok = math.max(topTok, it.next())
    // adjacent bigrams, concat_ws null-skip semantics, NON-distinct
    val nb = if (n >= 2) n - 1 else 0
    val bgCounts = new java.util.HashMap[String, Long]()
    val sb = new java.lang.StringBuilder(48)
    i = 0
    while (i < n - 1) {
      sb.setLength(0)
      var first = true
      if (!toks.isNullAt(i)) { sb.append(toks.getUTF8String(i).toString); first = false }
      if (!toks.isNullAt(i + 1)) {
        if (!first) sb.append(' ')
        sb.append(toks.getUTF8String(i + 1).toString)
      }
      bgCounts.merge(sb.toString, 1L, _ + _)
      i += 1
    }
    val nbd = bgCounts.size.toLong
    var topBg = 0L
    val bit = bgCounts.values.iterator()
    while (bit.hasNext) topBg = math.max(topBg, bit.next())
    // array_distinct counts nulls as one distinct value (handled in nd);
    // the bigram path never yields nulls (concat_ws returns "")
    org.apache.spark.sql.catalyst.InternalRow(
      n.toLong,
      (n.toLong - nd).toDouble / math.max(n.toLong, 1L).toDouble,
      topTok.toDouble / math.max(n.toLong, 1L).toDouble,
      topBg.toDouble / math.max(nb.toLong, 1L).toDouble,
      (nb.toLong - nbd).toDouble / math.max(nb.toLong, 1L).toDouble)
  }
}

/** graft_repetition_stats(toks) → struct of the 5 Gopher signals. */
case class RepetitionStatsExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got $other")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("dup_token_fraction", DoubleType, nullable = false),
    StructField("top_token_fraction", DoubleType, nullable = false),
    StructField("top_bigram_fraction", DoubleType, nullable = false),
    StructField("dup_bigram_fraction", DoubleType, nullable = false)))
  override protected def nullSafeEval(t: Any): Any =
    RepetitionStats.eval(t.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.plans.RepetitionStats.eval($t)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_repetition_stats"
}

/** make_string / to_utf8 codepoint kernels: Spark's chr() is ASCII-only
  * (wraps mod 256), so the unicode forms need a native loop. make_string:
  * Unicode CODEPOINTS → string (invalid codepoints → null); to_utf8:
  * string → UTF-8 byte values (0–255 ints), its encoding-level inverse
  * via make_string∘(utf8 decode) for well-formed input. */
object CodepointKernels {
  def makeString(arr: ArrayData): UTF8String = {
    try {
      val sb = new java.lang.StringBuilder(arr.numElements())
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i)) sb.appendCodePoint(arr.getInt(i))
        i += 1
      }
      UTF8String.fromString(sb.toString)
    } catch { case _: Exception => null }
  }
  def toUtf8(s: UTF8String): GenericArrayData = {
    val bytes = s.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    new GenericArrayData(bytes.map(b => (b & 0xFF).asInstanceOf[Any]))
  }
}

/** make_string(array<int> codepoints) → string. */
case class MakeStringExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected array<int>, got $other")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any): Any =
    CodepointKernels.makeString(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.plans.CodepointKernels.makeString($a);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_make_string"
}

/** to_utf8(string) → array<int> of UTF-8 byte values. */
case class ToUtf8Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected string, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(s: Any): Any =
    CodepointKernels.toUtf8(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.CodepointKernels.toUtf8($s)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_to_utf8"
}

/** graft_parse_ipv6(s) → canonical 8-group zero-padded lowercase form, or
  * null. Replicates KqlFunctions.parseIpv6's column formulation EXACTLY
  * (trim+lowercase; split on "::" keeping empties; colon groups filtered of
  * empties; "::" expands to the missing zero groups, requiring ≥1 missing
  * and exactly one "::"; every group 1–4 lowercase hex digits) — the column
  * form chains filter/forall/transform HOFs (CodegenFallback, interpreted,
  * re-evaluated per use) and sat at the top of four bench queries; this is
  * one string pass. Parity asserted in NativeExprSpec. */
object ParseIpv6 {
  def eval(s0: UTF8String): UTF8String = {
    if (s0 == null) return null
    val t = s0.toString.trim.toLowerCase
    val parts = t.split("::", -1)
    val hasDC = parts.length > 1
    def groups(seg: String): Array[String] = seg.split(":").filter(_.nonEmpty)
    val lg = groups(parts(0))
    val rg = if (hasDC) groups(parts(1)) else Array.empty[String]
    val missing = 8 - lg.length - rg.length
    val full =
      if (hasDC) lg ++ Array.fill(math.max(missing, 0))("0") ++ rg else lg
    def hex(x: String): Boolean = x.length >= 1 && x.length <= 4 &&
      x.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f'))
    val valid = full.length == 8 && full.forall(hex) &&
      (!hasDC || (missing >= 1 && parts.length == 2))
    if (!valid) null
    else UTF8String.fromString(
      full.map(x => "0" * (4 - x.length) + x).mkString(":"))
  }
}

/** One-pass dotted-quad parser behind the whole ipv4 scalar family.
  * "a.b.c.d[/p]" → (maskedValue << 6) | p, or -1 for malformed (the
  * expression's null). Matches KqlFunctions.parseIpv4's column chain:
  * exactly 4 octets 0–255, optional prefix 0–32 whose host bits are zeroed,
  * anything after a second '/' ignored (split semantics), per-token
  * whitespace trimmed (string-cast semantics). The column form re-expands
  * the split/validate tree at EVERY use site — ipv4_compare alone holds
  * four copies — which blew q_kql_scalar_misc11's projection to a 131 KB
  * tree; this is one scan of the string. Non-numeric octets are null here
  * (the column form would raise under ANSI casts — the kernel is the
  * try-semantics Kusto documents). */
object ParseIpv4K {
  /** Non-negative integer token with the string-cast's accepted shape
    * (surrounding whitespace, optional leading '+', leading zeros of any
    * length — the column reference casts through string→int, so the kernel
    * must accept exactly the same tokens); saturates above `max` (any
    * saturated value is invalid downstream anyway). −1 = malformed. */
  private def tok(s: String, max: Long): Long = {
    val t = s.trim
    val neg = t.nonEmpty && t.charAt(0) == '-'
    var i = if (t.nonEmpty && (neg || t.charAt(0) == '+')) 1 else 0
    if (i >= t.length) return -1L
    var x = 0L
    while (i < t.length) {
      val c = t.charAt(i)
      if (c < '0' || c > '9') return -1L
      if (x <= max) x = x * 10 + (c - '0')
      i += 1
    }
    // the column reference range-checks AFTER parsing, so "-0" is a valid 0
    // while any other negative fails between(0, max)
    if (x > max || (neg && x != 0)) -1L else x
  }
  def eval(s0: UTF8String): Long = {
    if (s0 == null) return -1L
    val t = s0.toString
    val slash = t.indexOf('/')
    val addr = if (slash >= 0) t.substring(0, slash) else t
    var bits = 32L
    if (slash >= 0) {
      val rest = t.substring(slash + 1)
      val next = rest.indexOf('/')
      // anything after a second '/' is ignored (split semantics, reference
      // parity); the bits token follows the same cast-shape rules as octets
      bits = tok(if (next >= 0) rest.substring(0, next) else rest, 32L)
      if (bits < 0) return -1L
    }
    val octs = addr.split("\\.", -1)
    if (octs.length != 4) return -1L
    var v = 0L
    var i = 0
    while (i < 4) {
      val x = tok(octs(i), 255L)
      if (x < 0) return -1L
      v = v * 256 + x
      i += 1
    }
    val masked = v - v % (1L << (32 - bits).toInt)
    (masked << 6) | bits
  }
}

/** graft_ipv4_pack(s) → (masked << 6) | prefix long (nullable). */
case class ParseIpv4Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected string, got $other")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(s: Any): Any = {
    val r = ParseIpv4K.eval(s.asInstanceOf[UTF8String])
    if (r < 0) null else r
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("packed")
    nullSafeCodeGen(ctx, ev, s => s"""
      long $r = graft.plans.ParseIpv4K.eval($s);
      ${ev.isNull} = $r < 0;
      ${ev.value} = $r;""")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_ipv4_pack"
}

/** graft_parse_ipv6(s) → canonical form string (nullable). */
case class ParseIpv6Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected string, got $other")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override protected def nullSafeEval(s: Any): Any =
    ParseIpv6.eval(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"""
      ${ev.value} = graft.plans.ParseIpv6.eval($s);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_parse_ipv6"
}

/** graft_closest_point_on_line(lng, lat, line) → [lng, lat]. */
case class ClosestPointOnLineExpr(first: Expression, second: Expression,
    third: Expression) extends GeoKernel3 {
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  // null on degenerate (<2 non-null vertex) lines, independent of inputs
  override def nullable: Boolean = true
  override protected def nullSafeEval(x: Any, y: Any, line: Any): Any =
    GeoKernelExpressions.closestPointOnLine(x.asInstanceOf[Double],
      y.asInstanceOf[Double], line.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, l) => s"""
      ${ev.value} = graft.plans.GeoKernelExpressions.closestPointOnLine($x, $y, $l);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
  override def prettyName: String = GeoKernelExpressions.closestName
}

/** graft_span_hashes(toks, k) → array<struct<pos:int,h:bigint>>: every
  * k-token window of the document keyed by the portable 60-bit hash — the
  * substring-span-dedup span table (Dedup.substringSpanStats) in ONE pass.
  * The column formulation (`transform(sequence(0, n-k), i => md5(array_join(
  * slice(t, i+1, k), " ")))`) is a HOF — CodegenFallback, interpreted md5
  * Column tree re-evaluated per window. This kernel streams each window's
  * token bytes straight into one reused MessageDigest: zero intermediate
  * strings, no per-window expression tree.
  *
  * Hash parity (asserted in NativeExprSpec): portableHash60(s) =
  * conv(substring(md5(s),1,15),16,10) = the first 15 hex nibbles of the
  * md5 of the UTF-8 bytes = (first-8-bytes-as-big-endian-long >>> 4).
  * Window string parity: tokens joined by ' ' with array_join's null-skip
  * (no delimiter emitted for a null element). Docs with fewer than k
  * tokens produce an EMPTY array (the caller's `when(n >= k, …)` guard). */
object SpanHashes {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val SpaceByte = Array[Byte](' ')

  def eval(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (k < 1 || n < k) return new GenericArrayData(Array.empty[Any])
    val md = digest.get()
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      md.reset()
      var j = 0
      var first = true
      while (j < k) {
        if (!toks.isNullAt(i + j)) { // array_join skips nulls entirely
          if (!first) md.update(SpaceByte)
          md.update(toks.getUTF8String(i + j).getBytes)
          first = false
        }
        j += 1
      }
      val d = md.digest()
      val hi = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      out(i) = org.apache.spark.sql.catalyst.InternalRow(i, hi >>> 4)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_span_hashes(toks, k) → array<struct<pos:int,h:bigint>>. */
case class SpanHashesExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<string>, int), got $other")
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("h", LongType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(t: Any, k: Any): Any =
    SpanHashes.eval(t.asInstanceOf[ArrayData], k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) => s"graft.plans.SpanHashes.eval($t, $k)")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
  override def prettyName: String = "graft_span_hashes"
}

/** graft_span_dup_stats(n, k, kept) → struct(dup:bigint, rem:bigint): the
  * per-doc substring-dedup tail — duplicate-span count and covered-token
  * count — from the doc's KEEPER span positions alone. Replaces three HOFs
  * per doc (filter over sequence + array_contains probe per position,
  * then array_distinct(flatten(transform(…, sequence)))): one boolean
  * coverage array of the doc's own length. Exact parity: dup positions are
  * the span positions [0, n-k] absent from `kept`; removed tokens are the
  * distinct members of ∪ [p, p+k-1] over dup positions. No spans (n < k or
  * k < 1) → (0, 0) — the registered SQL function is safe standalone, not
  * only under the library call site's n >= k guard. */
object SpanDupStats {
  def eval(n: Int, k: Int, kept: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    if (k < 1 || n < k)
      return org.apache.spark.sql.catalyst.InternalRow(0L, 0L)
    val spanCount = n - k + 1
    val isKept = new Array[Boolean](spanCount)
    var i = 0
    val nk = kept.numElements()
    while (i < nk) {
      if (!kept.isNullAt(i)) {
        val p = kept.getInt(i)
        if (p >= 0 && p < spanCount) isKept(p) = true
      }
      i += 1
    }
    val covered = new Array[Boolean](n)
    var dup = 0L
    var p = 0
    while (p < spanCount) {
      if (!isKept(p)) {
        dup += 1
        var t = p
        while (t < p + k) { covered(t) = true; t += 1 }
      }
      p += 1
    }
    var rem = 0L
    var t = 0
    while (t < n) { if (covered(t)) rem += 1; t += 1 }
    org.apache.spark.sql.catalyst.InternalRow(dup, rem)
  }
}

/** graft_span_dup_stats(n, k, kept) → struct(dup: long, rem: long). */
case class SpanDupStatsExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (IntegerType, IntegerType, ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (int, int, array<int>), got $other")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("dup", LongType, nullable = false),
    StructField("rem", LongType, nullable = false)))
  override protected def nullSafeEval(n: Any, k: Any, kept: Any): Any =
    SpanDupStats.eval(n.asInstanceOf[Int], k.asInstanceOf[Int],
      kept.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (n, k, kept) =>
      s"graft.plans.SpanDupStats.eval($n, $k, $kept)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
  override def prettyName: String = "graft_span_dup_stats"
}
