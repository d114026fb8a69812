package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `geo_geohash_neighbors` (reference KQL surface `README.md:33-34`): the 8
  * adjacent cells of a geohash, computed in INDEX space — deinterleave the
  * base-32 token to integer (lng, lat) grid indexes, offset ±1 (longitude
  * wraps, latitude clamps at the poles), re-interleave. This is bit-for-bit
  * the same integer-grid contract as the column-chain geo_point_to_geohash
  * (KqlParser.geoHashEncode), so a neighbor token always equals the token an
  * in-cell point would encode to. Output order is row-major (dLat, dLng) in
  * {-1,0,1}² minus the origin; pole-clipped cells are omitted.
  *
  * Neighbors are what make geohash bucketing a COMPLETE spatial join: probe
  * rows expand to home + 8 neighbor keys and equi-join build rows on their
  * home key — every pair within one cell dimension is covered, exactly.
  */
object GeoHashExpressions {

  private val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  def neighbors(tokU: UTF8String): GenericArrayData = {
    val tok = tokU.toString
    val p = tok.length
    require(p >= 1 && p <= 10, s"geohash precision 1..10, got $p")
    val bits = 5 * p
    val lngBits = (bits + 1) / 2
    val latBits = bits / 2
    var z = 0L
    tok.foreach { ch =>
      val v = Alphabet.indexOf(ch.toLower)
      require(v >= 0, s"bad geohash char '$ch'")
      z = (z << 5) | v
    }
    var loi = 0L; var lai = 0L
    var k = 0
    while (k < bits) {
      val b = (z >>> (bits - 1 - k)) & 1L
      if (k % 2 == 0) loi = (loi << 1) | b else lai = (lai << 1) | b
      k += 1
    }
    val lngMax = 1L << lngBits
    val latMax = 1L << latBits
    val out = Vector.newBuilder[UTF8String]
    var di = -1
    while (di <= 1) {
      var dj = -1
      while (dj <= 1) {
        if (!(di == 0 && dj == 0)) {
          val la = lai + di
          if (la >= 0 && la < latMax) {
            val lo = ((loi + dj) % lngMax + lngMax) % lngMax
            out += UTF8String.fromString(encodeIj(lo, la, lngBits, latBits, p))
          }
        }
        dj += 1
      }
      di += 1
    }
    new GenericArrayData(out.result().toArray[Any])
  }

  private def encodeIj(loi: Long, lai: Long, lngBits: Int, latBits: Int,
      p: Int): String = {
    val bits = lngBits + latBits
    var z = 0L
    var li = lngBits - 1
    var ai = latBits - 1
    var k = 0
    while (k < bits) {
      val b = if (k % 2 == 0) { val v = (loi >>> li) & 1L; li -= 1; v }
        else { val v = (lai >>> ai) & 1L; ai -= 1; v }
      z = (z << 1) | b
      k += 1
    }
    val sb = new java.lang.StringBuilder(p)
    var c = p - 1
    while (c >= 0) {
      sb.append(Alphabet.charAt(((z >>> (5 * c)) & 31L).toInt))
      c -= 1
    }
    sb.toString
  }

  /** geo_geohash_to_polygon: the cell's exact lng/lat bounding box as the
    * geo family's bare 4-vertex CCW ring (deviation from Kusto's GeoJSON
    * dynamic — documented, the repo-wide ring convention). Bit-compatible
    * with the encode chain: the box corners are the integer grid cell's
    * edges, so every point encoding to the token lies inside (half-open on
    * the max edges). Malformed tokens → null. */
  def cellPolygon(tokU: UTF8String): GenericArrayData = {
    try {
      val tok = tokU.toString
      val p = tok.length
      require(p >= 1 && p <= 10, s"geohash precision 1..10, got $p")
      val bits = 5 * p
      val lngBits = (bits + 1) / 2
      val latBits = bits / 2
      var z = 0L
      tok.foreach { ch =>
        val v = Alphabet.indexOf(ch.toLower)
        require(v >= 0, s"bad geohash char '$ch'")
        z = (z << 5) | v
      }
      var loi = 0L; var lai = 0L
      var k = 0
      while (k < bits) {
        val b = (z >>> (bits - 1 - k)) & 1L
        if (k % 2 == 0) loi = (loi << 1) | b else lai = (lai << 1) | b
        k += 1
      }
      val lngMax = (1L << lngBits).toDouble
      val latMax = (1L << latBits).toDouble
      val x0 = loi / lngMax * 360.0 - 180.0
      val x1 = (loi + 1) / lngMax * 360.0 - 180.0
      val y0 = lai / latMax * 180.0 - 90.0
      val y1 = (lai + 1) / latMax * 180.0 - 90.0
      def pt(x: Double, y: Double) = new GenericArrayData(Array[Any](x, y))
      new GenericArrayData(Array[Any](pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1)))
    } catch { case _: Exception => null }
  }

  /** geo_geohash_to_central_point: cell center as struct(lng, lat). The
    * column formulation (KqlFunctions.geohashCenterHof) folds per-bit aggregate
    * HOFs — interpreted, re-evaluating the char-index chain every
    * iteration; this is the same deinterleave loop as cellPolygon with the
    * IDENTICAL final IEEE chain ((idx + 0.5) / 2^bits * span − offset), so
    * native and reference agree bit-for-bit. Unknown chars → null (the HOF
    * yields a struct with null fields — same observable through the `.lng`/
    * `.lat` accessors every caller uses). */
  def centralPoint(tokU: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val tok = tokU.toString
    val p = tok.length
    if (p < 1 || p > 12) return null
    val bits = 5 * p
    val lngBits = (bits + 1) / 2
    var z = 0L
    var i = 0
    while (i < p) {
      val v = Alphabet.indexOf(tok.charAt(i))
      if (v < 0) return null
      z = (z << 5) | v
      i += 1
    }
    var loi = 0L; var lai = 0L
    var k = 0
    while (k < bits) {
      val b = (z >>> (bits - 1 - k)) & 1L
      if (k % 2 == 0) loi = (loi << 1) | b else lai = (lai << 1) | b
      k += 1
    }
    val lng = (loi.toDouble + 0.5) / (1L << lngBits).toDouble * 360.0 - 180.0
    val lat = (lai.toDouble + 0.5) / (1L << (bits - lngBits)).toDouble * 180.0 - 90.0
    org.apache.spark.sql.catalyst.InternalRow(lng, lat)
  }
}

/** geo_geohash_to_polygon(token) → the cell's bbox vertex ring. */
case class GeohashPolygonExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected string, got $other")
    }
  override def dataType: DataType = ArrayType(
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false),
    containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    GeoHashExpressions.cellPolygon(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.plans.GeoHashExpressions.cellPolygon($c);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_geohash_polygon"
}

/** graft_geohash_center(token) → struct(lng, lat) of the cell center. */
case class GeohashCenterExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected string, got $other")
    }
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("lng",
      org.apache.spark.sql.types.DoubleType, nullable = true),
    org.apache.spark.sql.types.StructField("lat",
      org.apache.spark.sql.types.DoubleType, nullable = true)))
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    GeoHashExpressions.centralPoint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.plans.GeoHashExpressions.centralPoint($c);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_geohash_center"
}

case class GeohashNeighborsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected string, got $other")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    GeoHashExpressions.neighbors(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GeoHashExpressions.neighbors($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_geohash_neighbors"
}
