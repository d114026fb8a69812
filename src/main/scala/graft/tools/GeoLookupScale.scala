package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.kql.Kql.KqlOps

/** Dev harness: exercise `geo_polygon_lookup`'s broadcast (level, cell) build
  * side at REALISTIC lookup-table cardinality — the SCALE.md decades use the
  * 3-polygon query fixture, which answers how cost grows with the POINT corpus
  * but not how the broadcast map behaves with ~10k geofences (the production
  * shape: city block lists, delivery zones, ad geofences).
  *
  * Synthesizes `nPolys` deterministic k-gons (k ∈ {3..6}) whose spans sweep
  * nine binary decades (0.002°–0.512° — city-block to county), centered over
  * the fixture points' bbox, then times the lookup against the events point
  * set (same derivation as q_kql_geo_lookup) and reports the build-side
  * (level, cell) row count + estimated broadcast bytes. Usage:
  *   runMain graft.tools.GeoLookupScale <sfDir> [nPolys]
  */
object GeoLookupScale {

  /** nPolys deterministic polygons: regular k-gons, sizes spread across
    * binary decades, centers tiling the point region (no RNG — replayable). */
  def synthPolys(spark: SparkSession, nPolys: Int): DataFrame = {
    import spark.implicits._
    (0 until nPolys).map { pid =>
      val k = 3 + pid % 4
      val half = 0.001 * (1 << (pid % 9)) // half-span 0.001°..0.256°
      val cx = -73.6 + (pid * 0.377) % 1.8
      val cy = 39.9 + (pid * 0.533) % 1.4
      val ring = (0 until k).map { i =>
        val a = 2 * math.Pi * i / k + 0.3
        Array(cx + half * math.cos(a), cy + half * math.sin(a))
      }.toArray
      (pid.toLong, ring)
    }.toDF("pid", "poly")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nPolys = if (args.length > 1) args(1).toInt else 10000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Warmup.run(spark)

    val polys = synthPolys(spark, nPolys).cache()
    polys.count()

    // build-side diagnostics: replicate the plugin's adaptive level + cover
    // to count the broadcast (level, cell) rows it will carry
    val geom = F.col("poly").cast("array<array<double>>")
    val lngs = F.transform(geom, p => F.element_at(p, 1).cast("double"))
    val lats = F.transform(geom, p => F.element_at(p, 2).cast("double"))
    val span = F.greatest(
      F.array_max(lngs) - F.array_min(lngs),
      F.array_max(lats) - F.array_min(lats))
    val lvl = F.greatest(F.lit(0), F.least(F.lit(16),
      (F.floor(F.log(F.lit(360.0) / F.greatest(span, F.lit(1e-6))) /
        F.lit(math.log(2.0))) + F.lit(1)).cast("int")))
    val built = polys.withColumn("__lvl", lvl)
      .withColumn("__cell",
        F.explode(F.call_function("graft_s2_cover", geom, F.col("__lvl"))))
    val cellRows = built.count()
    val distinctLvls = built.select("__lvl").distinct().count()
    // broadcast payload ≈ rows × (key 16 B + ring: vertices × 16 B + struct overhead)
    val avgVerts = polys.select(F.avg(F.size(geom))).head().getDouble(0)
    val estMb = cellRows * (16 + 32 + avgVerts * 16) / 1e6
    println(f"[geoscale] polys=$nPolys cellRows=$cellRows distinctLvls=$distinctLvls avgVerts=$avgVerts%.1f estBroadcast=${estMb}%.1f MB")

    val pts = graft.sources.Tables.load(spark, sfDir, "events")
      .filter(F.col("event_id") % 23 === 0)
      .select(F.col("event_id"),
        (F.lit(40.0) + (F.col("event_id") % 97).cast("double") / 80.0).as("lat"),
        (F.lit(-73.5) + (F.col("event_id") % 89).cast("double") / 60.0).as("lng"))

    val looked = pts.geoPolygonLookup(polys, "poly", "lng", "lat")
      .select("pid", "event_id")
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = looked.count()
      println(f"[geoscale] run$i matches=$n t=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
