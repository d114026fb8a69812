package graft.tools

import org.apache.spark.sql.{functions => F}
import graft.functions.Similarity

/** Dev harness: measure the THREE IVF assignment paths — the literal-plan
  * kernel (ivfProbes: the centroid matrix rides the expression tree), the
  * broadcast centroid TABLE (assignProbesTable), and the two-level
  * hierarchical path (assignProbesHier) — across centroid counts, to place
  * Similarity.centroidTableThreshold and quantify the √k win. Both flat
  * paths' inputs are spread to all cores (the literal branch repartitions
  * explicitly; the table/hier paths spread internally) so the comparison
  * measures the paths, not scan parallelism. Prints steady-state (run 2)
  * execution seconds AND the plan-build wall time per path. Usage:
  *   runMain graft.tools.AssignScale <sfDir> [k1,k2,...] [nProbe] [paths]
  * `paths` (csv of literal,table,hier; default all) selects which paths to
  * time — at k ≥ 10⁵ × corpus-sized n the flat paths are the measured-to-be
  * pathological regime and a full run would take tens of minutes per pass.
  */
object AssignScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val ks = (if (args.length > 1) args(1) else "256,1024,4096,10240")
      .split(",").map(_.trim.toInt).toSeq
    val nProbeArg = if (args.length > 2) args(2).toInt else 2
    val paths = (if (args.length > 3) args(3) else "literal,table,hier")
      .split(",").map(_.trim).toSet
    val known = Set("literal", "table", "hier")
    require((paths -- known).isEmpty,
      // fail fast: a typo would otherwise print an all-'not measured' row
      // that could be mistaken for a completed measurement
      s"AssignScale: unknown path(s) ${(paths -- known).mkString(",")}; " +
        s"valid: ${known.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Warmup.run(spark)
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(F.col("vec_id"), F.col("embedding"))
    emb.persist(); val n = emb.count()
    val nProbe = nProbeArg
    ks.foreach { k =>
      // synthetic deterministic centroids: this measures the ASSIGNMENT
      // machinery, not k-means quality
      val cents = Array.tabulate(k, 64)((i, j) => (((i * 64 + j) % 197) - 98) * 0.01f)
      def steady(build: () => org.apache.spark.sql.DataFrame): (Double, Double) = {
        val tb0 = System.nanoTime()
        val df = build()
        df.queryExecution.executedPlan // force analysis+optimization
        val tBuild = (System.nanoTime() - tb0) / 1e9
        var t = 0.0
        (1 to 2).foreach { _ =>
          val t0 = System.nanoTime()
          build().write.format("noop").mode("overwrite").save()
          t = (System.nanoTime() - t0) / 1e9
        }
        (tBuild, t)
      }
      // spread the literal path's input like assignProbesTable does
      // internally — otherwise a one-file parquet scan runs the whole k×n
      // kernel stream on one core and the comparison measures parallelism,
      // not the paths
      val spreadEmb = emb.repartition(
        spark.sparkContext.defaultParallelism)
      // past ~20k centroids the literal kernel's k×dim typedlit stops being
      // a sane task closure (tens of MB re-shipped per task; minutes of
      // plan work) — that wall is WHY the table/hier paths exist, so the
      // harness skips measuring it there rather than timing a pathology
      val lit =
        if (!paths("literal")) "not measured"
        else if (k <= 20480) {
          val (lb, lt) = steady(() => spreadEmb.select(F.col("vec_id"),
            F.explode(Similarity.ivfProbes(F.col("embedding"), cents, nProbe)).as("__cid")))
          f"build=$lb%.2fs steady=$lt%.2fs"
        } else "unshippable (skipped)"
      val tbl =
        if (!paths("table")) "not measured"
        else {
          val (tb, tt) = steady(() => Similarity.assignProbesTable(
            emb, "vec_id", "embedding", Similarity.centroidTable(emb, cents), nProbe))
          f"build=$tb%.2fs steady=$tt%.2fs"
        }
      val hier =
        if (!paths("hier")) "not measured"
        else {
          val (hb, ht) = steady(() => Similarity.assignProbesHier(
            emb, "vec_id", "embedding", cents, nProbe))
          f"build=$hb%.2fs steady=$ht%.2fs"
        }
      println(s"[assignscale] n=$n k=$k literal: $lit | table: $tbl | hier: $hier")
    }
    spark.stop()
  }
}
