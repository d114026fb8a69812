package graft.tools

import org.apache.spark.sql.{functions => F}
import graft.functions.Similarity
import graft.sources.Tables

/** Dev harness: measure SemDeDup's scaling contract — within-cluster pair
  * work is quadratic in cluster SIZE, so the cluster COUNT must grow with
  * the corpus (k ∝ n keeps the target cluster size, and therefore the
  * per-row pair budget, constant). Runs Similarity.semDedup on the base
  * fixture and on a ScaleUp'd directory with k scaled by the same factor,
  * steady-state timing (run 2 of 2), and prints rows/removed/time so the
  * SCALE.md row is reproducible. An optional 4th arg `hier` runs the
  * SCALED leg through the two-level assignment (semDedup(hierAssign=true))
  * — the end-to-end form of the assignment-stage decomposition. Usage:
  *   runMain graft.tools.SemDedupScale <baseDir> <scaledDir> <factor> [hier]
  */
object SemDedupScale {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: SemDedupScale <baseDir> <scaledDir> <factor>")
    val Array(base, scaled, factorS) = args.take(3)
    val factor = factorS.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Warmup.run(spark)

    val hierScaled = args.length > 3 && args(3) == "hier"
    def one(dir: String, k: Int, hier: Boolean): Unit = {
      val emb = Tables.load(spark, dir, "embeddings")
        .select(F.col("vec_id"), F.col("embedding"))
      val n = emb.count()
      val centroids = Similarity.ivfTrain(emb, "vec_id", "embedding", 64,
        nCentroids = k)
      var removed = 0L
      var t = 0.0
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        removed = Similarity.semDedup(emb, "vec_id", "embedding", 64,
          tau = 0.9, trained = Some(centroids), hierAssign = hier)
          .where(F.col("removed")).count()
        t = (System.nanoTime() - t0) / 1e9
      }
      println(f"[semscale] dir=$dir k=$k hier=$hier n=$n removed=$removed steady=$t%.2fs")
    }
    one(base, 64, hier = false)
    one(scaled, 64 * factor, hier = hierScaled)
    spark.stop()
  }
}
