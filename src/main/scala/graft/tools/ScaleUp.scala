package graft.tools

import org.apache.spark.sql.{functions => F}
import graft.sources.Tables

/** Dev harness: synthesize an N× scale-up of a fixture directory to measure
  * how query cost grows with data volume (SCALE.md's measured-scaling table).
  *
  * Big tables are replicated `factor`× with their primary key shifted by
  * replica·10¹² — so fixed-id query subsets (`vec_id < 50` probe sets,
  * `user_id < 40` funnels) keep their ORIGINAL size while the corpus side
  * grows: the honest setup for checking near-linear scaling of corpus-bound
  * work. `lineitem`/`orders` shift their shared join key together so the
  * fact⋈fact join fans out identically per replica. Dimension tables copy
  * through unchanged.
  */
object ScaleUp {

  private val shiftKeys = Map(
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"))

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.tableNames.foreach { t =>
      val df = Tables.load(spark, src, t)
      val out = shiftKeys.get(t) match {
        case Some(keys) =>
          (0 until factor).map { r =>
            keys.foldLeft(df)((d, k) =>
              d.withColumn(k, F.col(k) + F.lit(r.toLong * 1000000000000L)))
          }.reduce(_ union _)
        case None => df
      }
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t -> $dst (${factor}x = ${out.count()} rows)")
    }
    spark.stop()
  }
}
