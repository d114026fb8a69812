package graft.tools

/** Dev harness: time an arbitrary KQL text (from a file; `---` separates
  * multiple statements) against the fixture tables with the bench's session
  * shape — the fastest way to attribute a slow KQL query's cost to one
  * aggregate/operator by deleting pieces. Usage:
  * KqlProbe <file.kql> [sfDir] [runs]. */
object KqlProbe {
  def main(args: Array[String]): Unit = {
    val file = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Warmup.run(spark)
    val texts = scala.io.Source.fromFile(file).mkString.split("(?m)^---$")
      .map(_.trim).filter(_.nonEmpty)
    texts.zipWithIndex.foreach { case (kql, i) =>
      (1 to runs).foreach { r =>
        val t0 = System.nanoTime()
        graft.kql.KqlParser.parse(kql, graft.sources.Tables.resolver(spark, sfDir))
          .write.format("noop").mode("overwrite").save()
        println(f"[stmt$i] run$r t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
    spark.stop()
  }
}
