package graft.tools

/** Dev harness: time named contract queries (comma-separated) against an SF dir.
  * Uses the noop sink (same methodology as Bench); pass -explain to dump plans
  * to stdout, or -plandir=<dir> [-suffix=<tag>] to write each query's
  * explain("formatted") to <dir>/<name>_<tag>.txt (the plans/r18 evidence
  * convention). -nN sets runs per query. Each run rebuilds the DataFrame (no
  * AQE stage reuse); plan-construction time (Catalyst analysis) is reported
  * separately from execution so per-query overhead is attributable. */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1 && !args(1).startsWith("-")) args(1) else "/root/testdata/sf0.001"
    val explain = args.contains("-explain")
    val planDir = args.collectFirst { case a if a.startsWith("-plandir=") => a.drop(9) }
    val suffix = args.collectFirst { case a if a.startsWith("-suffix=") => a.drop(8) }.getOrElse("before")
    val runs = args.collectFirst { case a if a.startsWith("-n") && a.drop(2).forall(_.isDigit) && a.length > 2 => a.drop(2).toInt }.getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.SparkEntry.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Warmup.run(spark)
    names.foreach { name =>
      val tb0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val built = (System.nanoTime() - tb0) / 1e9
      val tp0 = System.nanoTime()
      val planTxt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val planned = (System.nanoTime() - tp0) / 1e9
      println(f"[$name] build=$built%.2fs plan=$planned%.2fs")
      if (explain) println(planTxt)
      planDir.foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/${name}_$suffix.txt"),
          planTxt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      (1 to runs).foreach { i =>
        // -cold replicates Bench's pass hygiene: materialize barriers are
        // dropped before each run so samples time the recompute, not a
        // warm read of an earlier run's cache
        if (args.contains("-cold")) graft.functions.Caching.clearSession(spark)
        spark.sparkContext.setJobDescription(s"$name run$i")
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"[$name] run$i t=${(System.nanoTime() - t0) / 1e9}%.2fs")
        spark.sparkContext.setJobDescription(null)
      }
    }
    spark.stop()
  }
}
