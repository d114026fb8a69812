package graft

class ArtifactsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a frame over written artifacts survives another session and a rebuild") {
    val rebuiltInSession = Set("q_ingest_compact", "q_schema_merge")
    val broken = Seq("q_kql_externaldata", "q_variant_stored", "q_streaming_sink",
        "q_search_indexed", "q_ingest_compact", "q_schema_merge").flatMap { q =>
      val fn = SparkEntry.queries(q)
      // built, not run: its file listing is taken now
      val first = fn(spark, sf)
      val expected = rows(fn(spark.newSession(), sf))
      assert(expected.nonEmpty, s"$q returned no rows")
      if (rebuiltInSession(q)) assert(rows(fn(spark, sf)) == expected)
      try {
        val again = rows(first)
        if (again == expected) None else Some(s"$q: rows changed")
      } catch { case e: Exception => Some(s"$q: ${e.getMessage.take(120)}") }
    }
    assert(broken.isEmpty, broken.mkString("\n"))
  }
}
