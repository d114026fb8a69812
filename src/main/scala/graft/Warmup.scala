package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-time JVM warm-up for expensive lazy initializations, so per-query timings
  * measure the queries and not class loading.
  *
  * Notably, Spark 4.1's CollationAwareUTF8String builds ICU case-mapping tables in its
  * static initializer — ~45s on this container — triggered by the first non-literal
  * lower()/upper() (literals constant-fold and never hit it; BENCH_NOTES.md "JVM
  * warm-up"). A long-lived cluster pays this once per executor JVM at startup; paying
  * it inside the first timed query would misattribute it. */
object Warmup {
  def run(spark: SparkSession): Unit = {
    // non-foldable string expr → executes CollationSupport.Lower/Upper at runtime
    spark.range(1)
      .select(lower(concat(col("id").cast("string"), lit("A"))).as("l"),
        upper(concat(col("id").cast("string"), lit("a"))).as("u"))
      .count()
    ()
  }
}
