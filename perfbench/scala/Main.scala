package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.Caching
import graft.kql.KqlParser
import graft.sources.Tables

/** The benchmark's JVM side: one single-client session, closed loop.
  *
  * Reads a spec file (`key=value` lines written by run.py), times its own
  * calls into the program's public functions, and writes every raw sample,
  * count and span boundary to `results.json`. All statistics are computed by
  * run.py. Usage: `perfbench.Main <spec file>`. */
object Main {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  private def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Spec(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"spec: missing $k"))
    def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
  }

  /** One timed call: construction of the DataFrame, then its execution.
    * `planPhases` are the Catalyst phases the DataFrame's own plan ran during
    * construction (traced rounds only). */
  final case class Sample(id: String, name: String, round: Int, startMs: Double,
      constructEndMs: Double, endMs: Double, construct: Option[Codegen],
      execute: Option[Codegen], planPhases: Map[String, (Long, Long)],
      error: Option[String])

  def main(args: Array[String]): Unit = {
    val spec = Spec(Files.readAllLines(Paths.get(args(0))).asScala
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap)
    val status = try { run(spec); 0 } catch { case NonFatal(e) =>
      e.printStackTrace(); 1
    }
    sys.exit(status)
  }

  private def session(spec: Spec): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val conf = Files.readAllLines(Paths.get(spec("session_conf"))).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(k, v) = l.split("=", 2).map(_.trim)
        k -> v.replace("{cores}", cores).replace("{scratch}", spec("scratch"))
      }
    conf.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
      .master(s"local[$cores]").getOrCreate()
  }

  private def run(spec: Spec): Unit = {
    val workload = spec("workload")
    val data = spec("data")
    val out = Paths.get(spec("out"))
    val seconds = spec("seconds").toDouble
    val trace = spec("trace") == "1"
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val ingest = workload == "events_ingest_scan"

    // Set-up, from JVM start: session ready, Warmup.run, the first table
    // resolve. Each part is timed for the per-layer split.
    val spark = session(spec)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = nowMs()
    graft.Warmup.run(spark)
    val warmupMs = nowMs()
    Tables.load(spark, data, if (ingest) "EventTypes" else "events").schema
    val resolveMs = nowMs()
    val sc = spark.sparkContext

    val scheduler = new SchedulerRecorder
    val catalyst = new CatalystRecorder
    var tracing = false
    def setTracing(on: Boolean): Unit = if (on != tracing) {
      if (on) {
        sc.addSparkListener(scheduler); spark.listenerManager.register(catalyst)
      } else {
        fence(spark, scheduler)
        sc.removeSparkListener(scheduler); spark.listenerManager.unregister(catalyst)
      }
      tracing = on
    }

    val samples = mutable.ArrayBuffer.empty[Sample]
    def timed(id: String, name: String, round: Int)(build: => DataFrame)
        (exec: DataFrame => Unit): Unit = {
      sc.setLocalProperty(Tags.Query, id)
      sc.setLocalProperty(Tags.Phase, "construct")
      val cg0 = if (tracing) Some(Codegen.now()) else None
      val t0 = nowMs()
      var t1 = t0
      var cg1: Option[Codegen] = None
      var planPhases = Map.empty[String, (Long, Long)]
      val error = try {
        val df = build
        t1 = nowMs(); cg1 = cg0.map(_ => Codegen.now())
        if (tracing) planPhases = df.queryExecution.tracker.phases
          .map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
        sc.setLocalProperty(Tags.Phase, "execute")
        exec(df)
        None
      } catch { case NonFatal(e) =>
        Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300))
      } finally {
        sc.setLocalProperty(Tags.Query, null); sc.setLocalProperty(Tags.Phase, null)
      }
      val t2 = nowMs()
      val cg2 = cg0.map(_ => Codegen.now())
      samples += Sample(id, name, round, t0, t1, t2,
        for (a <- cg0; b <- cg1) yield b - a,
        for (b <- cg1; c <- cg2) yield c - b, planPhases, error)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // ---- workload bodies ----------------------------------------------------
    val scratch = Paths.get(spec("scratch"))
    val segPath = scratch.resolve("segments").toString
    // the compacted tree is the `Events` table of the data directory, read
    // through the program's own table resolver like every fixture table
    val compactPath = s"$data/Events.parquet"
    val hot: Seq[(String, String)] =
      if (ingest) readKql(Paths.get(spec("hot_queries"))) else Nil
    val tables = Tables.resolver(spark, data)
    val tableStats = mutable.LinkedHashMap.empty[String, Any]

    def fixtureRound(r: Int): Unit = spec.list("queries").foreach { n =>
      timed(s"$r:$n", n, r)(SparkEntry.queries(n)(spark, data))(noop)
    }
    def hotRound(r: Int): Unit = spec.list("hot_order").foreach { n =>
      val kql = hot.toMap.apply(n)
      timed(s"$r:$n", n, r)(KqlParser.parse(kql, tables))(noop)
    }
    def ingestAndCompact(): Unit = {
      spec.list("appends").zipWithIndex.foreach { case (b, k) =>
        timed(s"0:append$k", "append", 0)(
          spark.read.parquet(s"$data/batch_$b.parquet"))(df =>
          Tables.appendSegment(df, segPath, tsCol = "ts", bloomCols = Seq("event_type")))
      }
      val segFiles = dirStats(Paths.get(segPath))
      timed("0:compact", "compact", 0)(spark.emptyDataFrame)(_ =>
        Tables.compact(spark, segPath, compactPath, tsCol = "ts"))
      val compFiles = dirStats(Paths.get(compactPath))
      tableStats ++= Seq("segment_files" -> segFiles._1, "segment_bytes" -> segFiles._2,
        "compacted_files" -> compFiles._1, "compacted_bytes" -> compFiles._2,
        "compacted_buckets" -> compFiles._3)
    }

    // ---- rounds ------------------------------------------------------------
    // Round 0 is the cold first round and round 1 a warm-up (JIT still
    // compiling); steady rounds follow until `seconds` have passed and at
    // least `min_steady` untraced steady rounds ran. A traced run traces
    // round 0 and every other steady round, the rest untraced, for the
    // tracing overhead.
    val minSteady = spec("min_steady").toInt
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    val begin = nowMs()
    var r = 0
    def untracedSteady = if (trace) (r - 2) / 2 else math.max(0, r - 2)
    while (r < 2 || untracedSteady < minSteady || (nowMs() - begin) / 1e3 < seconds) {
      val traced = trace && (r == 0 || (r >= 2 && r % 2 == 0))
      setTracing(traced)
      val t0 = nowMs()
      if (ingest) {
        if (r == 0) ingestAndCompact()
        hotRound(r)
      } else fixtureRound(r)
      val t1 = nowMs()
      val resident = if (traced)
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum else 0L
      rounds += Map("round" -> r, "traced" -> traced, "start_ms" -> t0, "end_ms" -> t1,
        "cache_resident_bytes" -> resident)
      // Pass hygiene as in graft.Bench: drop the per-invocation barriers so
      // the next round recomputes them; per-corpus artifacts stay.
      Caching.clearSession(spark)
      System.gc()
      r += 1
    }
    setTracing(false)
    val peakRssMb = vmHwmKb() / 1024.0

    // ---- checks, outside the timed region ---------------------------------
    val checkDir = out.resolve("check")
    val checks = mutable.LinkedHashMap.empty[String, Any]
    def check(name: String)(body: => Map[String, Any]): Unit = {
      sc.setLocalProperty(Tags.Query, s"check:$name")
      checks(name) = try body catch { case NonFatal(e) =>
        Map("error" -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300))
      }
      sc.setLocalProperty(Tags.Query, null)
    }
    def writeCheck(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(name).toString)
    if (ingest) {
      check("ingest") {
        val comp = spark.read.parquet(compactPath)
        Map("distinct_keys" -> comp.select("ts", "_dedup").distinct().count(),
          "compacted_rows" -> comp.count(),
          "segment_rows" -> spark.read.parquet(segPath).count())
      }
      hot.foreach { case (n, kql) =>
        check(n) { writeCheck(n, KqlParser.parse(kql, tables)); Map.empty }
      }
    } else {
      val queries = spec.list("queries").distinct
      queries.foreach { n =>
        check(n) { writeCheck(n, SparkEntry.queries(n)(spark, data)); Map.empty }
      }
      // the oracle file graft.Verify writes, read by tools/check_oracle.py
      Files.createDirectories(checkDir)
      Files.writeString(checkDir.resolve("oracle_sql.json"),
        Json.obj(queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)): _*))
    }
    spark.stop() // drains the listener bus before the recorders are read

    val result = Json.obj(
      "workload" -> workload,
      "env" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "java" -> System.getProperty("java.version"),
        "load_avg_start" -> loadStart, "load_avg_end" -> os.getSystemLoadAverage),
      "setup_s" -> Map("session" -> (sessionMs - jvmStartMs) / 1e3,
        "warmup" -> (warmupMs - sessionMs) / 1e3, "resolve" -> (resolveMs - warmupMs) / 1e3),
      "peak_rss_mb" -> peakRssMb,
      "rounds" -> rounds.toSeq,
      "samples" -> samples.toSeq.map(s => collection.immutable.ListMap(
        "id" -> s.id, "name" -> s.name, "round" -> s.round, "start_ms" -> s.startMs,
        "construct_end_ms" -> s.constructEndMs, "end_ms" -> s.endMs,
        "codegen_construct" -> s.construct.map(codegenJson),
        "codegen_execute" -> s.execute.map(codegenJson),
        "plan_phases" -> s.planPhases, "error" -> s.error)),
      "jobs" -> scheduler.jobs.toSeq.map(j => collection.immutable.ListMap(
        "id" -> j.id, "query" -> j.query, "phase" -> j.phase, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> j.stageIds)),
      "stages" -> scheduler.stages.values.toSeq.map(s => collection.immutable.ListMap(
        "id" -> s.id, "job" -> s.jobId, "submit_ms" -> s.submitMs, "end_ms" -> s.endMs, "tasks" -> s.tasks,
        "failed_tasks" -> s.failedTasks, "duration_ms" -> s.durationMs,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "deser_ms" -> s.deserMs, "result_ser_ms" -> s.resultSerMs,
        "input_bytes" -> s.inputBytes, "input_records" -> s.inputRecords,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes)),
      "blocks" -> scheduler.blocks.toSeq.map(b => Seq(b.query, b.rddId, b.bytes)),
      "execs" -> catalyst.execs.toSeq.map(e => collection.immutable.ListMap(
        "phases" -> e.phases, "rule_calls" -> e.ruleCalls,
        "rule_effective" -> e.ruleEffective, "cache_scans" -> e.cacheScans)),
      "tables" -> tableStats,
      "checks" -> checks)
    Files.writeString(out.resolve("results.json"), result)
  }

  private def codegenJson(c: Codegen): Map[String, Any] =
    Map("compiles" -> c.compiles, "compile_ns" -> c.compileNs, "source_bytes" -> c.sourceBytes)

  /** Waits until the scheduler recorder has seen a marker job end: the bus
    * delivers in posting order, so every earlier event has been recorded. */
  private def fence(spark: SparkSession, rec: SchedulerRecorder): Unit = {
    val id = s"fence:${System.nanoTime()}"
    spark.sparkContext.setLocalProperty(Tags.Query, id)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setLocalProperty(Tags.Query, null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!rec.synchronized(rec.jobs.exists(j => j.query == id && j.endMs > 0)) &&
        System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Peak resident set size of this process (VmHWM), in kB. */
  private def vmHwmKb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** (parquet files, bytes, time-bucket directories) under a table root. */
  private def dirStats(root: Path): (Long, Long, Long) = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toSeq
    val buckets = Files.list(root).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("ts_bucket="))
    (files.size.toLong, files.map(Files.size).sum, buckets.toLong)
  }

  /** `// name` headers followed by the KQL text of that query. */
  private def readKql(path: Path): Seq[(String, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, StringBuilder)]
    Files.readAllLines(path).asScala.foreach { l =>
      if (l.startsWith("// ")) out += (l.drop(3).trim -> new StringBuilder)
      else if (out.nonEmpty && l.trim.nonEmpty) out.last._2.append(l).append('\n')
    }
    out.map { case (n, b) => n -> b.toString.trim }.toSeq
  }
}
