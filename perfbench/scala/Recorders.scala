package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.TaskFailedReason
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties that tag every job with the query and the phase
  * (construct or execute) it ran in. */
object Tags {
  val Query = "perfbench.query"
  val Phase = "perfbench.phase"
}

/** Spark's process-wide codegen counters. Compiles and compile time are
  * exact; the source size is the compile count times the mean of the
  * histogram's sample reservoir, an estimate. */
final case class Codegen(compiles: Long, compileNs: Long, sourceBytes: Double) {
  def -(o: Codegen): Codegen =
    Codegen(compiles - o.compiles, compileNs - o.compileNs, sourceBytes - o.sourceBytes)
}
object Codegen {
  def now(): Codegen = {
    val h = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime, h.getCount * h.getSnapshot.getMean)
  }
}

/** Scheduler and task records from Spark's public listener bus. Events are
  * delivered on the bus thread; read the buffers only after the session has
  * stopped, which drains the bus. */
final class SchedulerRecorder extends SparkListener {
  final case class Job(id: Int, query: String, phase: String, startMs: Long,
      var endMs: Long, stageIds: Seq[Int])
  final class Stage(val id: Int, val jobId: Int) {
    var submitMs = 0L; var endMs = 0L
    var tasks = 0L; var failedTasks = 0L; var durationMs = 0L; var runMs = 0L
    var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L; var resultSerMs = 0L
    var inputBytes = 0L; var inputRecords = 0L; var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
  }
  final case class Block(query: String, rddId: Int, bytes: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val blocks = mutable.ArrayBuffer.empty[Block]
  private val jobById = mutable.HashMap.empty[Int, Job]
  // bus events arrive in posting order, so a cached block belongs to the
  // query of the most recent job start
  private var currentQuery = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val q = p.flatMap(x => Option(x.getProperty(Tags.Query))).getOrElse("")
    val ph = p.flatMap(x => Option(x.getProperty(Tags.Phase))).getOrElse("")
    val j = Job(e.jobId, q, ph, e.time, 0L, e.stageIds)
    jobs += j; jobById(e.jobId) = j; currentQuery = q
    e.stageInfos.foreach(s => stages.getOrElseUpdate(s.stageId, new Stage(s.stageId, e.jobId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach { s =>
      s.submitMs = i.submissionTime.getOrElse(0L)
      s.endMs = i.completionTime.getOrElse(0L)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.reason.isInstanceOf[TaskFailedReason]) s.failedTasks += 1
      s.durationMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime; s.deserMs += m.executorDeserializeTime
        s.resultSerMs += m.resultSerializationTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks += Block(currentQuery, b.blockId.asRDDId.map(_.rddId).getOrElse(-1),
        b.memSize + b.diskSize)
  }
}

/** Catalyst phase times, rule counts and cached-relation scans of every
  * executed query, from the public QueryExecutionListener. */
final class CatalystRecorder extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  final case class Exec(phases: Map[String, (Long, Long)], ruleCalls: Long,
      ruleEffective: Long, cacheScans: Int)
  val execs = mutable.ArrayBuffer.empty[Exec]

  private def record(qe: QueryExecution): Unit = {
    val t = qe.tracker
    val phases = t.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    val rules = t.rules.values
    val scans =
      try collectWithSubqueries(qe.executedPlan) { case s: InMemoryTableScanExec => s }.size
      catch { case NonFatal(_) => 0 }
    synchronized {
      execs += Exec(phases, rules.map(_.numInvocations).sum,
        rules.map(_.numEffectiveInvocations).sum, scans)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case p: Product if p.productArity == 2 && p.productPrefix.startsWith("Tuple") =>
      apply(p.productIterator.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = apply(collection.immutable.ListMap(kv: _*))
}
