package graft.sources

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one store of per-session artifacts: MinHash tables, trained models,
  * written indexes and segments, stream results and table plans. Like
  * meerkat's segments they are written once and read many times, so each
  * is built once per (session, kind, source) and served after that.
  *
  *   - Keys hold the SparkSession object itself (SparkSession keeps
  *     reference equality, so keys compare it by `eq`), a typed [[Kind]]
  *     and the source the artifact was built from.
  *   - Directories live under one root per session inside the first
  *     `spark.local.dir` entry (java.io.tmpdir when unset).
  *   - A session's entries live until its SparkContext stops: [[release]]
  *     then unpersists its frames and deletes its root. A JVM shutdown hook
  *     deletes the roots still present at exit. No session drops another
  *     session's entries.
  *
  * Sessions of one context share Spark's plan-keyed cache, so two sessions
  * that persist the same plan share one cached copy: an explicit [[release]]
  * of one while the other runs makes the other recompute that frame from
  * lineage. Results stay the same.
  */
object Artifacts {

  private val kinds = new java.util.concurrent.ConcurrentLinkedQueue[Kind[_]]()
  private val roots = TrieMap.empty[SparkSession, Path]
  private val contexts = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkContext]()
  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong()

  sys.addShutdownHook(roots.values.foreach(delete))

  /** One artifact family; `onRelease` frees a value when its session goes. */
  final class Kind[T](val name: String, onRelease: T => Unit = (_: T) => ()) {
    private val values = TrieMap.empty[(SparkSession, String), T]
    kinds.add(this)

    private[Artifacts] def get(s: SparkSession, source: String, build: => T): T =
      values.getOrElseUpdate((s, source), build)

    private[Artifacts] def release(s: SparkSession): Unit =
      values.keys.filter(_._1 eq s).foreach(k => values.remove(k).foreach(onRelease))
  }

  /** A kind of frames the builder persisted; release unpersists them. */
  def frames(name: String): Kind[DataFrame] = new Kind[DataFrame](name, df =>
    try if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = false)
    catch { case NonFatal(_) => () })

  /** `s`'s artifact of `kind` built from `source`: `build` runs on the first
    * call only. */
  def get[T](s: SparkSession, kind: Kind[T], source: String)(build: => T): T = {
    root(s) // registers `s` for release when its context stops
    kind.get(s, source, build)
  }

  /** A memoized session-owned directory: `fill` writes it on the first call,
    * later calls return the same path. */
  def dir(s: SparkSession, kind: Kind[String], source: String)(
      fill: String => Unit): String =
    get(s, kind, source) { val p = scratchDir(s, kind.name); fill(p); p }

  /** A fresh path under `s`'s root on every call; nothing exists there yet. */
  def scratchDir(s: SparkSession, name: String): String =
    new Path(root(s), s"$name-${scratchSeq.incrementAndGet()}").toString

  /** Drops `s`'s entries: unpersists its frames and deletes its directories.
    * Runs for every session of a context when that context stops. The next
    * call for `s` builds afresh. */
  def release(s: SparkSession): Unit = {
    kinds.forEach(_.release(s))
    roots.remove(s).foreach(delete)
  }

  private def root(s: SparkSession): Path = roots.getOrElseUpdate(s, {
    val sc = s.sparkContext
    if (contexts.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        roots.keys.filter(_.sparkContext eq sc).foreach(release)
        contexts.remove(sc)
      }
    })
    val local = sc.getConf.get("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .split(",").head.trim
    new Path(new java.io.File(local,
      s"graft-artifacts-${java.util.UUID.randomUUID()}").getAbsoluteFile.toURI)
  })

  private def delete(p: Path): Unit =
    try p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
    catch { case NonFatal(_) => () }
}
