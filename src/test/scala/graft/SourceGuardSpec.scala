package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards on `src/main`: one session shape, built in one place,
  * with the native expressions always installed, and no session keyed by
  * object identity or sharing a fixed temp path. Also pins the benchmark's
  * session file to the factory's engine settings, so the benchmark measures
  * the session shape the engine runs under. */
class SourceGuardSpec extends AnyFunSuite {
  private val factory = Paths.get("src/main/scala/graft/SparkEntry.scala")

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def sitesOf(needle: String): Seq[String] = sources.flatMap { case (p, text) =>
    text.linesIterator.zipWithIndex.collect {
      case (line, i) if line.contains(needle) => s"$p:${i + 1}"
    }
  }

  test("no runtime dispatch on registered functions") {
    assert(sitesOf("functionExists").isEmpty)
  }

  test("sessions are built and configured only by the factory") {
    for (needle <- Seq("SparkSession.builder", "spark.sql.extensions")) {
      val outside = sitesOf(needle).filterNot(_.startsWith(s"$factory:"))
      assert(outside.isEmpty, s"$needle outside $factory: $outside")
    }
  }

  test("no identity-keyed caches and no fixed /tmp/graft_ paths") {
    assert(sitesOf("identityHashCode").isEmpty)
    assert(sitesOf("/tmp/graft_").isEmpty)
  }

  test("the benchmark session's engine keys equal the factory's settings") {
    val deployment = Set("spark.local.dir", "spark.sql.warehouse.dir",
      "spark.hadoop.hadoop.tmp.dir")
    val conf = Files.readAllLines(Paths.get("perfbench/session.conf")).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("=", 2).map(_.trim); k -> v }
      .filterNot { case (k, _) => deployment(k) }.toMap
    assert(conf == SparkEntry.engineConf("{cores}").toMap)
  }
}
