package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `graft.store.Materialize` is the one way main sources
  * materialize a frame. A bare `localCheckpoint` is released by nobody
  * (`Dataset.unpersist` does not free it), and a bare `persist` keeps
  * all `initialPartitionNum` partitions of a shuffle (AQE may not
  * coalesce a cached plan) — see Materialize's scaladoc.
  *
  * The one named exception, a `persist` with no shuffle output for AQE
  * to coalesce: kp2b's per-micro-batch pin
  * (`availableNowCurationExactOnce`), where an eager checkpoint's extra
  * job per batch measured slower. */
class MaterializeLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val primitive = Paths.get("graft/store/Materialize.scala")
  private val exceptions = Map(
    Paths.get("graft/streaming/Streaming.scala") ->
      Set("availableNowCurationExactOnce"))

  private def scalaFiles: Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq

  /** (file under root, 1-based line, enclosing def) of every call site. */
  private def sites: Seq[(Path, Int, String)] = scalaFiles.flatMap { p =>
    val lines = Files.readAllLines(p).asScala.toVector
    lines.zipWithIndex.collect {
      // call sites only — skip comments and scaladoc mentions
      case (l, i) if (l.contains(".localCheckpoint(") || l.contains(".persist(")) &&
          !l.trim.startsWith("//") && !l.trim.startsWith("*") =>
        val enclosing = lines.take(i + 1).reverseIterator
          .map(_.trim).find(_.startsWith("def "))
          .map(_.drop(4).takeWhile(c => c.isLetterOrDigit || c == '_'))
          .getOrElse("")
        (root.relativize(p), i + 1, enclosing)
    }
  }

  test("main sources materialize only through graft.store.Materialize") {
    val all = sites
    val offenders = all.filterNot { case (p, _, enclosing) =>
      p == primitive || exceptions.get(p).exists(_(enclosing))
    }
    assert(offenders.isEmpty,
      "materialize through graft.store.Materialize.scope, not a bare " +
        "localCheckpoint/persist:\n" +
        offenders.map { case (p, n, _) => s"$root/$p:$n" }.mkString("\n"))
    // the named exceptions are real: each keeps its one site
    assert(all.filter(s => exceptions.contains(s._1))
      .map(s => s._1 -> s._3).sortBy(_.toString) ==
      exceptions.toSeq.flatMap { case (p, ds) => ds.map(p -> _) }.sortBy(_.toString))
  }
}
