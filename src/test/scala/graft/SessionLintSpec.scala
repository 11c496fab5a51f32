package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one-session-source rule: every main gets its
  * session from [[GraftSession]], so the tools cannot drift apart in
  * what they plan and time, and no process-global knob can switch an
  * operator or a conf behind the caller's back.
  *
  *  1. no file under `src/main/scala` except `GraftSession.scala`
  *     calls `SparkSession.builder`;
  *  2. main sources read only the allowed environment variables —
  *     cores, master, and the path and label variables — and no
  *     system property at all;
  *  3. none names a removed knob.
  */
class SessionLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq

  private val allowedEnv = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_OUT",
    "SPARK_GRAFT_BENCH_BASELINE", "SPARK_GRAFT_PLANS_DIR",
    "SPARK_GRAFT_PLANS_TAG")

  private val removedKnobs = Seq("GRAFT_RANK_STRATEGY", "graft.rank.strategy",
    "GRAFT_DEBUG_CC", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_AQE",
    "SPARK_GRAFT_MAXPART", "SPARK_GRAFT_EXPLAIN", "SPARK_GRAFT_VERIFY_THREADS",
    "pairCheckpoint")

  test("only GraftSession builds a SparkSession") {
    val offenders = sources.collect {
      case (p, src) if src.contains("SparkSession.builder") &&
          p.getFileName.toString != "GraftSession.scala" => p.toString
    }
    assert(offenders.isEmpty,
      s"SparkSession.builder outside GraftSession: ${offenders.mkString(", ")}")
  }

  test("main sources read only the allowed environment, no system properties") {
    val envRead = """sys\.env(?:\.get|\.getOrElse|\.contains)?\(\s*"([^"]+)"""".r
    val offenders = sources.flatMap { case (p, src) =>
      envRead.findAllMatchIn(src).map(_.group(1))
        .filterNot(allowedEnv).map(n => s"$p reads env $n") ++
        Seq("System.getenv", "System.getProperty", "sys.props")
          .filter(src.contains).map(c => s"$p calls $c")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no removed knob is named in main sources") {
    val offenders = for {
      (p, src) <- sources
      k <- removedKnobs if src.contains(k)
    } yield s"$p names $k"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
