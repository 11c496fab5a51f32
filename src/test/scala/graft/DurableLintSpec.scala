package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `graft.store.Durable` is the one home of the durable
  * artifact protocol's file names — the params sidecar, the claim
  * marker and the whole-index commit marker. A main source that spells
  * one of them is a copy of the protocol; it uses the module's
  * constants or calls the module instead. */
class DurableLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val module = Paths.get("graft/store/Durable.scala")
  private val names =
    Seq("_graft_params.json", "_graft_building", "_graft_manifest", "_GRAFT_INDEX_SUCCESS")

  private def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("only graft.store.Durable spells the durable protocol's file names") {
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && root.relativize(p) != module)
      .flatMap(p => names.filter(text(p).contains).map(n => s"$p: $n"))
      .toSeq
    assert(offenders.isEmpty,
      "use graft.store.Durable's constants or calls:\n" + offenders.mkString("\n"))
    // the module really owns the names the lint guards (the manifest is
    // gone: a resumable directory keeps the params sidecar)
    val own = text(root.resolve(module))
    assert(names.filterNot(_ == "_graft_manifest").forall(own.contains))
  }
}
