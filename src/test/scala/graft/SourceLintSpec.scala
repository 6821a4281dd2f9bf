package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source rules no compiler checks. Every intermediate frame is stored
  * through [[Materialize]], which measures it in the same job and logs the
  * call; a hand-written `localCheckpoint` elsewhere in the main sources
  * would bring back the unmeasured checkpoint plus census pattern.
  */
class SourceLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("localCheckpoint( appears in src/main only inside graft.Materialize") {
    val sources = mainSources
    assert(sources.exists(_.endsWith(Paths.get("graft", "Materialize.scala"))),
      "run from the repository root")
    val hits = for {
      p <- sources if !p.endsWith(Paths.get("graft", "Materialize.scala"))
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("localCheckpoint(")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
