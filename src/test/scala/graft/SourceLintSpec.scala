package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source rules no compiler checks. Every intermediate frame is stored
  * through [[Materialize]], which measures it in the same job and logs the
  * call; a hand-written `localCheckpoint` elsewhere in the main sources
  * would bring back the unmeasured checkpoint plus census pattern. Every
  * listener is [[Trace]]'s, attached only by the callers that read it; a
  * listener registered elsewhere would count jobs a second way, or run
  * in sessions that no one traces. The process environment is parsed once,
  * by [[Session.env]]; a read anywhere else would be one more unchecked
  * copy of the same variable. No `graft.*` JVM system property is read
  * outside it either: a setting belongs in that parse or is a constant.
  * Rows reach the driver only through [[Materialize.bounded]], whose
  * per-partition share enforces its cap; a collect elsewhere would be a
  * second job with a bound of its own.
  */
class SourceLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** Main-source lines outside `owner` that contain any of `calls`. */
  private def outside(owner: String, calls: String*): Seq[String] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    val sources = try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    assert(sources.exists(_.endsWith(Paths.get("graft", owner))),
      "run from the repository root")
    for {
      p <- sources if !p.endsWith(Paths.get("graft", owner))
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if calls.exists(line.contains)
    } yield s"$p:${i + 1}: ${line.trim}"
  }

  test("localCheckpoint( appears in src/main only inside graft.Materialize") {
    val hits = outside("Materialize.scala", "localCheckpoint(")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("listeners are registered in src/main only inside graft.Trace") {
    val hits = outside("Trace.scala", "addSparkListener", "listenerManager.register")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the process environment is read in src/main only by graft.Session") {
    val hits = outside("Session.scala", "sys.env", "System.getenv")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no graft.* system property is read in src/main") {
    val hits = outside("Session.scala", "props.get(\"graft.", "props(\"graft.",
      "props.getOrElse(\"graft.", "getProperty(\"graft.")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("rows reach the driver in src/main only inside graft.Materialize") {
    val hits = outside("Materialize.scala",
      ".collect()", ".collectAsList(", ".toLocalIterator(", ".head()", ".first()")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
