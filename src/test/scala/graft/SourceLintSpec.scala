package graft

import java.nio.file.{Files, Path, Paths}
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
  * second job with a bound of its own. Every public definition has a user
  * outside the tests: a `def` or `object` that only specs call is a second
  * surface to keep working that no query, main, SQL function or source
  * reaches. No accumulator is created in the main sources: every run-time
  * count is a [[Materialize]] fold, summed from one job's task results,
  * so a retried task is counted once and the count is in the trace; an
  * accumulator bumped inside a transformation counts a retried task
  * again.
  */
class SourceLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def scalaFiles(dir: String): List[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
  }

  private lazy val mainSources = scalaFiles("src/main/scala")

  /** Lines of `sources` that contain any of `calls`. */
  private def containing(sources: Seq[Path], calls: Seq[String]): Seq[String] =
    for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if calls.exists(line.contains)
    } yield s"$p:${i + 1}: ${line.trim}"

  /** Main-source lines outside `owner` that contain any of `calls`. */
  private def outside(owner: String, calls: String*): Seq[String] = {
    val own = Paths.get("graft", owner)
    assert(mainSources.exists(_.endsWith(own)), "run from the repository root")
    containing(mainSources.filterNot(_.endsWith(own)), calls)
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

  test("no accumulator is created in src/main") {
    assert(mainSources.nonEmpty, "run from the repository root")
    val hits = containing(mainSources, Seq("longAccumulator(", "doubleAccumulator(",
      "collectionAccumulator(", "AccumulatorV2"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** Scala source with comments, character literals and string literals
    * blanked (line breaks kept); an interpolated string keeps the code of
    * its `$name` and `${...}` splices.
    */
  private def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    def ident(c: Char) = c.isLetterOrDigit || c == '_'
    def blank(from: Int, to: Int): Unit =
      (from until to).foreach(k => out += (if (src(k) == '\n') '\n' else ' '))
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        val end = if (e < 0) n else e
        blank(i, end); i = end
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        var j = i
        while ({
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
          depth > 0 && j < n
        }) ()
        blank(i, j); i = j
      } else if (src(i) == '\'' && i + 2 < n && (src(i + 1) == '\\' || src(i + 2) == '\'')) {
        val end = if (src(i + 1) == '\\') src.indexOf('\'', i + 3) + 1 else i + 3
        blank(i, end); i = end
      } else if (src(i) == '"') {
        val interpolated = i > 0 && ident(src(i - 1))
        val q = if (src.startsWith("\"\"\"", i)) "\"\"\"" else "\""
        var j = i + q.length
        blank(i, j)
        var open = true
        while (open && j < n) {
          if (q.length == 1 && src(j) == '\\') { blank(j, j + 2); j += 2 }
          else if (src.startsWith(q, j)) {
            var e = j + q.length
            if (q.length == 3) while (e < n && src(e) == '"') e += 1
            blank(j, e); j = e; open = false
          } else if (interpolated && src.startsWith("$$", j)) { blank(j, j + 2); j += 2 }
          else if (interpolated && src.startsWith("${", j)) {
            var depth = 0
            var e = j + 1
            while ({
              if (src(e) == '{') depth += 1 else if (src(e) == '}') depth -= 1
              e += 1
              depth > 0
            }) ()
            blank(j, j + 2); out ++= src.substring(j + 2, e - 1); blank(e - 1, e); j = e
          } else if (interpolated && src(j) == '$' && j + 1 < n && ident(src(j + 1))) {
            var e = j + 1
            while (e < n && ident(src(e))) e += 1
            blank(j, j + 1); out ++= src.substring(j + 1, e); j = e
          } else { blank(j, j + 1); j += 1 }
        }
        i = j
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** Kept with no caller in `src/main`, each a reference or contract. */
  private val unreachedKept = Set(
    "SparkEntry.entry",            // the flagship smoke-check entry point
    "Vectors.knnIvf",              // KnnSpec's reference for knnIvfBatch
    "Dedup.shingles",              // TextSpec's reference for gramHashSets
    "Dedup.minhashSignaturesArr")  // DedupSpec's reference; layerbench's Probes reads it

  test("every public def and object in src/main is named outside its definition") {
    val main = mainSources.map(p => p -> code(Files.readString(p)))
    val bench = scalaFiles("layerbench/src").map(p => code(Files.readString(p)))
    assert(main.nonEmpty && bench.nonEmpty, "run from the repository root")
    val word = "[A-Za-z_][A-Za-z0-9_]*".r
    val uses = (main.map(_._2) ++ bench).flatMap(word.findAllIn)
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val definition = """(?m)^(.*?)\b(def|object)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    val defs = for {
      (p, text) <- main
      m <- definition.findAllMatchIn(text)
    } yield (p, text, m)
    val defined = defs.groupMapReduce(_._3.group(3))(_ => 1)(_ + _)
    // an object that defines `main` is an entry point, and so is its `main`
    val mains = for {
      (_, text, m) <- defs if m.group(2) == "object" && m.group(1).isEmpty
      body = text.substring(m.end)
      next = """(?m)^\S""".r.findFirstMatchIn(body).fold(body.length)(_.start)
      if body.take(next).contains("def main(")
    } yield m.group(3)
    val hits = for {
      (p, text, m) <- defs
      name = m.group(3)
      if """\b(private|protected|override)\b""".r.findFirstIn(m.group(1)).isEmpty
      if uses(name) <= defined(name)
      owner = p.getFileName.toString.stripSuffix(".scala")
      if !mains.contains(name) && !(name == "main" && mains.contains(owner)) &&
        !unreachedKept(s"$owner.$name")
    } yield s"$p:${text.take(m.start).count(_ == '\n') + 1}: ${m.group(2)} $name"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
