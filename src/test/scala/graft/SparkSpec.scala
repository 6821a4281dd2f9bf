package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs: the session Bench times
  * ([[Session.build]]) on local[4], sized for sf0.001, plus a warehouse
  * dir for the specs' bucketed tables.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir: String = SparkSpec.sfDir
  def scratchDir(prefix: String): Path = SparkSpec.scratchDir(prefix)
}

object SparkSpec {
  val sfDir = "/root/testdata/sf0.001"

  /** A new empty directory for one test's files, deleted when the JVM
    * exits, so two test JVMs on one host never write into each other's.
    */
  def scratchDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook(if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally s.close()
    })
    dir
  }

  lazy val warehouse: Path = scratchDir("graft-warehouse")
  lazy val session: SparkSession = Session.build(sfDir, 4,
    Map("spark.sql.warehouse.dir" -> warehouse.toString))
}
