package graft

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
}

object SparkSpec {
  val sfDir = "/root/testdata/sf0.001"
  lazy val session: SparkSession = Session.build(sfDir, 4,
    Map("spark.sql.warehouse.dir" -> "/tmp/graft-warehouse"))
}
