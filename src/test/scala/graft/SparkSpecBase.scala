package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole forked test JVM —
  * session startup dominates suite runtime otherwise. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Session.builder(4)
    .appName("graft-tests")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
