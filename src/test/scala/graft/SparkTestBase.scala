package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  lazy val sf0001 = "/root/testdata/sf0.001"
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = EngineSession.local("4",
      // static conf — must be set at session build; BucketingSpec creates
      // managed tables and this keeps them out of the repo working tree
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
