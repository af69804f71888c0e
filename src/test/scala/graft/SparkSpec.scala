package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The engine session (EngineSession) at a fixed 4 cores, so test
    * plans don't depend on the box; EngineSessionSpec pins the parity. */
  lazy val session: SparkSession = {
    val s = EngineSession.builder(4)
      .appName("graft-test")
      // saveAsTable targets (BucketingSpec) must not land in the repo cwd
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_spark_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
