package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sf001 = "/root/testdata/sf0.001"
  val sf01  = "/root/testdata/sf0.01"
}

object SparkSpecBase {
  val Cores = 4

  lazy val session: SparkSession = {
    // Per-run warehouse: managed-table CTAS (BucketingSpec) must not trip
    // over locations left on disk by a previous JVM's run.
    val warehouse =
      java.nio.file.Files.createTempDirectory("graft-warehouse-").toUri.toString
    val s = Session.build("graft-test", Cores,
      Map("spark.sql.warehouse.dir" -> warehouse))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
