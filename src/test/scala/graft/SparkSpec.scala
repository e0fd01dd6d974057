package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: the graft.Session factory session at local[4]
  * (test data is sf0.001). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session(4)

  lazy val ctx: Ctx = Ctx(spark, "/root/testdata/sf0.001")

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here
    super.afterAll()
  }
}
