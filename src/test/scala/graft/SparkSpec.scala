package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  /** `import testImplicits._` for toDF/toDS in specs. */
  protected lazy val testImplicits = spark.implicits
}

object SparkSpec {
  lazy val session: SparkSession = graft.tools.Harness.localSession(4)
}
