package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, and one temp root per suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  /** `import testImplicits._` for toDF/toDS in specs. */
  protected lazy val testImplicits = spark.implicits

  private var tmpRoot: Option[Path] = None

  /** A new empty directory (prefix `tag`) under this suite's temp root,
    * which is created on first use and deleted after the suite.
    */
  protected def tmpDir(tag: String): String = synchronized {
    val root = tmpRoot.getOrElse {
      val r = Files.createTempDirectory(s"graft-${getClass.getSimpleName}-")
      tmpRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, tag).toString
  }

  override def afterAll(): Unit =
    try tmpRoot.foreach(graft.deleteRecursively) finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = graft.tools.Harness.localSession(4)
}
