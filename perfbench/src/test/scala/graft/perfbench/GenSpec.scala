package graft.perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a function of the seed alone. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = Files.createTempDirectory("perfbench-gen")
  private lazy val spark = {
    val b = SparkSession.builder().master("local[2]").appName("perfbench-gen-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
    graft.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    val s = Files.walk(tmp)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p)) finally s.close()
  }

  /** SHA-256 of every data file under `dir`, sorted, ignoring file names
    * (Spark names parquet parts per job) and the manifest log (commit times).
    */
  private def digests(dir: Path): Seq[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.toString.contains("_graft_manifest"))
      .map(p => MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
        .map(b => f"$b%02x").mkString)
      .toSeq.sorted
    finally s.close()
  }

  private def generated(name: String, seed: Long, copy: String): Seq[String] = {
    val work = tmp.resolve(s"$name-$seed-$copy")
    val w = Main.workload(Main.Args(workload = name, seed = seed, work = work.toString, cores = 2), spark)
    w.generate(work.resolve("inputs").toString)
    digests(work.resolve("inputs"))
  }

  for (name <- Seq("geo_batch", "curation", "index_serve")) {
    test(s"$name: the same seed writes byte-identical inputs, another seed different ones") {
      val a = generated(name, 7L, "a")
      assert(a.nonEmpty)
      assert(generated(name, 7L, "b") == a)
      assert(generated(name, 8L, "a") != a)
    }
  }

  test("generators are pure functions of (seed, stream, index)") {
    assert(Gen.zoneWkb(3L, 17L).sameElements(Gen.zoneWkb(3L, 17L)))
    assert(!Gen.zoneWkb(3L, 17L).sameElements(Gen.zoneWkb(4L, 17L)))
    assert(Curation.text(3L, 1234L) == Curation.text(3L, 1234L))
    assert(Curation.text(3L, 1234L) != Curation.text(4L, 1234L))
    assert(Gen.embedding(3L, 5, 9L, 8).sameElements(Gen.embedding(3L, 5, 9L, 8)))
  }

  test("decorrelated copies share no non-stop word with their base document") {
    val base = Curation.text(3L, 5L).split(" ").toSet -- Gen.Stopwords
    val copy = Curation.text(3L, 5L + Curation.Bases).split(" ").toSet -- Gen.Stopwords
    assert((base intersect copy).size <= base.size / 10)
  }
}
