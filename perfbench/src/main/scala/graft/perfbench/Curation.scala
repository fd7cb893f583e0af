package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Joins, TextAnalysis}

/** The pre-training curation chain: Gopher quality rules, exact dedup,
  * MinHash-LSH near dedup, near-dup clusters, SimHash, and a set-similarity
  * probe join. Chosen because it mixes TextKernel sketch compute with
  * scheduling-heavy steps: the connected-components fixpoint in `clusters`
  * and the set-similarity token dictionary's single-partition window.
  *
  * Inputs: `Bases` seeded documents times `Copies` decorrelated copies, plus
  * planted exact duplicates, planted near-duplicates (two words swapped
  * out) and planted too-short documents the Gopher rules must drop.
  */
final class Curation(spark: SparkSession, seed: Long, work: String, cores: Int)
    extends Workload(spark, seed, work, cores) {
  import Curation._

  def inputRows: Long = Total

  private var path = ""
  private var last: Option[Last] = None

  private final case class Last(gopher: DataFrame, exact: DataFrame,
      minhash: DataFrame, clusters: Map[Long, Long], setsimSelf: Long, probes: Long)

  def generate(dir: String): Unit = {
    val s = seed
    spark.createDataFrame(
      spark.sparkContext.range(0L, Total, 1L, cores).map(i => Row(i, Curation.text(s, i))),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .write.parquet(s"$dir/docs")
  }

  def use(dir: String): Unit = path = s"$dir/docs"

  /** Materializes a stage's output with its lineage cut, as a staged
    * pipeline hands each step a stored result. A persisted frame would keep
    * the whole chain in its plan, and every later step would re-analyze and
    * re-print (AQE plan updates) that growing plan on the driver.
    */
  private def staged(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  def pass(ops: Ops, index: Int): Unit = {
    val docs = spark.read.parquet(path)
    val gopher = ops("operators.text.gopher") {
      val g = TextAnalysis.gopherRules(docs)
      staged(g.where(g.columns.filter(_.startsWith("ok_")).map(col).reduce(_ && _))
        .select("doc_id", "text"))
    }
    val exact = ops("operators.dedup.exact")(staged(Dedup.exact(gopher, Seq("text"), "doc_id")))
    val minhash = ops("operators.dedup.minhash") {
      staged(Dedup.minhashLsh(exact, "text", "doc_id", threshold = Threshold))
    }
    val clusters = ops("operators.dedup.clusters") {
      Dedup.clusters(exact, "text", "doc_id", threshold = Threshold)
        .select("doc_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val simhash = ops("operators.dedup.simhash")(staged(Dedup.simhash(minhash, "text", "doc_id")))
    val (self, probes) = ops("operators.joins.setsim") {
      val probe = simhash.where(pmod(xxhash64(col("doc_id")), lit(20L)) === 0)
      val pairs = Joins.setSimJoin(probe, simhash, "doc_id", "text", "doc_id", "text", Threshold)
      (pairs.where(col("doc_id") === col("doc_id_right")).count(), probe.count())
    }
    last = Some(Last(gopher, exact, minhash, clusters, self, probes))
  }

  def check(): Seq[String] = last.toSeq.flatMap { l =>
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet
    val gopherIds = ids(l.gopher); val exactIds = ids(l.exact); val minhashIds = ids(l.minhash)
    val originals = (0L until Bases * Copies)
    val shortIds = (0 until Short).map(k => ShortFrom + k)
    Seq(
      shortIds.filter(gopherIds.contains).map(i => s"too-short document $i passed the Gopher rules"),
      originals.filterNot(gopherIds.contains).take(5).map(i => s"document $i failed the Gopher rules"),
      (0 until ExactDups).map(k => ExactFrom + k).filter(exactIds.contains)
        .map(i => s"planted exact duplicate $i survived Dedup.exact"),
      (0 until NearDups).map(k => NearFrom + k).filter(minhashIds.contains)
        .map(i => s"planted near-duplicate $i survived Dedup.minhashLsh at $Threshold"),
      originals.filterNot(minhashIds.contains).take(5)
        .map(i => s"decorrelated copy $i collapsed onto another document"),
      (0 until NearDups).filter(k => exactIds.contains(NearFrom + k) &&
          l.clusters.get(NearFrom + k) != l.clusters.get(nearSource(seed, k)))
        .map(k => s"near-duplicate ${NearFrom + k} is not clustered with its source ${nearSource(seed, k)}"),
      Option.when(l.setsimSelf != l.probes)(
        s"setSimJoin matched ${l.setsimSelf} of ${l.probes} probes with themselves").toSeq,
    ).flatten
  }

  def release(): Unit = {
    freeCached()
    last = None
  }
}

object Curation {
  val Bases = 800L
  val Copies = 4
  val ExactDups = 100
  val NearDups = 100
  val Short = 40
  val ExactFrom: Long = Bases * Copies
  val NearFrom: Long = ExactFrom + ExactDups
  val ShortFrom: Long = NearFrom + NearDups
  val Total: Long = ShortFrom + Short
  val Threshold = 0.8

  private def base(seed: Long, b: Long): IndexedSeq[String] = {
    val (v, cdf) = Gen.vocab(seed)
    Gen.document(seed, 100, b, 60, 140, v, cdf)
  }

  private def original(seed: Long, i: Long): IndexedSeq[String] =
    Gen.permuted(base(seed, i % Bases), (i / Bases).toInt)

  def exactSource(seed: Long, k: Int): Long = Gen.below(seed, 110, k, (Bases * Copies).toInt).toLong
  def nearSource(seed: Long, k: Int): Long = Gen.below(seed, 111, k, (Bases * Copies).toInt).toLong

  /** Text of document `i`; ids below [[ExactFrom]] are the originals. */
  def text(seed: Long, i: Long): String = {
    val words =
      if (i < ExactFrom) original(seed, i)
      else if (i < NearFrom) original(seed, exactSource(seed, (i - ExactFrom).toInt))
      else if (i < ShortFrom) {
        // swap two non-stop words (positions 0 and 6 are never stop words)
        val k = (i - NearFrom).toInt
        val (v, cdf) = Gen.vocab(seed)
        val src = original(seed, nearSource(seed, k))
        src.updated(0, v(Gen.zipfRank(cdf, Gen.u01(seed, 112, k))))
          .updated(6, v(Gen.zipfRank(cdf, Gen.u01(seed, 113, k))))
      } else {
        val (v, cdf) = Gen.vocab(seed)
        Gen.document(seed, 120, i, 20, 30, v, cdf)
      }
    words.mkString(" ")
  }
}
