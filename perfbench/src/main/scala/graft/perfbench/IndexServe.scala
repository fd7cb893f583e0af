package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Similarity, TextAnalysis}
import graft.sources.ManifestTable

/** Build once, then serve reads beside writes (the build-once / search-many /
  * refresh session model of incremental top-k similarity search). Set-up
  * appends a seeded corpus to a ManifestTable, builds the BM25 and IVF
  * indexes from it and persists both. A pass is one round of one closed-loop
  * client: `SearchesPerRefresh` single-query searches, BM25 and IVF in turn,
  * then one refresh (append a seeded delta, `readSince`, refresh both
  * indexes). Every pass starts from the table and indexes as built. Chosen
  * because each search is tiny, so planning, job scheduling, file listing
  * and driver-only time dominate it; the geo and curation kernels barely run.
  */
final class IndexServe(spark: SparkSession, seed: Long, work: String, cores: Int)
    extends Workload(spark, seed, work, cores) {
  import IndexServe._

  def inputRows: Long = Corpus

  private var root = ""
  private var index = ""
  private var base = ""
  private var refreshes = 0L
  private var queries = 0L
  private val latencies = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val writeAmp = mutable.ArrayBuffer[Double]()

  private def rows(stream: Int, from: Long, n: Long): DataFrame = {
    val s = seed
    spark.createDataFrame(
      spark.sparkContext.range(from, from + n, 1L, cores).map(i =>
        Row(i, IndexServe.text(s, stream, i), Gen.embedding(s, stream + 10, i, Dim).toSeq)),
      Schema)
  }

  def generate(dir: String): Unit =
    ManifestTable.append(rows(200, 0L, Corpus), s"$dir/table")

  /** Builds and persists both indexes of the generated corpus. */
  def use(dir: String): Unit = {
    root = s"$dir/table"
    index = s"$work/index"
    timed("build") {
      val corpus = ManifestTable.read(spark, root)
      TextAnalysis.buildBM25Index(corpus, s"$index/bm25")
      val (assigned, centroids) = Similarity.ivfBuildIndex(corpus, "vec", "doc_id", nlist = NList)
      assigned.write.partitionBy("cell").parquet(s"$index/ivf/assigned")
      centroids.write.parquet(s"$index/ivf/centroids")
    }
    base = s"$work/index-base"
    FileTree.copy(root, s"$base/table")
    FileTree.copy(index, s"$base/index")
  }

  private def timed[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    latencies.getOrElseUpdate(kind, mutable.ArrayBuffer[Double]()) += (System.nanoTime() - t0) / 1e6
    r
  }

  /** Query `q`: three words of a seeded corpus document, and that
    * document's embedding as the vector query.
    */
  private def query(q: Long): (Long, String, Array[Float]) = {
    val d = Gen.below(seed, 210, q, Corpus.toInt).toLong
    val words = IndexServe.text(seed, 200, d).split(" ")
    val k = Gen.below(seed, 211, q, words.length - 3)
    (q, words.slice(k, k + 3).mkString(" "), Gen.embedding(seed, 210, d, Dim))
  }

  private def textQuery(q: (Long, String, Array[Float])): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(q._1, q._2)), QuerySchema)

  private def vecQuery(q: (Long, String, Array[Float])): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(q._1, q._3.toSeq)),
      StructType(Seq(StructField("doc_id", LongType), StructField("vec", ArrayType(FloatType)))))

  private def bm25(q: (Long, String, Array[Float])): Array[Row] =
    TextAnalysis.searchBM25Index(spark, s"$index/bm25", textQuery(q), topK = TopK).collect()

  private def ivf(q: (Long, String, Array[Float]), nprobe: Int): Array[Row] =
    Similarity.ivfSearchIndex(spark.read.parquet(s"$index/ivf/assigned"),
      spark.read.parquet(s"$index/ivf/centroids"), vecQuery(q), "vec", "doc_id", TopK, nprobe)
      .collect()

  def pass(ops: Ops, pass: Int): Unit = {
    (0 until SearchesPerRefresh).foreach { r =>
      ops.tracer.nextRequest()
      val q = query(queries); queries += 1
      if (r % 2 == 0) timed("bm25")(ops("operators.text.bm25_search")(bm25(q)))
      else timed("ivf")(ops("operators.similarity.ivf_search")(ivf(q, NProbe)))
    }
    ops.tracer.nextRequest()
    refresh(ops)
  }

  private def refresh(ops: Ops): Unit = timed("refresh") {
    val tracing = ops.tracer.recording
    val from = ManifestTable.latestVersion(root).get
    val delta = rows(300, Corpus + refreshes * Delta, Delta)
    refreshes += 1
    val rootBefore = if (tracing) FileTree.snapshot(root) else Map.empty[String, Long]
    ops("sources.manifest.append")(ManifestTable.append(delta, root))
    val deltaBytes = if (tracing) FileTree.added(rootBefore, FileTree.snapshot(root)) else 0L
    val newDocs = ops("sources.manifest.read_since")(ManifestTable.readSince(spark, root, from))
    val indexBefore = if (tracing) FileTree.snapshot(index) else Map.empty[String, Long]
    ops("operators.text.bm25_refresh")(TextAnalysis.refreshBM25Index(spark, s"$index/bm25", newDocs))
    ops("operators.similarity.ivf_refresh") {
      Similarity.ivfRefreshIndex(spark, s"$index/ivf", newDocs, "vec", "doc_id")
    }
    if (tracing && deltaBytes > 0)
      writeAmp += FileTree.added(indexBefore, FileTree.snapshot(index)).toDouble / deltaBytes
  }

  /** A fresh query against the refreshed indexes: BM25 must equal a scan
    * over the current table, IVF probing every cell must equal brute force.
    */
  def check(): Seq[String] = {
    val q = query(queries)
    val current = ManifestTable.read(spark, root)
    def hits(rows: Array[Row]) = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val served = hits(bm25(q))
    val scanned = hits(TextAnalysis.searchBM25(current, textQuery(q), topK = TopK).collect())
    def ranked(rows: Array[Row]) = rows.map(r => (r.getLong(1), r.getDouble(2))).sortBy(x => (-x._2, x._1)).toSeq
    val probed = ranked(ivf(q, NList))
    val brute = ranked(Similarity.bruteForceTopK(current, vecQuery(q), "vec", "doc_id", TopK).collect())
    Option.when(served.isEmpty || served != scanned)(
      s"searchBM25Index returned ${served.size} hits that differ from searchBM25 over the current table").toSeq ++
      Option.when(probed.length != TopK || probed.map(_._1) != brute.map(_._1) ||
        probed.zip(brute).exists { case (a, b) => math.abs(a._2 - b._2) > 1e-9 })(
        "ivfSearchIndex probing every cell differs from bruteForceTopK")
  }

  /** Puts the table and both indexes back as they were right after the
    * build, so every pass refreshes the same index: a refresh's cost grows
    * with the files earlier refreshes left behind (in one run without this,
    * `refreshBM25Index` went from 30 to 45 task-seconds two refreshes apart).
    */
  def release(): Unit = {
    deleteTree(root)
    deleteTree(index)
    FileTree.copy(s"$base/table", root)
    FileTree.copy(s"$base/index", index)
  }

  override def detail(passSeconds: Seq[Double]): Map[String, Any] = {
    def timing(kind: String, unit: String, scale: Double) = {
      val xs = latencies.getOrElse(kind, mutable.ArrayBuffer[Double]()).toSeq.map(_ * scale)
      Map("p50" -> (if (xs.isEmpty) null else Stats.median(xs)), "samples" -> xs.length,
        "tail" -> Stats.tail(xs).map { case (q, v) => Map("percentile" -> q, "value" -> v) }.orNull,
        "unit" -> unit)
    }
    Map(
      "rows_per_s" -> Map("value" -> Corpus / (latencies("build").head / 1e3), "unit" -> "rows/s",
        "input_rows" -> Corpus, "what" -> "corpus rows indexed per second of BM25 and IVF build"),
      "index_build_s" -> timing("build", "s", 1e-3),
      "bm25_ms" -> timing("bm25", "ms", 1.0),
      "ivf_ms" -> timing("ivf", "ms", 1.0),
      "refresh_ms" -> timing("refresh", "ms", 1.0),
    )
  }

  /** Request latencies restart for the measured passes (the warm pass excluded). */
  override def measuring(): Unit = {
    latencies.view.filterKeys(_ != "build").foreach(_._2.clear())
    writeAmp.clear()
  }

  override def traced(): Map[String, Double] =
    if (writeAmp.isEmpty) Map.empty else Map("sources.index.write_amp" -> Stats.median(writeAmp.toSeq))
}

object IndexServe {
  val Corpus = 2000L
  val Delta = 50L
  val Dim = 32
  val NList = 16
  val NProbe = 4
  val TopK = 10
  /** Searches before each refresh, chosen from the traced split so that the
    * searches are most of a pass: on 4 cores one BM25 search takes about
    * 0.9 s, one IVF search 0.7 s and one refresh 5.5 s, so ten searches are
    * about 60% of a pass.
    */
  val SearchesPerRefresh = 10

  val Schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("vec", ArrayType(FloatType))))
  val QuerySchema: StructType = StructType(Seq(StructField("query_id", LongType),
    StructField("query", StringType)))

  def text(seed: Long, stream: Int, i: Long): String = {
    val (v, cdf) = Gen.vocab(seed)
    Gen.document(seed, stream, i, 20, 60, v, cdf).mkString(" ")
  }
}

/** File-tree snapshots for write amplification: path → size. */
object FileTree {
  def snapshot(dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally s.close()
    }
  }

  /** Copies the tree under `from` to `to`, which must not exist yet. */
  def copy(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val s = java.nio.file.Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally s.close()
  }

  /** Bytes of files in `after` that are new or changed size since `before`. */
  def added(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (f, n) if !before.get(f).contains(n) => n }.sum
}
