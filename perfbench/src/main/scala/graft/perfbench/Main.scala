package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point; `run.py` builds the classpath and launches it.
  *
  * {{{
  * Main --workload <geo_batch|curation|index_serve> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --cores <n>
  * Main --dissolve-curve --work <dir> --cores <n>
  * }}}
  *
  * Prints one detail line (every workload-specific metric, the session
  * settings, the failed operations) and, last, the result line
  * (`correct`, `attempted`, `failed`, `metrics`). Exits 1 when an output
  * check or an operation failed.
  */
object Main {

  val SetupReps = 3
  val MinPasses = 2
  /** Traced runs alternate untraced and traced passes, at least this many each. */
  val MinTracedPasses = 1

  /** Layer metrics that read 0 on every run in a local session (no remote
    * shuffle fetch, no spill at these sizes): on the detail line only.
    */
  val DetailOnly = Set("spark.fetch_wait_s", "spark.spill_mb")

  final case class Args(workload: String = "", seed: Long = 0L, seconds: Double = 10,
      trace: Boolean = false, work: String = "", cores: Int = 1, dissolveCurve: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--cores" :: v :: rest => parse(rest, a.copy(cores = v.toInt))
    case "--dissolve-curve" :: rest => parse(rest, a.copy(dissolveCurve = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  /** Session settings beyond `graft.sessionConfigs`, echoed into the output. */
  def benchConfigs(a: Args): Map[String, String] = Map(
    "spark.master" -> s"local[${a.cores}]",
    "spark.sql.shuffle.partitions" -> a.cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"${a.work}/spark-local",
    "spark.sql.warehouse.dir" -> s"${a.work}/warehouse",
  )

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().appName("graft-perfbench")
    (graft.sessionConfigs ++ benchConfigs(a)).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "geo_batch" => new GeoBatch(spark, a.seed, a.work, a.cores)
    case "curation" => new Curation(spark, a.seed, a.work, a.cores)
    case "index_serve" => new IndexServe(spark, a.seed, a.work, a.cores)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** JVM resident high-water mark in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work.nonEmpty, "--work is required")
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = seconds(t0)
    val code =
      try if (a.dissolveCurve) dissolveCurve(spark, a) else run(spark, a, sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, a: Args, sessionS: Double): Int = {
    val w = workload(a, spark)
    val tracer = new Tracer(spark)
    val ops = new Ops(tracer)

    // set-up: input generation several times (median), `use`, the warm passes
    val genS = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      w.generate(s"${a.work}/inputs-$r")
      seconds(t)
    }
    val tu = System.nanoTime()
    w.use(s"${a.work}/inputs-${SetupReps - 1}")
    val useS = seconds(tu)
    val tw = System.nanoTime()
    (1 to w.warmPasses).foreach { k =>
      try w.pass(ops, -k) catch { case _: PassAborted => }
      w.release()
    }
    val warmS = seconds(tw)
    w.measuring()
    val setupS = sessionS + Stats.median(genS) + useS + warmS

    // measured passes; in the traced run every second pass records spans
    val plain = scala.collection.mutable.ArrayBuffer[Double]()
    val traced = scala.collection.mutable.ArrayBuffer[(Double, Span)]()
    val minPasses = if (a.trace) 2 * MinTracedPasses else MinPasses
    val tm = System.nanoTime()
    var i = 0
    while (i < minPasses || seconds(tm) < a.seconds) {
      val withTrace = a.trace && i % 2 == 1
      if (withTrace) tracer.start()
      tracer.nextRequest()
      val t = System.nanoTime()
      try {
        tracer.span("pass")(w.pass(ops, i))
        val s = seconds(t)
        if (withTrace) traced += (s -> tracer.spans.last) else plain += s
      } catch { case _: PassAborted => }
      if (withTrace) tracer.stop()
      i += 1
      if (i < minPasses || seconds(tm) < a.seconds) w.release()
    }

    val failures = ops.failures.toSeq ++ (try w.check() catch {
      case scala.util.control.NonFatal(e) => Seq(s"output check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    })
    w.release()
    val checkFailures = failures.drop(ops.failures.size)
    val passes = if (a.trace) traced.map(_._1).toSeq else plain.toSeq

    val detail = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "passes" -> passes.length, "pass_s" -> passes,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS, "use_s" -> useS,
        "warm_pass_s" -> warmS),
      "failed_ratio" -> ops.failures.size.toDouble / math.max(ops.attempted, 1L),
      "failed_operations" -> ops.failures.toSeq,
      "failed_checks" -> checkFailures,
      "session" -> (graft.sessionConfigs ++ benchConfigs(a) + ("log_level" -> "ERROR")),
      "env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")),
    )
    if (passes.nonEmpty) detail ++= w.detail(passes)

    val metrics: Map[String, Double] =
      if (passes.isEmpty) Map.empty
      else if (!a.trace) Map(
        "setup_s" -> setupS,
        "pass_s" -> Stats.median(passes),
        "peak_rss_mb" -> peakRssMb())
      else {
        val roots = traced.map(_._2).toSeq
        val layers = roots.map(r => tracer.layerMetrics(r, a.cores))
        val perLayer = layers.head.keys.map(k => k -> Stats.median(layers.map(_(k)))).toMap
        val overhead = Stats.median(traced.map(_._1).toSeq) - Stats.median(plain.toSeq)
        detail ++= Map(
          "layers" -> perLayer,
          "operators" -> operatorTable(tracer, roots, a.cores),
          "split" -> {
            val splits = roots.map(r => tracer.split(r, a.cores))
            splits.head.keys.map(k => k -> Stats.median(splits.map(_(k)))).toMap
          },
          "untraced_pass_s" -> plain.toSeq,
          "spans_file" -> writeSpans(tracer, a),
        ) ++ w.traced()
        perLayer -- DetailOnly ++ Kernels.run(a.seed) + ("trace.overhead_s" -> overhead)
      }

    val correct = failures.isEmpty && passes.nonEmpty
    println(Json.render(Map("detail" -> detail)))
    println(Json.render(Map(
      "correct" -> correct,
      "attempted" -> math.max(ops.attempted, 1L),
      "failed" -> ops.failures.size,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) }
        .to(scala.collection.immutable.ListMap))))
    if (correct) 0 else 1
  }

  /** Writes every recorded span as one JSON line, beside the run's work
    * directory (which is removed when the run ends); returns the path.
    */
  def writeSpans(tracer: Tracer, a: Args): String = {
    val out = java.nio.file.Paths.get(a.work).resolveSibling(s"spans-${a.workload}-seed${a.seed}.jsonl")
    val lines = tracer.spans.map { s =>
      val c = tracer.ownCounts(s.id)
      Json.render(scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "request" -> s.request, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ns" -> s.durNs, "jobs" -> c.jobs, "tasks" -> c.tasks, "task_run_ms" -> c.runMs))
    }
    java.nio.file.Files.write(out, lines.asJava)
    out.toString
  }

  /** Per operator span name: median duration, self time and Spark counts. */
  def operatorTable(tracer: Tracer, roots: Seq[Span], cores: Int): Map[String, Any] = {
    val rows = roots.flatMap(r => tracer.subtree(r).filter(_.id != r.id))
    rows.groupBy(_.name).map { case (name, spans) =>
      val perSpan = spans.map { s =>
        val m = tracer.layerMetrics(s, cores)
        Map("s" -> s.durNs / 1e9, "self_s" -> Span.selfMs(s, tracer.children(s)) / 1e3) ++
          m.filter { case (k, _) => k != "spark.cpu_util" }
      }
      name -> (perSpan.head.keys.map(k => k -> Stats.median(perSpan.map(_(k)))).toMap +
        ("calls" -> spans.length.toDouble / roots.length))
    }
  }

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_ns") => "ns"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case "spark.cpu_util" => "1"
    case _ => "count"
  }

  /** Times `bufferM(dissolve = true)` over growing numbers of overlapping
    * 20 km circles: the curve the geo_batch dissolve size is chosen from.
    */
  def dissolveCurve(spark: SparkSession, a: Args): Int = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val points = Seq(50, 100, 150, 200, 250, 300).map { n =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(0 until n, a.cores).map { i =>
          val (x, y) = Gen.circleCentre(0L, i)
          Row(graft.functions.GeomKernel.point(x, y))
        },
        StructType(Seq(StructField("geometry", BinaryType))))
      val runs = (0 until 3).map { _ =>
        val t = System.nanoTime()
        graft.operators.GeoOps.bufferM(df, GeoBatch.RadiusM, dissolve = true).head()
        seconds(t)
      }
      Map("circles" -> n, "dissolve_s" -> Stats.median(runs),
        "union_ms" -> Kernels.unionMs(0L, n))
    }
    println(Json.render(Map("dissolve_curve" -> points)))
    0
  }
}

/** Minimal JSON rendering for the output lines. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
