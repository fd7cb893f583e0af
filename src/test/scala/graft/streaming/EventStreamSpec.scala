package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.streaming.EventStream._

class EventStreamSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")
  private def tsH(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")

  private val events = Seq(
    Event(1, tsH(10, 0), 1, "click", 1.0),
    Event(2, tsH(10, 30), 1, "click", 2.0),
    Event(3, tsH(10, 45), 2, "view", 3.0),
    Event(4, tsH(11, 15), 1, "click", 4.0),
    Event(5, tsH(12, 5), 2, "view", 5.0))

  test("windowed batch/stream parity on the same data") {
    val batch = windowed(events.toDF()).select(
      col("window.start"), col("event_type"), col("n_events"), col("sum_value"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = windowedStream(mem.toDF(), watermark = "10 minutes")
      .select(col("window.start"), col("event_type"), col("n_events"), col("sum_value"))
      .writeStream.format("memory").queryName("win_parity").outputMode("complete").start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      val got = spark.table("win_parity").collect().map(_.toSeq).toSet
      val expect = batch.collect().map(_.toSeq).toSet
      assert(got == expect)
    } finally q.stop()
  }

  test("quantilesStream: batch/stream parity and exact per-window quantiles") {
    // more values per window so the quantile is non-trivial; k >> n → exact
    val manyEvents = (0 until 60).map(i =>
      Event(100 + i, tsH(10, i % 60), 1, "click", ((i * 37) % 100).toDouble)) ++
      (0 until 30).map(i =>
        Event(200 + i, tsH(11, i % 60), 2, "view", ((i * 13) % 50).toDouble))
    val qs = Seq(0.5, 0.9)
    val batch = quantilesWindowed(manyEvents.toDF(), qs, k = 1024)
      .select(col("window.start"), col("quantiles"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = quantilesStream(mem.toDF(), qs, k = 1024, watermark = "10 minutes")
      .select(col("window.start"), col("quantiles"))
      .writeStream.format("memory").queryName("kll_parity").outputMode("complete").start()
    try {
      // two micro-batches: partials must merge across batches
      mem.addData(manyEvents.take(40): _*)
      q.processAllAvailable()
      mem.addData(manyEvents.drop(40): _*)
      q.processAllAvailable()
      val got = spark.table("kll_parity").collect()
        .map(r => r.getTimestamp(0) -> r.getSeq[Double](1)).toMap
      val expect = batch.collect()
        .map(r => r.getTimestamp(0) -> r.getSeq[Double](1)).toMap
      assert(got == expect)
      // exact-mode spot check: window 10:00's median over 0,37,74,11,48,…
      val w10 = manyEvents.filter(_.ts.getHours == 10).map(_.value).sorted
      val median = w10(math.max(1, math.ceil(0.5 * w10.length).toInt) - 1)
      assert(expect.values.exists(_.head == median))
    } finally q.stop()
  }

  test("cmsStream: per-window registers match the batch twin across micro-batches") {
    val manyEvents = (0 until 80).map { i =>
      val kind = Seq("click", "view", "scroll", "error")(i % 4)
      Event(300 + i, tsH(10 + i % 2, (i * 7) % 60), i % 5, kind, i.toDouble)
    }
    val batch = graft.operators.Sketch
      .cmsRegistersWindowed(manyEvents.toDF(), "event_type", depth = 4, width = 256)
      .select(col("window.start"), col("d"), col("idx"), col("c"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = cmsStream(mem.toDF(), "event_type", watermark = "10 minutes",
      depth = 4, width = 256)
      .select(col("window.start"), col("d"), col("idx"), col("c"))
      .writeStream.format("memory").queryName("cms_parity").outputMode("complete").start()
    try {
      // two micro-batches: additive register state must merge across them
      mem.addData(manyEvents.take(35): _*)
      q.processAllAvailable()
      mem.addData(manyEvents.drop(35): _*)
      q.processAllAvailable()
      val got = spark.table("cms_parity").collect().map(_.toSeq).toSet
      val expect = batch.collect().map(_.toSeq).toSet
      assert(got == expect)
    } finally q.stop()

    // windowed lookup: count-min estimate is exact here (few distinct
    // values, wide table) and never below the true count by construction
    val probes = Seq("click", "view", "nosuch").toDF("event_type")
    val regs = graft.operators.Sketch
      .cmsRegistersWindowed(manyEvents.toDF(), "event_type", depth = 4, width = 256)
    val est = graft.operators.Sketch
      .cmsLookupWindowed(regs, probes, "event_type", depth = 4, width = 256)
      .collect()
      .map(r => (r.getAs[org.apache.spark.sql.Row]("window").getTimestamp(0),
        r.getString(1)) -> r.getLong(2)).toMap
    val exact = manyEvents.groupBy(e => (e.ts.getHours, e.event_type))
      .map { case ((h, k), es) => (h, k) -> es.size.toLong }
    for (((w, v), c) <- est if v != "nosuch")
      assert(c >= exact.getOrElse((w.getHours, v), 0L),
        s"CMS under true count for ($w, $v)")
    assert(est.filter(_._1._2 == "nosuch").values.forall(_ == 0L))
  }

  test("hllStream: per-window registers match the batch twin across micro-batches") {
    val manyEvents = (0 until 120).map { i =>
      Event(400 + i, tsH(10 + i % 3, (i * 11) % 60), (i * 7) % 40, "click", i.toDouble)
    }
    val batch = graft.operators.Sketch
      .hllRegistersWindowed(manyEvents.toDF(), "user_id", p = 8)
      .select(col("window.start"), col("bucket"), col("m"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = hllStream(mem.toDF(), "user_id", watermark = "10 minutes", p = 8)
      .select(col("window.start"), col("bucket"), col("m"))
      .writeStream.format("memory").queryName("hll_parity").outputMode("complete").start()
    try {
      mem.addData(manyEvents.take(50): _*)
      q.processAllAvailable()
      mem.addData(manyEvents.drop(50): _*)
      q.processAllAvailable()
      val got = spark.table("hll_parity").collect().map(_.toSeq).toSet
      val expect = batch.collect().map(_.toSeq).toSet
      assert(got == expect)
    } finally q.stop()

    // per-window estimate lands near the exact distinct count
    val est = graft.operators.Sketch
      .hllDistinctWindowed(manyEvents.toDF(), "user_id", p = 8)
      .collect().map(r =>
        r.getAs[org.apache.spark.sql.Row]("window").getTimestamp(0).getHours ->
          r.getAs[Double]("approx_distinct")).toMap
    val exact = manyEvents.groupBy(_.ts.getHours)
      .map { case (h, es) => h -> es.map(_.user_id).distinct.size }
    for ((h, n) <- exact)
      assert(math.abs(est(h) - n) <= math.max(3.0, 0.15 * n),
        s"window $h: est ${est(h)} vs exact $n")
  }

  test("sessionizeBatch splits on gaps") {
    val df = Seq(
      Event(1, ts(0), 1, "a", 1.0),
      Event(2, ts(5), 1, "a", 1.0),
      Event(3, ts(40), 1, "a", 1.0), // 35-min gap → new session
      Event(4, ts(2), 2, "b", 9.0))
      .toDF()
    val sess = sessionizeBatch(df, gapMinutes = 30)
    assert(sess.count() == 3)
    val u1 = sess.where(col("user_id") === 1).orderBy("start").collect()
    assert(u1.length == 2)
    assert(u1(0).getAs[Int]("n_events") == 2 && u1(1).getAs[Int]("n_events") == 1)
  }

  test("sessionizeBatch gaps compare in exact microseconds, not whole seconds") {
    // true gap 1800.8 s > 30 min: whole-second truncation would read 1800
    // and merge; events tables carry nanosecond stamps, so this is real data
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00.1")
    val t1 = Timestamp.valueOf("2024-01-01 10:30:00.9")
    val df = Seq(Event(1, t0, 1, "a", 1.0), Event(2, t1, 1, "a", 1.0)).toDF()
    assert(sessionizeBatch(df, gapMinutes = 30).count() == 2)
    // and a gap fractionally UNDER the bound still merges
    val t2 = Timestamp.valueOf("2024-01-01 10:30:00.05")
    val df2 = Seq(Event(1, t0, 1, "a", 1.0), Event(2, t2, 1, "a", 1.0)).toDF()
    assert(sessionizeBatch(df2, gapMinutes = 30).count() == 1)
  }

  test("sessionizeStream: late-but-admissible event extends the session START") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionizeStream(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_late").outputMode("append").start()
    try {
      mem.addData(Event(1, tsH(10, 0), 1, "a", 1.0), Event(2, tsH(10, 5), 1, "a", 2.0))
      q.processAllAvailable()
      // 09:40 is within the watermark and the 30-min gap to the open session
      mem.addData(Event(3, tsH(9, 40), 1, "a", 4.0))
      q.processAllAvailable()
      mem.addData(Event(9, tsH(23, 0), 99, "z", 0.0)) // advance watermark, close
      q.processAllAvailable()
      val s = spark.table("sess_late").where(col("user_id") === 1).collect()
      assert(s.length == 1)
      assert(s(0).getAs[Timestamp]("start") == tsH(9, 40), "late event must pull start back")
      assert(s(0).getAs[Timestamp]("end") == tsH(10, 5))
      assert(s(0).getAs[Int]("n_events") == 3 && s(0).getAs[Double]("value_sum") == 7.0)
    } finally q.stop()
  }

  test("minhashDedupStream: NULL-text docs are kept, never crash the bucket state") {
    withRelaxedChainCheck {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Timestamp, String)]
      val stream = mem.toDF().toDF("doc_id", "ts", "text")
      val q = minhashDedupStream(stream, numBands = 8, watermark = "10 minutes")
        .writeStream.format("memory").queryName("mh_null").outputMode("append").start()
      try {
        mem.addData((1L, ts(0), null), (2L, ts(1), null),
          (3L, ts(2), "a real document with plenty of words to shingle and hash tonight"))
        q.processAllAvailable()
        mem.addData((99L, tsH(23, 0), "watermark flush sentinel"))
        q.processAllAvailable()
        val kept = spark.table("mh_null").select("doc_id").as[Long].collect().toSet
        // the batch contract: null-text docs are kept, never candidates
        assert(Set(1L, 2L, 3L).subsetOf(kept), s"kept=$kept")
      } finally q.stop()
    }
  }

  test("sessionizeStream emits closed sessions as watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionizeStream(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "a", 1.0),
        Event(2, ts(5), 1, "a", 2.0))
      q.processAllAvailable()
      // watermark-advancing late batch: 2 hours later closes user 1's session
      mem.addData(Event(9, tsH(13, 0), 2, "b", 1.0))
      q.processAllAvailable()
      mem.addData(Event(10, tsH(14, 30), 2, "b", 1.0))
      q.processAllAvailable()
      val got = spark.table("sessions").collect()
      assert(got.exists(r => r.getAs[Long]("user_id") == 1 &&
        r.getAs[Int]("n_events") == 2 && r.getAs[Double]("value_sum") == 3.0))
    } finally q.stop()
  }

  test("dedupStream drops retried event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = dedupStream(mem.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "a", 1.0),
        Event(1, ts(0), 1, "a", 1.0), // duplicate delivery
        Event(2, ts(1), 1, "a", 2.0))
      q.processAllAvailable()
      mem.addData(Event(2, ts(1), 1, "a", 2.0)) // retried in a later batch
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() == 2)
    } finally q.stop()
  }

  test("nearDedupStream drops near-identical texts by fingerprint, batch-parity") {
    implicit val sqlCtx = spark.sqlContext
    val base = "a long enough document body for rolling hashes to work with sensibly"
    val docs = Seq(
      (1L, ts(0), base),
      (2L, ts(1), base),                        // exact copy
      (3L, ts(2), base + " tail edit far away"), // near-copy: may share the 4 minima
      (4L, ts(3), "a completely different corpus entry with zero shared shingles at all"))
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = EventStream.nearDedupStream(
        mem.toDF().toDF("doc_id", "ts", "text"), "text")
      .writeStream.format("memory").queryName("neardedup_stream").outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val kept = spark.table("neardedup_stream").select("doc_id").as[Long].collect().toSet
      // batch fingerprint dedup gives the expected kept set
      val batchKept = graft.operators.Dedup.exact(
        graft.operators.TextAnalysis.fingerprint(docs.toDF("doc_id", "ts", "text")),
        Seq("doc_fp"), "doc_id").select("doc_id").as[Long].collect().toSet
      assert(kept == batchKept)
      assert(kept.contains(1L) && !kept.contains(2L) && kept.contains(4L))
    } finally q.stop()
  }

  private def withRelaxedChainCheck[A](body: => A): A = {
    // minhashDedupStream chains an aggregation after flatMapGroupsWithState;
    // the verdicts are never late (see its scaladoc), so the conservative
    // planner check is safely disabled for these queries
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("minhashDedupStream: MinHash-band state dedup, batch-parity across micro-batches") {
    withRelaxedChainCheck {
    implicit val sqlCtx = spark.sqlContext
    val texts = Map(
      1L -> "the quick brown fox jumps over the lazy dog and runs far away home tonight",
      2L -> "the quick brown fox jumps over the lazy cat and runs far away home tonight", // near-dup of 1
      3L -> "a completely different document about spark catalyst expressions and codegen",
      4L -> "the quick brown fox jumps over the lazy dog and runs far away home today", // near-dup of 1
      5L -> "yet another unrelated text discussing minhash signatures and jaccard similarity",
      6L -> "a completely different document about spark catalyst expressions and codegen", // exact dup of 3
      7L -> "yet another unrelated text discussing minhash signatures and jaccard similarity indeed") // near-dup of 5
    val batchKept = graft.operators.Dedup.minhashLsh(
        texts.toSeq.map { case (i, t) => (i, t) }.toDF("doc_id", "text"),
        "text", "doc_id", numBands = 32, threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet

    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text")
    val q = minhashDedupStream(stream, numBands = 32, threshold = 0.6, watermark = "10 minutes")
      .writeStream.format("memory").queryName("mh_dedup").outputMode("append").start()
    try {
      // arrival order = id order (the batch tie-break), split across batches
      mem.addData(Seq(1L, 2L, 3L).map(i => (i, ts(i.toInt), texts(i))): _*)
      q.processAllAvailable()
      mem.addData(Seq(4L, 5L, 6L).map(i => (i, ts(i.toInt), texts(i))): _*)
      q.processAllAvailable()
      mem.addData((7L, ts(7), texts(7L)))
      q.processAllAvailable()
      // flush: advance the watermark far past the docs so the per-doc
      // aggregation emits them
      mem.addData((99L, tsH(23, 0), "watermark flush sentinel"))
      q.processAllAvailable()
      val streamed = spark.table("mh_dedup").select("doc_id").as[Long].collect().toSet
      assert(streamed == batchKept, s"stream $streamed vs batch $batchKept")
      assert(!streamed.contains(2L) && !streamed.contains(4L) && !streamed.contains(6L))
    } finally q.stop()
    }
  }

  test("minhashDedupStream collapses a boilerplate flood to bounded state") {
    withRelaxedChainCheck {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text")
    val q = minhashDedupStream(stream, numBands = 16, threshold = 0.7, watermark = "10 minutes")
      .writeStream.format("memory").queryName("mh_flood").outputMode("append").start()
    try {
      val boiler = "accept all cookies to continue reading this fine site today thanks"
      mem.addData((1 to 500).map(i => (i.toLong, ts(0), boiler)): _*)
      mem.addData((1000L, ts(8), "one genuinely distinct document about something else entirely"))
      q.processAllAvailable()
      mem.addData((9999L, tsH(23, 0), "watermark flush sentinel"))
      q.processAllAvailable()
      val kept = spark.table("mh_flood").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 1000L), s"kept $kept") // one survivor of 500 identical copies
    } finally q.stop()
    }
  }

  test("minhashDedupStreamTws: transformWithState variant, no correctness opt-out") {
    // RocksDB provider backs transformWithState; NOTE: no
    // withRelaxedChainCheck here — the processor declares its event-time
    // column, so the chained aggregation passes the planner check as-is
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val texts = Map(
        1L -> "the quick brown fox jumps over the lazy dog and runs far away home tonight",
        2L -> "the quick brown fox jumps over the lazy cat and runs far away home tonight",
        3L -> "a completely different document about spark catalyst expressions and codegen",
        4L -> "a completely different document about spark catalyst expressions and codegen")
      val batchKept = graft.operators.Dedup.minhashLsh(
          texts.toSeq.map { case (i, t) => (i, t) }.toDF("doc_id", "text"),
          "text", "doc_id", numBands = 32, threshold = 0.6)
        .select("doc_id").as[Long].collect().toSet

      val mem = MemoryStream[(Long, Timestamp, String)]
      val stream = mem.toDF().toDF("doc_id", "ts", "text")
      val q = minhashDedupStreamTws(stream, numBands = 32, threshold = 0.6,
          watermark = "10 minutes", expireDelayMs = 600000L)
        .writeStream.format("memory").queryName("mh_tws").outputMode("append").start()
      try {
        mem.addData(Seq(1L, 2L).map(i => (i, ts(i.toInt), texts(i))): _*)
        q.processAllAvailable()
        mem.addData(Seq(3L, 4L).map(i => (i, ts(i.toInt), texts(i))): _*)
        q.processAllAvailable()
        mem.addData((99L, tsH(23, 0), "watermark flush sentinel"))
        q.processAllAvailable()
        val streamed = spark.table("mh_tws").select("doc_id").as[Long].collect().toSet
        assert(streamed == batchKept, s"stream $streamed vs batch $batchKept")
      } finally q.stop()
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("readStream over the events table produces the same windowed counts") {
    // file source needs a directory; stage the single-file table into one
    val dir = tmpDir("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val batchDf = graft.readTable(spark, sfDir, "events")
    val expect = windowed(batchDf).agg(sum("n_events")).head().getLong(0)

    val stream = graft.normalizeTs(readStream(spark, dir))
    val q = windowedStream(stream, watermark = "0 seconds")
      .writeStream.format("memory").queryName("stream_events").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_events").agg(sum("n_events")).head().getLong(0)
      assert(got == expect)
    } finally q.stop()
  }

  test("asofLookup: stream picks latest at-or-before static row, parity with batch asofJoin") {
    val static = Seq(
      (1L, tsH(10, 0), "v1"), (1L, tsH(10, 40), "v2"), (1L, tsH(12, 0), "v3"),
      (2L, tsH(11, 0), "w1")
    ).toDF("user_id", "valid_from", "version")

    val batch = graft.operators.Ops.asofJoin(
        events.toDF().select("event_id", "user_id", "ts"), static,
        Seq("user_id"), "ts", "valid_from", rightCols = Seq("version"))
      .select("event_id", "version").as[(Long, Option[String])].collect().toMap

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = asofLookup(mem.toDF().select("event_id", "user_id", "ts"), static,
        Seq("user_id"), "ts", "valid_from", Seq("version"))
      .writeStream.format("memory").queryName("asof_lookup").outputMode("append").start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      val got = spark.table("asof_lookup")
        .select("event_id", "version").as[(Long, Option[String])].collect().toMap
      assert(got == batch)
      // spot-check semantics: event 4 (11:15, user 1) sees v2; user 2's
      // 10:45 view predates w1 entirely -> null
      assert(got(4L).contains("v2") && got(3L).isEmpty && got(5L).contains("w1"))
    } finally q.stop()
  }

  test("asofLookup: equal-time static rows resolve later-wins deterministically") {
    val static = Seq(
      (1L, tsH(10, 0), "a"), (1L, tsH(10, 0), "b")
    ).toDF("user_id", "valid_from", "version")
    val stream = Seq((9L, 1L, tsH(10, 5))).toDF("event_id", "user_id", "ts")
    val out = asofLookup(stream, static, Seq("user_id"), "ts", "valid_from", Seq("version"))
      .select("version").as[String].collect().toSeq
    assert(out == Seq("b")) // max over (__rt, version) — content tie-break
  }

  test("intervalJoinStream: stream-stream pairs match the batch intervalJoin") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, tsH(10, 0), "k", 600L),    // [10:00, 10:10]
      (2L, tsH(10, 5), "k", 600L),    // overlaps 1
      (3L, tsH(10, 30), "k", 60L),    // disjoint from 1 and 2
      (4L, tsH(10, 0), "j", 3600L),   // other key, [10:00, 11:00]
      (5L, tsH(10, 59), "j", 60L),    // overlaps 4 at the closed edge
      (6L, tsH(12, 0), "k", 100000L)) // above the span cap — dropped
    def named(df: org.apache.spark.sql.DataFrame) = df.toDF("id", "ts", "key", "dur")

    val memL = MemoryStream[(Long, Timestamp, String, Long)]
    val memR = MemoryStream[(Long, Timestamp, String, Long)]
    val q = intervalJoinStream(named(memL.toDF()), named(memR.toDF()),
        Seq("key"), "dur", "dur", maxSpanSec = 3600, watermark = "10 minutes")
      .select("id", "id_right")
      .writeStream.format("memory").queryName("ij_stream").outputMode("append").start()
    try {
      memL.addData(rows: _*); memR.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("ij_stream").as[(Long, Long)].collect().toSet

      val f = named(rows.toDF()).where(col("dur") <= 3600)
        .select(col("id"), col("key"), col("ts").cast("long").as("s0"),
          (col("ts").cast("long") + col("dur")).as("e0"))
      val expect = graft.operators.Joins
        .intervalJoin(f, f, Seq("key"), "s0", "e0", "s0", "e0", 900.0)
        .select("id", "id_right").as[(Long, Long)].collect().toSet
      assert(got == expect)
      assert(got.contains((4L, 5L)) && got.contains((1L, 2L)))
      assert(!got.exists(p => p._1 == 6L || p._2 == 6L)) // capped row dropped
      assert(!got.contains((1L, 3L)))
    } finally q.stop()
  }

  test("intervalJoinStream on batch frames equals the ladder batch operator") {
    val l = Seq((1L, tsH(9, 0), "k", 7200L)).toDF("id", "ts", "key", "dur")
    val r = Seq((2L, tsH(10, 30), "k", 60L), (3L, tsH(11, 30), "k", 60L))
      .toDF("id", "ts", "key", "dur")
    // left [9:00, 11:00]: overlaps 2 ([10:30,10:31]) but not 3 ([11:30,...])
    val out = intervalJoinStream(l, r, Seq("key"), "dur", "dur",
        maxSpanSec = 7200, watermark = "1 hour")
      .select("id", "id_right").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("bloomGateStream: nothing seen ever passes; parity with the batch gate") {
    implicit val sqlCtx = spark.sqlContext
    val seen = (0L until 500L by 5L).toDF("url_id") // 100 seen keys
    val mem = MemoryStream[Long]
    val gated = bloomGateStream(mem.toDF().toDF("url_id"), seen,
      "url_id", "url_id", drop = true, numBits = 1 << 14)
    val q = gated.writeStream.format("memory").queryName("bloom_gate")
      .outputMode("append").start()
    try {
      mem.addData(0L until 500L: _*)
      q.processAllAvailable()
      val out = spark.table("bloom_gate").as[Long].collect().toSet
      // no false negatives: every seen key dropped
      assert(out.intersect((0L until 500L by 5L).toSet).isEmpty)
      // parity with the batch-side gate (same bits, same predicate)
      val batchKept = {
        val member = graft.operators.Joins.bloomMember(seen, "url_id",
          col("url_id"), org.apache.spark.sql.types.LongType, numBits = 1 << 14)
        (0L until 500L).toDF("url_id").where(!member).as[Long].collect().toSet
      }
      assert(out === batchKept)
      // fp rate sane: at most a few percent of the 400 new keys lost
      assert(out.size >= 380)
    } finally q.stop()
  }

  test("psiStream + psiFromCounts: per-window drift matches the batch index") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val stream = mem.toDF().toDF("ts", "value")
    val q = EventStream.psiStream(stream, "value", bins = 4, lo = 0.0, hi = 40.0,
        windowDur = "1 hour", watermark = "2 hours")
      .writeStream.format("memory").queryName("psi_bins").outputMode("append").start()
    try {
      // window 10:00: values spread 5,15,25,35; window 11:00: all in bin 0
      mem.addData((tsH(10, 1), 5.0), (tsH(10, 2), 15.0), (tsH(10, 3), 25.0))
      q.processAllAvailable()
      mem.addData((tsH(10, 4), 35.0), (tsH(11, 1), 1.0), (tsH(11, 2), 2.0))
      q.processAllAvailable()
      mem.addData((tsH(23, 0), 0.0)) // advance the watermark, close both
      q.processAllAvailable()
      val counts = spark.table("psi_bins")
        .select(col("window.start").cast("string").as("w"), col("bin"), col("n"))
        .where(col("w").contains("1" + "0:00") || col("w").contains("11:00"))
      // uniform reference: every bin weight 10
      val ref = Seq((0, 10L), (1, 10L), (2, 10L), (3, 10L)).toDF("bin", "n")
      val out = graft.operators.Profiling.psiFromCounts(counts, "w", ref, bins = 4)
        .select("w", "psi").as[(String, Double)].collect().toMap
      val w10 = out.keys.find(_.contains("10:00:00")).get
      val w11 = out.keys.find(_.contains("11:00:00")).get
      // batch twin on the same raw values against the same reference shares
      def batchPsi(vals: Seq[Double]): Double = {
        val cur = vals.toDF("v")
        val refRaw = (0 until 4).flatMap(b => Seq.fill(10)(b * 10.0 + 1)).toDF("v")
        graft.operators.Profiling.psi(refRaw, cur, "v", 4, 0.0, 40.0)
          .select("psi").as[Double].head()
      }
      assert(math.abs(out(w10) - batchPsi(Seq(5, 15, 25, 35))) < 1e-9)
      assert(math.abs(out(w11) - batchPsi(Seq(1, 2))) < 1e-9)
      assert(out(w11) > out(w10)) // all-in-one-bin drifts harder than uniform
    } finally q.stop()
  }

  test("psiStream: custom time column name (timeCol is not hardwired to ts)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val stream = mem.toDF().toDF("event_time", "value")
    val q = EventStream.psiStream(stream, "value", bins = 4, lo = 0.0, hi = 40.0,
        windowDur = "1 hour", watermark = "2 hours", timeCol = "event_time")
      .writeStream.format("memory").queryName("psi_bins_tc").outputMode("append").start()
    try {
      mem.addData((tsH(10, 1), 5.0), (tsH(10, 2), 15.0))
      q.processAllAvailable()
      mem.addData((tsH(23, 0), 0.0)) // watermark past, closes the 10:00 window
      q.processAllAvailable()
      val rows = spark.table("psi_bins_tc")
        .select(col("window.start").cast("string").as("w"), col("bin"), col("n"))
        .where(col("w").contains("10:00:00"))
        .as[(String, Int, Long)].collect()
      // values 5 and 15 land in bins 0 and 1 of the closed 10:00 window
      assert(rows.map(r => r._2 -> r._3).toMap == Map(0 -> 1L, 1 -> 1L))
    } finally q.stop()
  }

  test("upsertStream: latest-wins snapshot, tombstones, late-change immunity") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Change]
    val q = upsertStream(mem.toDS())
      .writeStream.format("memory").queryName("upsert_snap").outputMode("update").start()
    try {
      mem.addData(
        Change(1L, ts(10), 1L, "upsert", 10.0, "a"),
        Change(2L, ts(5), 2L, "upsert", 20.0, "b"),
        Change(3L, ts(7), 3L, "upsert", 30.0, "c"))
      q.processAllAvailable()
      mem.addData(
        Change(1L, ts(8), 4L, "upsert", 99.0, "stale"), // OLDER than the frontier
        Change(2L, ts(9), 5L, "delete", 0.0, "x"),
        Change(3L, ts(12), 6L, "upsert", 31.0, "c2"),
        Change(4L, ts(11), 7L, "upsert", 40.0, "d"))
      q.processAllAvailable()
      val rows = spark.table("upsert_snap")
        .as[SnapshotRow].collect()
      // final state per key = the (ts, tie)-maximal emitted state
      val fin = rows.groupBy(_.key).map { case (k, rs) =>
        k -> rs.maxBy(r => (r.ts.getTime, r.tie))
      }
      assert(fin(1L).value == 10.0 && fin(1L).tag == "a" && !fin(1L).deleted,
        "late stale change must not clobber the frontier")
      assert(fin(2L).deleted, "delete must tombstone")
      assert(fin(3L).value == 31.0 && fin(3L).tag == "c2")
      assert(fin(4L).value == 40.0)
      // batch parity: applyChangelog on an empty base over the SAME changes
      val allCh = Seq(
        (1L, ts(10), 1L, "upsert", 10.0, "a"), (2L, ts(5), 2L, "upsert", 20.0, "b"),
        (3L, ts(7), 3L, "upsert", 30.0, "c"), (1L, ts(8), 4L, "upsert", 99.0, "stale"),
        (2L, ts(9), 5L, "delete", 0.0, "x"), (3L, ts(12), 6L, "upsert", 31.0, "c2"),
        (4L, ts(11), 7L, "upsert", 40.0, "d"))
        .toDF("key", "ts", "tie", "op", "value", "tag")
      val base = Seq.empty[(Long, Double, String)].toDF("key", "value", "tag")
      val batch = graft.operators.Ops.applyChangelog(base, allCh, Seq("key"), "ts", "op", "tie")
        .as[(Long, Double, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val live = fin.filterNot(_._2.deleted).map { case (k, r) => k -> ((r.value, r.tag)) }
      assert(live == batch, s"stream snapshot diverged from batch: $live vs $batch")
    } finally q.stop()
  }
}
