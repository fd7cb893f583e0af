package graft

import org.scalatest.funsuite.AnyFunSuite

/** Release-valve sweep over the WHOLE registry: no `SparkEntry.queries`
  * entry may leave persistent RDD blocks behind once its action finishes —
  * session-lifetime caches accumulate across a long-lived 100 TB pipeline
  * until executors die of storage pressure. Extends the CC-rounds pattern
  * from GraphSpec to every operator surface at once.
  *
  * Two legitimate, bounded exceptions (both release deterministically, just
  * not synchronously with the action): operator-internal persists (SJoin's
  * monotonic-tag fallback among them) free via `Caches`'s
  * QueryExecutionListener on the listener bus, and
  * Graph/OsmFilter lazy localCheckpoints keep the FINAL round's blocks
  * alive backing the returned frame's lineage. The sweep therefore waits
  * for the listener bus to drain and then allows at most a bounded handful
  * of residual RDDs per query — never growth proportional to rounds or
  * partitions — and frees residuals between queries so leaks can't mask
  * each other.
  */
class NoLeakedPersistenceSpec extends AnyFunSuite with SparkSpec {

  test("every registry query releases its persistence once the action completes") {
    val sc = spark.sparkContext
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val before = sc.getPersistentRDDs.keySet
      try {
        fn(spark, sfDir).count()
        def leaked = sc.getPersistentRDDs.view.filterKeys(k => !before(k)).toMap
        // listener-released persists (SJoin fallback) fire asynchronously
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
        val residual = leaked
        if (residual.size > 3)
          failures += s"$name left ${residual.size} persistent RDDs"
        residual.values.foreach(_.unpersist(blocking = false))
      } catch {
        case e: Throwable => failures += s"$name failed to run: ${e.getMessage}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("Caches.releaseAll frees a cache whose consuming action never ran") {
    import testImplicits._
    import org.apache.spark.storage.StorageLevel
    val df = graft.operators.Caches.cachedUntilAction(
      Seq(1L, 2L, 3L).toDF("v").groupBy("v").count())
    // explain-only consumer: the plan is inspected but no Dataset action
    // ever runs, so the QueryExecutionListener never fires — exactly the
    // leak scenario the safety valve exists for
    df.queryExecution.executedPlan.toString
    assert(df.storageLevel != StorageLevel.NONE,
      "expected the cachedUntilAction persist to be registered")
    graft.operators.Caches.releaseAll()
    assert(df.storageLevel == StorageLevel.NONE,
      "releaseAll left the explain-only frame persisted")
  }

  test("releaseAll after a mixed session (one consumed, one abandoned) leaves zero persisted RDDs") {
    import testImplicits._
    import org.apache.spark.storage.StorageLevel
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val consumed = graft.operators.Caches.cachedUntilAction(
      Seq(10L, 20L).toDF("v").groupBy("v").count())
    val abandoned = graft.operators.Caches.cachedUntilAction(
      Seq(30L, 40L).toDF("v").groupBy("v").count())
    // the consumed frame's action fires its listener release...
    assert(consumed.count() == 2)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (consumed.storageLevel != StorageLevel.NONE && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(consumed.storageLevel == StorageLevel.NONE,
      "listener release never fired for the consumed frame")
    // ...the abandoned one is only ever explained; the teardown valve
    // must sweep it so the session ends with zero persisted blocks
    abandoned.queryExecution.executedPlan.toString
    graft.operators.Caches.releaseAll()
    assert(abandoned.storageLevel == StorageLevel.NONE)
    def residual = sc.getPersistentRDDs.keySet.diff(before)
    while (residual.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(residual.isEmpty,
      s"session teardown left persisted RDDs: ${residual.mkString(",")}")
  }

  test("releaseAll frees SJoin fallback persists and OsmFilter checkpoints whose consuming action never ran") {
    import testImplicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions._
    val sc = spark.sparkContext
    spark.sharedState.cacheManager.clearCache()
    val before = sc.getPersistentRDDs.keySet
    // rand() makes the left nondeterministic → monotonic tag + persist
    val zones = Seq((1, "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))"))
      .toDF("zid", "wkt")
      .select(col("zid"), st_geomfromtext(col("wkt")).as("geometry"))
      .where(rand(7) >= -1.0)
    val points = Seq((1, 1.0, 1.0), (2, 9.0, 9.0)).toDF("pid", "lon", "lat")
      .select(col("pid"), st_point(col("lon"), col("lat")).as("geometry"))
    // an index row cap of 0 forces the grid path, whose fallback persists
    val agg = graft.operators.SJoin.sagg(zones, points, Seq(count(lit(1)).as("n")),
      "contains", "left", "geometry", "geometry", graft.operators.SJoin.DefaultCellDeg,
      graft.operators.SJoin.Tuning(), 0)
    // node 1 inside the area, way 10 keeps through it, relation 20 through
    // the way — every id frame is a lazy localCheckpoint
    val osm = Seq(
      ("n", 1L, Option(0.5), Option(0.5), Option.empty[Seq[Long]]),
      ("n", 2L, Option(5.0), Option(5.0), Option.empty[Seq[Long]]),
      ("w", 10L, Option.empty[Double], Option.empty[Double], Option(Seq(1L, 2L))),
      ("r", 20L, Option.empty[Double], Option.empty[Double], Option(Seq(10L))))
      .toDF("type", "id", "lon", "lat", "refs")
    val crop = graft.operators.OsmFilter.crop(osm,
      "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", materializeIds = true)
    // explain-only consumers: no action over either result ever runs
    agg.queryExecution.executedPlan.toString
    crop.queryExecution.executedPlan.toString
    def residual = sc.getPersistentRDDs.keySet.diff(before)
    assert(!spark.sharedState.cacheManager.isEmpty, "expected the SJoin fallback persist")
    assert(residual.nonEmpty, "expected the OsmFilter id checkpoints")
    graft.operators.Caches.releaseAll()
    val cached = !spark.sharedState.cacheManager.isEmpty
    assert(!cached && residual.isEmpty, "releaseAll left the SJoin fallback " +
      s"cached: $cached, persistent RDDs: ${residual.mkString(",")}")
  }

  test("a failed read leaves live registrations quiet, and they still fire on their anchor") {
    import testImplicits._
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.storage.StorageLevel
    val sc = spark.sparkContext
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("listener-bus-errors", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = errors.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val bus = LogManager.getLogger("org.apache.spark.sql.util.ExecutionListenerBus").asInstanceOf[Logger]
    bus.addAppender(appender)
    try {
      val df = graft.operators.Caches.cachedUntilAction(
        Seq(50L, 60L).toDF("v").groupBy("v").count())
      val missing = s"${tmpDir("missing")}/absent"
      intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT * FROM parquet.`$missing`"))
      org.apache.spark.ListenerBusDrain(sc)
      assert(errors.isEmpty, errors.toArray.mkString("\n"))
      assert(df.storageLevel != StorageLevel.NONE, "the failed read released the registration")
      assert(df.count() == 2)
      org.apache.spark.ListenerBusDrain(sc)
      assert(df.storageLevel == StorageLevel.NONE, "the anchor's action did not fire the release")
      assert(errors.isEmpty, errors.toArray.mkString("\n"))
    } finally {
      bus.removeAppender(appender)
      appender.stop()
    }
  }
}
