package graft

/** Every declared query must run and return rows on sf0.001, every query
  * key with an oracle must exist in `queries`, and every query but the
  * pinned unoracled one has an oracle.
  */
class QueriesSpec extends SparkSpec {

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("text_compress is the only query without an oracle") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set("text_compress"))
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs and returns rows at sf0.001") {
      assert(fn(spark, sfDir).count() > 0)
    }
  }

  // Bench runs each query three or more times in one session into the same
  // scratch dir; a query whose second run sees the first run's files must
  // still return the same rows
  private val scratchWriters =
    SparkEntry.queries.keys.filter(_.endsWith("_roundtrip")).toSeq.sorted ++ Seq(
      "hilbert_read", "zorder_read", "sim_ivf_index", "sim_int8_ivf_index",
      "sim_ivf_pq_index", "sim_ivf_refresh", "text_bm25_index", "text_bm25_refresh",
      "data_compact")

  scratchWriters.foreach { name =>
    test(s"query $name returns the same rows when run twice") {
      def rows = SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).sorted.toSeq
      val first = rows
      assert(first.nonEmpty)
      assert(rows == first)
    }
  }

  test("each in-memory IVF query returns its persisted-index twin's rows") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).sorted.toSeq
    Seq("sim_ivf" -> "sim_ivf_index", "sim_int8_ivf" -> "sim_int8_ivf_index",
        "sim_ivf_pq" -> "sim_ivf_pq_index").foreach { case (inline, index) =>
      val want = rows(index)
      assert(want.nonEmpty && rows(inline) == want, s"$inline vs $index")
    }
  }

  test("resolveQueries trims names and fails naming unknown ones") {
    assert(SparkEntry.resolveQueries(" geo_area, sjoin_full ,,") == Seq("geo_area", "sjoin_full"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.resolveQueries("geo_area,geo_areaa,nope"))
    assert(e.getMessage.contains("geo_areaa, nope"))
    intercept[IllegalArgumentException](SparkEntry.resolveQueries(" , "))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
