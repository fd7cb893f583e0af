package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.GeomKernel
import graft.geom.{LineString, WKB}

/** OSRM protocol layer against canned responses (no egress in this
  * environment — the injected transport stands in for the HTTP hop).
  */
class OsrmRouterSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._

  private def polylineOf(coords: Array[Double]): String =
    GeomKernel.polylineEncode(WKB.write(LineString(coords))).toString

  test("route: parses duration, distance, polyline geometry, snap distances") {
    val line = Array(13.388, 52.517, 13.397, 52.529)
    var seenUrl = ""
    val transport: String => String = { url =>
      seenUrl = url
      s"""{"code":"Ok","routes":[{"duration":251.5,"distance":1884.7,
         |"geometry":"${polylineOf(line)}"}],
         |"waypoints":[{"distance":4.2},{"distance":7.9}]}""".stripMargin
    }
    val r = new OsrmRouter("http://osrm.local", transport = transport)
    val leg = r.route(13.388, 52.517, 13.397, 52.529)
    assert(seenUrl.startsWith("http://osrm.local/route/v1/driving/13.388,52.517;13.397,52.529"))
    assert(seenUrl.contains("overview=full"))
    assert(leg.durationS == 251.5 && leg.distanceM == 1884.7)
    assert(leg.snapSourceM == 4.2 && leg.snapDestM == 7.9)
    val got = WKB.read(leg.wkb).asInstanceOf[LineString].coords
    got.zip(line).foreach { case (a, b) => assert(math.abs(a - b) < 1e-5) } // polyline 1e-5 grid
  }

  test("alternatives: requests and parses several routes, best first") {
    val transport: String => String = { url =>
      assert(url.contains("alternatives=3"))
      s"""{"code":"Ok","routes":[
         |{"duration":100.0,"distance":900.0,"geometry":"${polylineOf(Array(0.0, 0, 1, 1))}"},
         |{"duration":120.0,"distance":950.0,"geometry":"${polylineOf(Array(0.0, 0, 2, 2))}"}],
         |"waypoints":[{"distance":0.0},{"distance":0.0}]}""".stripMargin
    }
    val r = new OsrmRouter("http://osrm.local", transport = transport)
    val alts = r.alternatives(0, 0, 1, 1, max = 3)
    assert(alts.map(_.durationS) == Seq(100.0, 120.0))
  }

  test("table: chunks requests under maxTableSize and reassembles the matrix") {
    // fake OSRM: duration(src, dst) = 1000*srcLon + dstLon, distance = 10x
    val urls = scala.collection.mutable.ArrayBuffer[String]()
    val transport: String => String = { url =>
      urls += url
      val coords = url.split("/").last.split("\\?")(0).split(";").map { c =>
        val Array(lon, lat) = c.split(","); (lon.toDouble, lat.toDouble)
      }
      val q = url.split("\\?")(1)
      def idxs(param: String): Array[Int] =
        q.split("&").find(_.startsWith(param + "=")).get.drop(param.length + 1).split(";").map(_.toInt)
      val src = idxs("sources"); val dst = idxs("destinations")
      def row(f: ((Double, Double), (Double, Double)) => Double) =
        src.map(s => dst.map(d => f(coords(s), coords(d))).mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{"code":"Ok",
         |"durations":${row((s, d) => 1000 * s._1 + d._1)},
         |"distances":${row((s, d) => 10 * (1000 * s._1 + d._1))},
         |"sources":${src.map(s => s"""{"distance":${coords(s)._1}}""").mkString("[", ",", "]")},
         |"destinations":${dst.map(d => s"""{"distance":${coords(d)._1}}""").mkString("[", ",", "]")}}""".stripMargin
    }
    val r = new OsrmRouter("http://osrm.local", transport = transport, maxTableSize = 4)
    val sources = Seq((1.0, 0.0), (2.0, 0.0), (3.0, 0.0))
    val dests = Seq((5.0, 0.0), (6.0, 0.0), (7.0, 0.0))
    val (dur, dist, srcSnap, dstSnap) = r.table(sources, dests)
    assert(urls.size == 4) // 3x3 at <=2 per side -> 2x2 chunks
    for (i <- 0 until 3; j <- 0 until 3) {
      assert(dur(i)(j) == 1000 * sources(i)._1 + dests(j)._1, s"dur($i)($j)")
      assert(dist(i)(j) == 10 * dur(i)(j))
    }
    assert(srcSnap.toSeq == Seq(1.0, 2.0, 3.0) && dstSnap.toSeq == Seq(5.0, 6.0, 7.0))
  }

  test("table: a REAL captured OSRM response reproduces the reference's result.csv") {
    // tests/table/resp.json is a genuine /table/v1 response the reference
    // captured against a live OSRM (166 houses × 7 shops); result.csv is the
    // reference's golden output for it. Our client must map the matrix and
    // the snap distances onto the same (source, destination) cells.
    val d = "/root/reference/tests/table"
    def pts(path: String, col0: String): Seq[(Double, Double)] = {
      import org.apache.spark.sql.functions._
      import graft.functions.GeoFunctions._
      graft.sources.GeoSources.GeoCSV.read(spark, path, geometryCol = col0)
        .select(st_x(col(col0)), st_y(col(col0)))
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    }
    val houses = pts(s"$d/houses.csv", "WKT")
    val shops = pts(s"$d/shops.csv", "WKT")
    assert(houses.size == 166 && shops.size == 7)

    val resp = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$d/resp.json")), java.nio.charset.StandardCharsets.UTF_8)
    var calls = 0
    val router = new OsrmRouter("http://osrm.local", transport = { _ => calls += 1; resp },
      maxTableSize = 1000000)
    val (dur, dist, srcSnap, dstSnap) = router.table(houses, shops)
    assert(calls == 1, "166x7 fits one request under the table-size cap")

    def dbl(s: String): Double = if (s == "nan") Double.NaN else s.toDouble
    def close(a: Double, b: Double, tol: Double): Boolean =
      (a.isNaN && b.isNaN) || math.abs(a - b) < tol
    val golden = scala.io.Source.fromFile(s"$d/result.csv").getLines().drop(1).map { line =>
      val c = line.split(",", 7)
      (c(0).toInt, c(1).toInt, dbl(c(2)), dbl(c(3)), dbl(c(4)), dbl(c(5)))
    }.toSeq
    assert(golden.size == 166 * 7)
    // 186 unroutable pairs: OSRM sends null cells, the reference maps NaN
    assert(golden.count(_._3.isNaN) == 186)
    golden.foreach { case (s, t, gDist, gDur, gSrcSnap, gDstSnap) =>
      assert(close(dist(s)(t), gDist, 0.051), s"distance[$s][$t]: ${dist(s)(t)} vs $gDist")
      assert(close(dur(s)(t), gDur, 0.051), s"duration[$s][$t]: ${dur(s)(t)} vs $gDur")
      assert(close(srcSnap(s), gSrcSnap, 1e-6), s"source_snap[$s]")
      assert(close(dstSnap(t), gDstSnap, 1e-6), s"destination_snap[$t]")
    }
  }

  test("route alternatives: reference canned responses reproduce routes-result.csv") {
    // tests/route/test_route.py::test_main replays 4 canned OSRM responses
    // (read here straight out of the reference test file — they are plain
    // JSON literals) over multiple-routes.csv and pins routes-result.csv.
    val d = "/root/reference/tests/route"
    val src = scala.io.Source.fromFile(s"$d/test_route.py")(scala.io.Codec.UTF8).getLines().toIndexedSeq
    val start = src.indexWhere(_.startsWith("responses = ("))
    assert(start > 0, "reference test_route.py moved its responses block")
    val canned = src.drop(start + 1).takeWhile(!_.trim.startsWith(")"))
      .map(_.trim.stripSuffix(",")).filter(_.startsWith("{"))
    assert(canned.size == 4)

    val Wkt = "\"LINESTRING \\(([-0-9.]+) ([-0-9.]+),([-0-9.]+) ([-0-9.]+)\\)\",(\\d+)".r
    val inputs = scala.io.Source.fromFile(s"$d/multiple-routes.csv").getLines().drop(1)
      .map { case Wkt(x1, y1, x2, y2, rid) =>
        // key must match the router's Double.toString rendering (no
        // trailing zeros), not the CSV's literal text
        (rid.toInt, x1.toDouble, y1.toDouble, x2.toDouble, y2.toDouble,
          s"${x1.toDouble},${y1.toDouble};${x2.toDouble},${y2.toDouble}")
      }.toSeq
    assert(inputs.size == 4)

    val transport: String => String = { url =>
      val i = inputs.indexWhere(in => url.contains(in._6))
      assert(i >= 0, s"no canned response for $url")
      canned(i)
    }
    val router = new OsrmRouter("http://osrm.local", transport = transport)

    val ExpRow = "(\\d+),(\\d+),([0-9.]+),([0-9.]+),\"LINESTRING \\(([^)]+)\\)\"".r
    val expected = scala.io.Source.fromFile(s"$d/routes-result.csv").getLines().drop(1)
      .map { case ExpRow(rid, alt, dur, dist, coords) =>
        (rid.toInt, alt.toInt, dur.toDouble, dist.toDouble,
          coords.split(",").map(_.trim.split(" ").map(_.toDouble)).toSeq)
      }.toSeq.groupBy(_._1)

    inputs.foreach { case (rid, x1, y1, x2, y2, _) =>
      val legs = router.alternatives(x1, y1, x2, y2, max = 3)
      val want = expected(rid).sortBy(_._2)
      assert(legs.size == want.size, s"r_id $rid: ${legs.size} alternatives vs ${want.size}")
      legs.zip(want).foreach { case (leg, (_, _, dur, dist, coords)) =>
        assert(math.abs(leg.durationS - dur) < 1e-9, s"r_id $rid duration")
        assert(math.abs(leg.distanceM - dist) < 1e-9, s"r_id $rid distance")
        val got = WKB.read(leg.wkb).asInstanceOf[LineString].coords.grouped(2).toSeq
        assert(got.size == coords.size, s"r_id $rid geometry length")
        got.zip(coords).foreach { case (g, w) =>
          assert(math.abs(g(0) - w(0)) < 1e-9 && math.abs(g(1) - w(1)) < 1e-9,
            s"r_id $rid vertex ${g.toSeq} vs ${w.toSeq}")
        }
      }
    }
  }

  test("retries: transient transport failures are retried, then surface") {
    var calls = 0
    val flaky: String => String = { url =>
      calls += 1
      if (calls < 3) throw new java.io.IOException("connection reset")
      s"""{"code":"Ok","routes":[{"duration":10.0,"distance":100.0,
         |"geometry":"${polylineOf(Array(0.0, 0, 1, 1))}"}],
         |"waypoints":[{"distance":0.0},{"distance":0.0}]}""".stripMargin
    }
    val r = new OsrmRouter("http://osrm.local", transport = flaky, retries = 5)
    assert(r.route(0, 0, 1, 1).durationS == 10.0 && calls == 3)
    val alwaysDown = new OsrmRouter("http://osrm.local",
      transport = _ => throw new java.io.IOException("down"), retries = 2)
    val e = intercept[RuntimeException] { alwaysDown.route(0, 0, 1, 1) }
    assert(e.getMessage.contains("after 2 attempts"))
  }

  test("node annotations are requested and parsed when enabled") {
    val transport: String => String = { url =>
      assert(url.contains("annotations=nodes"))
      assert(url.contains("overview=simplified"))
      s"""{"code":"Ok","routes":[{"duration":10.0,"distance":100.0,
         |"geometry":"${polylineOf(Array(0.0, 0, 1, 1))}",
         |"legs":[{"annotation":{"nodes":[11,12,13]}},{"annotation":{"nodes":[13,14]}}]}],
         |"waypoints":[{"distance":0.0},{"distance":0.0}]}""".stripMargin
    }
    val r = new OsrmRouter("http://osrm.local", transport = transport,
      overview = "simplified", nodeAnnotations = true)
    assert(r.route(0, 0, 1, 1).nodes == Seq(11L, 12L, 13L, 13L, 14L))
  }

  test("error responses fail loudly") {
    val transport: String => String =
      _ => """{"code":"NoRoute","message":"Impossible route"}"""
    val r = new OsrmRouter("http://osrm.local", transport = transport)
    val e = intercept[IllegalArgumentException] { r.route(0, 0, 1, 1) }
    assert(e.getMessage.contains("NoRoute"))
  }

  test("routeBatched drives a router per partition over a DataFrame") {
    val df = Seq((1L, 0.0, 0.0, 3.0, 4.0), (2L, 1.0, 1.0, 4.0, 5.0))
      .toDF("id", "lon1", "lat1", "lon2", "lat2")
    val out = RoutingBatched.routeBatched(df, new GreatCircleRouter(), "lon1", "lat1", "lon2", "lat2")
    assert(out.columns.toSeq.takeRight(5) ==
      Seq("duration", "distance", "route_geometry", "snap_source", "snap_dest"))
    val rows = out.collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("distance")).toMap
    assert(rows(1L) == graft.geom.Mercator.haversine(0, 0, 3, 4))
    // partition-preserving: no shuffle in the plan
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}
