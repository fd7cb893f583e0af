package graft.perfbench

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GeomKernel, TextKernel}
import graft.geom.{Polygon, UnionOps, WKB}

/** nanoTime loops over graft's static kernels on seeded inputs: the
  * `functions` and `geom` layers of the traced run. Each kernel runs a warm
  * round, then five timed rounds over the same inputs; the reported value is
  * the median round's nanoseconds per call.
  */
object Kernels {

  @volatile private var sink: Long = 0L

  private def nsPerCall(calls: Int)(round: => Long): Double = {
    sink += round
    val rounds = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      sink += round
      (System.nanoTime() - t0).toDouble / calls
    }
    Stats.median(rounds)
  }

  /** Seeded circle polygons around the dissolve box, `verts` vertices each. */
  private def circles(seed: Long, n: Int, radiusDeg: Double, verts: Int): IndexedSeq[Array[Array[Double]]] =
    (0 until n).map { i =>
      val (cx, cy) = Gen.circleCentre(seed, i)
      val ring = new Array[Double](2 * (verts + 1))
      (0 to verts).foreach { j =>
        val a = 2 * math.Pi * (j % verts) / verts
        ring(2 * j) = cx + radiusDeg * math.cos(a)
        ring(2 * j + 1) = cy + radiusDeg * math.sin(a)
      }
      Array(ring)
    }

  /** Milliseconds of one `UnionOps.union` over `n` seeded overlapping circles (median of three). */
  def unionMs(seed: Long, n: Int): Double = {
    val polys = circles(seed, n, 0.15, 32)
    sink += UnionOps.union(polys).polys.length
    Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      sink += UnionOps.union(polys).polys.length
      (System.nanoTime() - t0) / 1e6
    })
  }

  private val UnionCircles = 60

  def run(seed: Long): Map[String, Double] = {
    val n = 2000
    val xs = Array.tabulate(n)(i => Gen.pointLonLat(seed, i)._1)
    val ys = Array.tabulate(n)(i => Gen.pointLonLat(seed, i)._2)
    val pts = Array.tabulate(n)(i => GeomKernel.point(xs(i), ys(i)))
    val zones = Array.tabulate(n)(i => Gen.zoneWkb(seed, i))
    // points near their zone so contains() walks the ring instead of
    // failing on the bounding box
    val near = Array.tabulate(n) { i =>
      val r = Gen.zoneRing(seed, i)
      GeomKernel.point(r(0) * 0.3 + r(4) * 0.7, r(1) * 0.3 + r(5) * 0.7)
    }
    val lines = zones.map(z => WKB.write(graft.geom.LineString(
      WKB.read(z).asInstanceOf[Polygon].rings(0))))

    val (vocab, cdf) = Gen.vocab(seed)
    val docs = Array.tabulate(200)(i =>
      UTF8String.fromString(Gen.document(seed, 30, i, 60, 140, vocab, cdf).mkString(" ")))
    val sets = Array.tabulate(200)(i => new GenericArrayData(
      (0 until 80).map(j => Gen.below(seed, 40, i * 256L + j, 400)).distinct.sorted.toArray[Any]))
    val dim = 64
    val vecs = Array.tabulate(200)(i => new GenericArrayData(
      Gen.embedding(seed, 50, i, dim).map(x => x.toDouble: Any)))
    val cents = new GenericArrayData(
      (0 until 16).flatMap(c => Gen.embedding(seed, 60, c, dim)).map(x => x.toDouble: Any).toArray)

    def loop(k: Int)(f: Int => Long): Long = { var acc = 0L; var i = 0; while (i < k) { acc += f(i); i += 1 }; acc }

    Map(
      "functions.geom.point_ns" -> nsPerCall(n)(loop(n)(i => GeomKernel.point(xs(i), ys(i)).length)),
      "functions.geom.areaM_ns" -> nsPerCall(n)(loop(n)(i => GeomKernel.areaM(zones(i)).toLong)),
      "functions.geom.lengthM_ns" -> nsPerCall(n)(loop(n)(i => GeomKernel.lengthM(lines(i)).toLong)),
      "functions.geom.bufferM_ns" -> nsPerCall(200)(loop(200)(i => GeomKernel.bufferM(pts(i), 500.0, 8).length)),
      "functions.geom.contains_ns" -> nsPerCall(n)(loop(n)(i => if (GeomKernel.contains(zones(i), near(i))) 1L else 0L)),
      "functions.geom.cellCover_ns" -> nsPerCall(n)(loop(n)(i => GeomKernel.cellCover(zones(i), 0.05).numElements())),
      "functions.geom.toMercator_ns" -> nsPerCall(n)(loop(n)(i => GeomKernel.toMercator(zones(i)).length)),
      "functions.text.minhashSig_ns" -> nsPerCall(200)(loop(200)(i => TextKernel.minhashSig(docs(i), 128, 5).numElements())),
      "functions.text.simhash64_ns" -> nsPerCall(200)(loop(200)(i => TextKernel.simhash64(docs(i)))),
      "functions.text.sortedIntersectSize_ns" -> nsPerCall(n)(loop(n)(i => TextKernel.sortedIntersectSize(sets(i % 200), sets((i * 7 + 1) % 200)))),
      "functions.text.vecDot_ns" -> nsPerCall(n)(loop(n)(i => TextKernel.vecDot(vecs(i % 200), vecs((i * 7 + 1) % 200)).toLong)),
      "functions.text.vecArgmaxDot_ns" -> nsPerCall(n)(loop(n)(i => TextKernel.vecArgmaxDot(vecs(i % 200), cents, dim))),
      "geom.union_ms" -> unionMs(seed, UnionCircles),
    )
  }
}
