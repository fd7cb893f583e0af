package graft.perfbench

import graft.geom.{Polygon, WKB}

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index), so the same seed always yields the same inputs
  * and executors can generate rows in parallel without a shared RNG.
  */
object Gen {

  /** SplitMix64 finalizer. */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def bits(seed: Long, stream: Int, i: Long): Long =
    mix64(mix64(seed * 0x9e3779b97f4a7c15L + stream) + i * 0x632be59bd9b4e019L)

  /** Uniform in [0, 1). */
  def u01(seed: Long, stream: Int, i: Long): Double =
    (bits(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  def below(seed: Long, stream: Int, i: Long, n: Int): Int =
    math.floorMod(bits(seed, stream, i), n.toLong).toInt

  // ---- geo ------------------------------------------------------------------

  /** Region every geo input falls in: lon 0..8, lat 40..46. */
  val LonMin = 0.0; val LonSpan = 8.0; val LatMin = 40.0; val LatSpan = 6.0

  def pointLonLat(seed: Long, i: Long): (Double, Double) =
    (LonMin + LonSpan * u01(seed, 1, i), LatMin + LatSpan * u01(seed, 2, i))

  /** A star-convex zone polygon: 6–12 vertices at jittered radii of 3–12 km
    * around a seeded centre, closed ring in lon/lat degrees.
    */
  def zoneRing(seed: Long, i: Long): Array[Double] = {
    val cx = LonMin + LonSpan * u01(seed, 3, i)
    val cy = LatMin + LatSpan * u01(seed, 4, i)
    val r = 3000.0 + 9000.0 * u01(seed, 5, i)
    val k = 6 + below(seed, 6, i, 7)
    val ring = new Array[Double](2 * (k + 1))
    var j = 0
    while (j < k) {
      val a = 2 * math.Pi * j / k
      val rj = r * (0.7 + 0.3 * u01(seed, 7, i * 16 + j))
      ring(2 * j) = cx + rj * math.cos(a) / (111320.0 * math.cos(math.toRadians(cy)))
      ring(2 * j + 1) = cy + rj * math.sin(a) / 110540.0
      j += 1
    }
    ring(2 * k) = ring(0); ring(2 * k + 1) = ring(1)
    ring
  }

  def zoneWkb(seed: Long, i: Long): Array[Byte] = WKB.write(Polygon(Array(zoneRing(seed, i))))

  def zonePop(seed: Long, i: Long): Int = 100 + below(seed, 8, i, 100000)

  /** Centres of the dissolve circles: packed into a 1.2° × 0.8° box so
    * 20 km buffers overlap heavily.
    */
  def circleCentre(seed: Long, i: Long): (Double, Double) =
    (3.0 + 1.2 * u01(seed, 9, i), 42.0 + 0.8 * u01(seed, 10, i))

  // ---- text -----------------------------------------------------------------

  val Stopwords: IndexedSeq[String] = graft.operators.TextAnalysis.defaultStopwords.toIndexedSeq

  /** Seeded vocabulary of `n` distinct lower-case pseudo-words, 3–9 letters,
    * none of which is a stop word.
    */
  def vocabulary(seed: Long, n: Int): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    var i = 0L
    while (seen.size < n) {
      val len = 3 + below(seed, 20, i, 7)
      val w = (0 until len).map(j => ('a' + below(seed, 21, i * 16 + j, 26)).toChar).mkString
      if (!Stopwords.contains(w)) seen += w
      i += 1
    }
    seen.toIndexedSeq
  }

  private val vocabs = new java.util.concurrent.ConcurrentHashMap[Long, (IndexedSeq[String], Array[Double])]()

  /** The 4000-word vocabulary of `seed` with its Zipf sampler, built once per JVM. */
  def vocab(seed: Long): (IndexedSeq[String], Array[Double]) =
    vocabs.computeIfAbsent(seed, s => {
      val v = vocabulary(s, 4000)
      (v, zipfCdf(v.length))
    })

  /** Zipf(1) rank sampler over `n` ranks: cumulative weights for a binary search. */
  def zipfCdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / (r + 1))
    var acc = 0.0
    w.map { x => acc += x; acc / w.sum }
  }

  def zipfRank(cdf: Array[Double], u: Double): Int = {
    val k = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (k >= 0) k else -k - 1, cdf.length - 1)
  }

  /** Word `j` of document `i` on `stream`: every sixth word is a stop word
    * (so documents pass the Gopher stop-word rule), the rest Zipf-drawn.
    */
  def word(seed: Long, stream: Int, i: Long, j: Int, vocab: IndexedSeq[String],
      cdf: Array[Double]): String =
    if (j % 6 == 5) Stopwords(below(seed, stream + 1, i * 1024 + j, Stopwords.length))
    else vocab(zipfRank(cdf, u01(seed, stream, i * 1024 + j)))

  def document(seed: Long, stream: Int, i: Long, minWords: Int, maxWords: Int,
      vocab: IndexedSeq[String], cdf: Array[Double]): IndexedSeq[String] = {
    val n = minWords + below(seed, stream + 2, i, maxWords - minWords + 1)
    (0 until n).map(j => word(seed, stream, i, j, vocab, cdf))
  }

  /** ScaleCheck's decorrelation scheme: copy `c` rotates two disjoint letter
    * alphabets by `c`, so copies share almost no character shingles. Stop
    * words are left alone so every copy still passes the Gopher rules.
    */
  def permuted(words: IndexedSeq[String], c: Int): IndexedSeq[String] = {
    def rot(alpha: String, k: Int) = alpha.drop(k % alpha.length) + alpha.take(k % alpha.length)
    val a = "aeiousnrtlc"
    val b = "dhmpbgfywkvxz"
    val from = a + b
    val to = rot(a, c) + rot(b, c)
    words.map(w =>
      if (Stopwords.contains(w)) w
      else w.map { ch => val k = from.indexOf(ch); if (k < 0) ch else to(k) })
  }

  /** A unit-free embedding: one of 16 seeded cluster centres plus noise. */
  def embedding(seed: Long, stream: Int, i: Long, dim: Int): Array[Float] = {
    val centre = below(seed, stream, i, 16)
    Array.tabulate(dim) { d =>
      val c = 2.0 * u01(seed, stream + 1, centre * 1024L + d) - 1.0
      val noise = 0.6 * (u01(seed, stream + 2, i * 1024 + d) - 0.5)
      (c + noise).toFloat
    }
  }
}
