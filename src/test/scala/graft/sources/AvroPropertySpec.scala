package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Property test: random rows over the full supported type lattice survive
  * the Avro container round-trip exactly — nullable primitives, micros
  * timestamps, binary, arrays, maps, nested structs — under every codec.
  */
class AvroPropertySpec extends AnyFunSuite with SparkSpec {

  /** Deterministic sampling (the CodecPropertySpec pattern — the
    * scalatestplus bridge isn't in the offline cache).
    */
  private def sample[T](gen: Gen[T], n: Int): Seq[T] = {
    var seed = Seed(20260814L)
    val out = Seq.newBuilder[T]
    var produced = 0
    while (produced < n) {
      gen.apply(Gen.Parameters.default, seed).foreach { v => out += v; produced += 1 }
      seed = seed.next
    }
    out.result()
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("n", IntegerType, nullable = true),
    StructField("d", DoubleType, nullable = true),
    StructField("s", StringType, nullable = true),
    StructField("bin", BinaryType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("xs", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("kv", MapType(StringType, LongType, valueContainsNull = false), nullable = false),
    StructField("sub", StructType(Seq(
      StructField("a", StringType, nullable = true),
      StructField("b", IntegerType, nullable = false))), nullable = true)))

  private def opt[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 4 -> g.map(_.asInstanceOf[Any]))
  private val genTs: Gen[Timestamp] =
    Gen.chooseNum(-62135596800000000L / 1000, 4102444800000000L / 1000).map { micros1k =>
      val micros = micros1k * 1000 + (micros1k % 997) // exercise sub-ms digits
      val ts = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      ts
    }
  private val genStr: Gen[String] = Gen.frequency(
    3 -> Gen.alphaNumStr.map(_.take(12)),
    1 -> Gen.const("héllo → ünïcode ✓"),
    1 -> Gen.const(""))
  private val genRow: Gen[Row] = for {
    id <- Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
    n <- opt(Gen.chooseNum(Int.MinValue, Int.MaxValue))
    d <- opt(Gen.oneOf(Gen.chooseNum(-1e9, 1e9), Gen.const(0.0),
      Gen.const(Double.MaxValue), Gen.const(Double.MinPositiveValue)))
    s <- opt(genStr)
    bin <- opt(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    ts <- opt(genTs)
    xs <- Gen.listOfN(3, Gen.chooseNum(-1e6, 1e6)).map(_.toSeq)
    kv <- Gen.mapOfN(2, Gen.zip(Gen.alphaNumStr.map(_.take(6)), Gen.long))
    sub <- opt(Gen.zip(opt(genStr), Gen.chooseNum(-9, 9)).map { case (a, b) => Row(a, b) })
  } yield Row(id, n, d, s, bin, ts, xs, kv, sub)

  /** Normalizes every collection flavor (Array / WrappedArray / ArraySeq /
    * List / Map) to plain Lists so the comparison sees values, not the
    * container type Spark happened to materialize.
    */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toList
    case a: Array[_] => a.toList.map(norm)
    case m: scala.collection.Map[_, _] =>
      m.toList.map { case (k, x) => (norm(k), norm(x)) }.sortBy(_._1.toString)
    case s: scala.collection.Seq[_] => s.toList.map(norm)
    case sub: Row => sub.toSeq.toList.map(norm)
    case x => x
  }
  private def canon(r: Row): List[Any] = r.toSeq.toList.map(norm)

  test("random rows round-trip exactly under every codec") {
    // distinct ids so the multiset compare can sort deterministically
    val rows = sample(genRow, 150).zipWithIndex
      .map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq.tail) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 4), schema)
    Seq("null", "deflate", "snappy").foreach { codec =>
      val dir = tmpDir(s"graft_avroprop_$codec")
      Avro.write(df, s"$dir/t.avro", codec = codec)
      val back = Avro.read(spark, s"$dir/t.avro", splitBytes = 16 * 1024)
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq, s"schema drift under $codec")
      val a = rows.map(canon).sortBy(_.head.asInstanceOf[Long]).toList
      val b = back.collect().toSeq.map(canon).sortBy(_.head.asInstanceOf[Long]).toList
      assert(a.size == b.size, s"row count drift under $codec: ${a.size} vs ${b.size}")
      a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x == y, s"row $i drift under $codec:\n  wrote $x\n  read  $y")
      }
    }
  }
}
