package graft.functions

import scala.util.Try

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.geom.{WKB, WKT}

/** The [[KernelFns]] table and the one SQL list built from it: both install
  * paths build the same expressions, argument types are checked at
  * analysis, and each row's interpreted call matches its generated code.
  */
class KernelFnsSpec extends AnyFunSuite with SparkSpec {

  /** A session on the shared context with only `GraftExtensions` installed. */
  private lazy val extSession: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new graft.GraftExtensions).getOrCreate()
    finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  /** A SQL literal of each declared argument type. */
  private def sqlArg(t: DataType): String = t match {
    case BinaryType => "X'0101000000000000000000F03F0000000000000040'" // POINT (1 2)
    case StringType => "'POINT (1 2)'"
    case DoubleType => "1"
    case IntegerType => "8"
    case LongType => "7"
    case ArrayType(DoubleType | FloatType, _) => "array(0, 0, 3, 4)"
    case ArrayType(StringType, _) => "array('outer')"
    case ArrayType(ArrayType(DoubleType, _), _) => "array(array(0, 0, 1, 0, 1, 1, 0, 0))"
    case ArrayType(IntegerType, _) => "array(1, 2, 3)"
    case MapType(StringType, StringType, _) => "map('k', 'v')"
  }

  private val planTimeCalls = Map(
    "st_to_utm" -> "st_to_utm(st_point(3, 0), 32631)",
    "st_from_utm" -> "st_from_utm(st_point(500000, 0), 'EPSG:32631')",
    "st_transform" -> "st_transform(st_point(3, 46), 4326, 2154)",
    "st_zorder" -> "st_zorder(1, 2, 16)",
    "st_hilbert" -> "st_hilbert(1, 2, 16)",
    "st_geohash" -> "st_geohash(1, 2, 5)",
    "mix64_hash" -> "mix64_hash(5, 42)",
    "passjoin_index" -> "passjoin_index('abcd', 1)",
    "passjoin_probe" -> "passjoin_probe('abcd', 1)")

  private def built(s: SparkSession, call: String): Expression =
    s.sql(s"SELECT $call AS v").queryExecution.analyzed match {
      case Project(Seq(a: Alias), _) => a.child
      case other => fail(s"unexpected plan for $call:\n$other")
    }

  test("GraftExtensions and registerAll build the same expression for every SQL function") {
    registerAll(spark)
    val rows = KernelFns.all.map(f => f.name -> s"${f.name}(${f.inputTypes.map(sqlArg).mkString(", ")})")
    val calls = rows ++ planTimeCalls
    assert(calls.map(_._1).toSet == sqlFunctions.map(_._1).toSet)
    calls.foreach { case (name, call) =>
      assert(built(extSession, call) == built(spark, call), s"$name: $call")
    }
  }

  test("st_point, st_buffer and st_line_from_coords run on the extension path") {
    val r = extSession.sql(
      """SELECT st_astext(st_point(1, 2)) AS p,
        |  st_area(st_buffer(st_point(0.0D, 0.0D), 1, 8)) AS a,
        |  st_astext(st_line_from_coords(array(0, 0, 3, 4))) AS l""".stripMargin).head()
    assert(r.getAs[String]("p") == "POINT (1 2)")
    assert(math.abs(r.getAs[Double]("a") - 16 * math.sin(2 * math.Pi / 32)) < 1e-9)
    assert(r.getAs[String]("l") == "LINESTRING (0 0, 3 4)")
  }

  test("binary and string arguments of the wrong type fail at analysis, naming the function") {
    registerAll(spark)
    val ids = spark.range(3)
    Seq(
      (() => ids.selectExpr("st_aream(CAST(id AS STRING))"), "st_aream", "\"BINARY\""),
      (() => ids.select(GeoFunctions.st_aream(col("id").cast("string"))), "st_aream", "\"BINARY\""),
      (() => ids.selectExpr("simhash64(id)"), "simhash64", "\"STRING\""),
      (() => ids.select(TextFunctions.simhash64(col("id"))), "simhash64", "\"STRING\"")
    ).foreach { case (query, fn, expected) =>
      val e = intercept[AnalysisException](query())
      assert(e.getMessage.contains(fn) && e.getMessage.contains(expected), e.getMessage)
    }
    assert(spark.sql("SELECT st_aream(NULL) AS a").head().isNullAt(0))
    assert(ids.selectExpr("st_aream(CAST(NULL AS BINARY)) AS a").collect().forall(_.isNullAt(0)))
  }

  test("every row's interpreted call matches its generated code and reads its declared types") {
    val polygon = WKB.write(WKT.read("POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))"))
    def value(t: DataType): Any = t match {
      case BinaryType => polygon
      case StringType => "POINT (1 2)"
      case DoubleType => 0.5
      case IntegerType => 3
      case LongType => 7L
      case ArrayType(DoubleType, _) => Seq(0.0, 0.0, 3.0, 4.0, 3.0, 0.0)
      case ArrayType(FloatType, _) => Seq(0.5f, -1.5f, 2.0f)
      case ArrayType(StringType, _) => Seq("outer")
      case ArrayType(ArrayType(DoubleType, _), _) => Seq(Seq(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 0.0))
      case ArrayType(IntegerType, _) => Seq(1, 2, 3)
      case MapType(StringType, StringType, _) => Map("k" -> "v")
    }
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case s: scala.collection.Seq[_] => s.map(norm)
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }
      case r: Row => r.toSeq.map(norm)
      case d: Double if d.isNaN => "NaN"
      case other => other
    }
    def outcome(e: Expression, input: InternalRow)(run: InternalRow => Any): Any =
      Try(run(input)).fold(_.getClass.getName,
        v => norm(CatalystTypeConverters.convertToScala(v, e.dataType)))
    KernelFns.all.foreach { fn =>
      val types = fn.inputTypes
      val row = InternalRow.fromSeq(types.map(t => CatalystTypeConverters.convertToCatalyst(value(t))))
      val literal = fn.build(types.map(t => Literal.create(value(t), t)))
      val bound = fn.build(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
      Seq(literal, bound).foreach { e =>
        val generated = GenerateUnsafeProjection.generate(Seq(e))
        val viaCode = outcome(e, row)(r => generated(r).get(0, e.dataType))
        assert(outcome(e, row)(e.eval) == viaCode, s"${fn.name} on $e")
        // the kernel reads its arguments as the declared types
        assert(viaCode != classOf[ClassCastException].getName, s"${fn.name} misreads $types")
      }
      val withNull = InternalRow.fromSeq(null +: row.toSeq(types).tail)
      assert(bound.eval(withNull) == null, fn.name)
      assert(GenerateUnsafeProjection.generate(Seq(bound))(withNull).isNullAt(0), fn.name)
    }
  }
}
