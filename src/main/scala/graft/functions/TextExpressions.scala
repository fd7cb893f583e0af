package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions over text / embedding columns for dedup & similarity
  * sketching — codegen'd static calls into [[TextKernel]], same pattern as
  * the geometry expressions.
  */
private[graft] object TextExpressions {
  final val K = "graft.functions.TextKernel"
}

case class MinhashSig(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(t: Any, k: Any, sh: Any): Any =
    TextKernel.minhashSig(t.asInstanceOf[UTF8String], k.asInstanceOf[Int], sh.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, sh) => s"${TextExpressions.K}.minhashSig($t, $k, $sh)")
  override def prettyName: String = "minhash_sig"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): MinhashSig =
    copy(f, s, t)
}

case class Simhash64(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(t: Any): Any = TextKernel.simhash64(t.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextExpressions.K}.simhash64($t)")
  override def prettyName: String = "simhash64"
  override protected def withNewChildInternal(c: Expression): Simhash64 = copy(child = c)
}

case class NgramsHashed(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(t: Any, n: Any): Any =
    TextKernel.ngramsHashed(t.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) => s"${TextExpressions.K}.ngramsHashed($t, $n)")
  override def prettyName: String = "ngrams_hashed"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NgramsHashed = copy(l, r)
}

case class BigramIds(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(t: Any): Any =
    TextKernel.bigramIds(t.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextExpressions.K}.bigramIds($t)")
  override def prettyName: String = "bigram_ids"
  override protected def withNewChildInternal(c: Expression): BigramIds = copy(child = c)
}

case class BigramScore(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(t: Any, m: Any): Any =
    TextKernel.bigramScore(t.asInstanceOf[UTF8String], m.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, m) => s"${TextExpressions.K}.bigramScore($t, $m)")
  override def prettyName: String = "bigram_score"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BigramScore = copy(l, r)
}

case class VecSimhash(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any, p: Any, s: Any): Any =
    TextKernel.vecSimhash(v.asInstanceOf[ArrayData], p.asInstanceOf[Int], s.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, p, s) => s"${TextExpressions.K}.vecSimhash($v, $p, $s)")
  override def prettyName: String = "vec_simhash"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): VecSimhash =
    copy(f, s, t)
}

case class VecProject(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def nullSafeEval(v: Any, p: Any, s: Any): Any =
    TextKernel.vecProject(v.asInstanceOf[ArrayData], p.asInstanceOf[Int], s.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, p, s) => s"${TextExpressions.K}.vecProject($v, $p, $s)")
  override def prettyName: String = "vec_project"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): VecProject =
    copy(f, s, t)
}

/** Codegen'd robust-winnowing fingerprints ([[TextKernel.winnow]]):
  * array<struct<pos:int, hash:long>> of the selected k-gram minima.
  */
case class WinnowFps(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", IntegerType, nullable = false),
      StructField("hash", LongType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(t: Any, k: Any, w: Any): Any =
    TextKernel.winnow(t.asInstanceOf[UTF8String], k.asInstanceOf[Int], w.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, w) => s"${TextExpressions.K}.winnow($t, $k, $w)")
  override def prettyName: String = "winnow_fps"
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): WinnowFps =
    copy(f, s, t)
}

/** Codegen'd dot product over two double arrays ([[TextKernel.vecDot]]). */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernel.vecDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${TextExpressions.K}.vecDot($a, $b)")
  override def prettyName: String = "vec_dot"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(l, r)
}

/** Codegen'd argmax-dot over a flat centroid matrix ([[TextKernel.vecArgmaxDot]]). */
case class VecArgmaxDot(left: Expression, right: Expression, dim: Int)
    extends BinaryExpression with Serializable {
  require(dim >= 1, s"dim must be positive, got $dim")
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any, c: Any): Any =
    TextKernel.vecArgmaxDot(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], dim)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c) => s"${TextExpressions.K}.vecArgmaxDot($v, $c, $dim)")
  override def prettyName: String = "vec_argmax_dot"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecArgmaxDot =
    copy(l, r)
}

/** Codegen'd cosine over two double arrays ([[TextKernel.vecCosine]]). */
case class VecCosine(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernel.vecCosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${TextExpressions.K}.vecCosine($a, $b)")
  override def prettyName: String = "vec_cosine"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosine =
    copy(l, r)
}

/** Codegen'd PQ encode against a flat codebook literal ([[TextKernel.vecPqEncode]]). */
case class VecPqEncode(left: Expression, right: Expression, dsub: Int, ksub: Int)
    extends BinaryExpression with Serializable {
  require(dsub >= 1 && ksub >= 1, s"dsub/ksub must be positive, got $dsub/$ksub")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(v: Any, cb: Any): Any =
    TextKernel.vecPqEncode(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData], dsub, ksub)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, cb) => s"${TextExpressions.K}.vecPqEncode($v, $cb, $dsub, $ksub)")
  override def prettyName: String = "vec_pq_encode"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecPqEncode =
    copy(l, r)
}

/** Codegen'd per-query ADC lookup table ([[TextKernel.vecPqLut]]). */
case class VecPqLut(left: Expression, right: Expression, dsub: Int, ksub: Int)
    extends BinaryExpression with Serializable {
  require(dsub >= 1 && ksub >= 1, s"dsub/ksub must be positive, got $dsub/$ksub")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def nullSafeEval(v: Any, cb: Any): Any =
    TextKernel.vecPqLut(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData], dsub, ksub)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, cb) => s"${TextExpressions.K}.vecPqLut($v, $cb, $dsub, $ksub)")
  override def prettyName: String = "vec_pq_lut"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecPqLut =
    copy(l, r)
}

/** Codegen'd asymmetric-distance score ([[TextKernel.pqAdc]]) — the per-pair
  * hot loop of the PQ retriever: m lookups + adds.
  */
case class PqAdcScore(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with Serializable {
  require(ksub >= 1, s"ksub must be positive, got $ksub")
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(lut: Any, codes: Any): Any =
    TextKernel.pqAdc(lut.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData], ksub)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lut, codes) => s"${TextExpressions.K}.pqAdc($lut, $codes, $ksub)")
  override def prettyName: String = "pq_adc"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcScore =
    copy(l, r)
}

/** Codegen'd sign-bit binary sketch ([[TextKernel.vecSignBits]]). */
case class VecSignBits(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    TextKernel.vecSignBits(v.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"${TextExpressions.K}.vecSignBits($v)")
  override def prettyName: String = "vec_sign_bits"
  override protected def withNewChildInternal(c: Expression): VecSignBits = copy(child = c)
}

case class LangId(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(t: Any): Any = TextKernel.langId(t.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextExpressions.K}.langId($t)")
  override def prettyName: String = "lang_id"
  override protected def withNewChildInternal(c: Expression): LangId = copy(child = c)
}

case class DocFingerprint(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(t: Any): Any = TextKernel.fingerprint(t.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextExpressions.K}.fingerprint($t)")
  override def prettyName: String = "doc_fingerprint"
  override protected def withNewChildInternal(c: Expression): DocFingerprint = copy(child = c)
}

/** splitmix64 of a long column xor'd with a seed — the deterministic,
  * SQL-mirrorable row hash behind [[graft.operators.Ops.splitByHash]].
  */
case class Mix64Hash(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any, s: Any): Any =
    TextKernel.mix64(v.asInstanceOf[Long] ^ s.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, s) => s"${TextExpressions.K}.mix64($v ^ $s)")
  override def prettyName: String = "mix64_hash"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Mix64Hash = copy(l, r)
}

/** Seed-mixed 64-bit string hash (31-polynomial fold + splitmix64) — the
  * deterministic, SQL-mirrorable string twin of [[Mix64Hash]] (OracleSql
  * mirrors it with hashFold/codesOf); feeds the HyperLogLog sketch.
  */
case class StringHash64(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(t: Any, s: Any): Any =
    TextKernel.stringHash64(t.asInstanceOf[UTF8String], s.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s) => s"${TextExpressions.K}.stringHash64($t, $s)")
  override def prettyName: String = "string_hash64"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StringHash64 =
    copy(l, r)
}

/** Column API for the text/vector sketch expressions. */
case class CompressRatio(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(t: Any): Any =
    TextKernel.compressRatio(t.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextExpressions.K}.compressRatio($t)")
  override def prettyName: String = "compress_ratio"
  override protected def withNewChildInternal(c: Expression): CompressRatio = copy(child = c)
}

/** |a ∩ b| of two strictly-increasing `array<int>`s. The kernel reads 4-byte
  * elements, so any other element type is an analysis error, never a
  * silently wrong count.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with Serializable {
  override def inputTypes: Seq[ArrayType] = Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernel.sortedIntersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${TextExpressions.K}.sortedIntersectSize($a, $b)")
  override def prettyName: String = "sorted_intersect_size"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectSize =
    copy(left = l, right = r)
}

case class PassjoinKeys(left: Expression, right: Expression, probe: Boolean)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(t: Any, d: Any): Any =
    if (probe) TextKernel.passjoinProbe(t.asInstanceOf[UTF8String], d.asInstanceOf[Int])
    else TextKernel.passjoinIndex(t.asInstanceOf[UTF8String], d.asInstanceOf[Int])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, d) =>
      s"${TextExpressions.K}.${if (probe) "passjoinProbe" else "passjoinIndex"}($t, $d)")
  override def prettyName: String = if (probe) "passjoin_probe" else "passjoin_index"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PassjoinKeys =
    copy(left = l, right = r)
}

object TextFunctions {
  private def e(c: Column) = ColumnBridge.expression(c)
  private def c(x: Expression) = ColumnBridge.column(x)
  import org.apache.spark.sql.functions.lit

  def minhash_sig(text: Column, numHashes: Int, shingle: Int): Column =
    c(MinhashSig(e(text), e(lit(numHashes)), e(lit(shingle))))
  def simhash64(text: Column): Column = c(Simhash64(e(text)))
  def ngrams_hashed(text: Column, n: Int): Column = c(NgramsHashed(e(text), e(lit(n))))
  def bigram_ids(text: Column): Column = c(BigramIds(e(text)))
  def bigram_score(text: Column, model: Column): Column = c(BigramScore(e(text), e(model)))
  def vec_simhash(vec: Column, nPlanes: Int, seed: Long): Column =
    c(VecSimhash(e(vec), e(lit(nPlanes)), e(lit(seed))))
  def vec_simhash(vec: Column, nPlanes: Int, seed: Column): Column =
    c(VecSimhash(e(vec), e(lit(nPlanes)), e(seed.cast("long"))))
  def vec_project(vec: Column, outDim: Int, seed: Long): Column =
    c(VecProject(e(vec), e(lit(outDim)), e(lit(seed))))
  def winnow_fps(text: Column, k: Int, w: Int): Column = {
    require(k >= 2, s"k-gram length must be >= 2, got $k")
    require(w >= 1, s"winnow window must be >= 1, got $w")
    c(WinnowFps(e(text), e(lit(k)), e(lit(w))))
  }
  def vec_dot(a: Column, b: Column): Column =
    c(VecDot(e(a.cast("array<double>")), e(b.cast("array<double>"))))
  /** |a ∩ b| of two strictly-increasing int arrays (one codegen merge scan). */
  def sorted_intersect_size(a: Column, b: Column): Column =
    c(SortedIntersectSize(e(a), e(b)))
  /** Cell of `v` against a flat row-major centroid matrix literal. */
  def vec_argmax_dot(v: Column, flatCents: Array[Double], dim: Int): Column =
    c(VecArgmaxDot(e(v.cast("array<double>")),
      org.apache.spark.sql.catalyst.expressions.Literal.create(flatCents,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      dim))
  def vec_cosine(a: Column, b: Column): Column =
    c(VecCosine(e(a.cast("array<double>")), e(b.cast("array<double>"))))
  private def cbLit(flatCb: Array[Double]) =
    org.apache.spark.sql.catalyst.expressions.Literal.create(flatCb,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
  /** PQ codes of `v` against a flat (m·ksub·dsub) codebook literal. */
  def vec_pq_encode(v: Column, flatCb: Array[Double], dsub: Int, ksub: Int): Column =
    c(VecPqEncode(e(v.cast("array<double>")), cbLit(flatCb), dsub, ksub))
  /** Per-query ADC lookup table against the same flat codebook literal. */
  def vec_pq_lut(v: Column, flatCb: Array[Double], dsub: Int, ksub: Int): Column =
    c(VecPqLut(e(v.cast("array<double>")), cbLit(flatCb), dsub, ksub))
  /** ADC score of a code array against a query's lookup table. */
  def pq_adc(lut: Column, codes: Column, ksub: Int): Column =
    c(PqAdcScore(e(lut), e(codes), ksub))
  /** Sign-bit binary sketch of a (≤64-dim) vector as one long. */
  def vec_sign_bits(v: Column): Column = c(VecSignBits(e(v.cast("array<double>"))))
  def lang_id(text: Column): Column = c(LangId(e(text)))
  def doc_fingerprint(text: Column): Column = c(DocFingerprint(e(text)))
  def mix64_hash(v: Column, seed: Long): Column =
    c(Mix64Hash(e(v.cast("long")), e(lit(seed))))
  def string_hash64(text: Column, seed: Long): Column =
    c(StringHash64(e(text), e(lit(seed))))
  def compress_ratio(text: Column): Column = c(CompressRatio(e(text)))
  def passjoin_index(text: Column, d: Int): Column =
    c(PassjoinKeys(e(text), e(lit(d)), probe = false))
  def passjoin_probe(text: Column, d: Int): Column =
    c(PassjoinKeys(e(text), e(lit(d)), probe = true))

  /** Pure-SQL registration of the text/vector sketch kernels — the twin of
    * [[GeoFunctions.registerAll]] for this family; cluster installs get the
    * same set through [[graft.GraftExtensions]]. Integer SQL literals cast
    * up to the Long seeds, vectors cast to array<double>.
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }

  /** Shared (name, builder) list for [[registerAll]] and GraftExtensions. */
  private[graft] val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    def asLong(x: Expression) = Cast(x, LongType)
    def asInt(x: Expression) = Cast(x, IntegerType)
    def asVec(x: Expression) = Cast(x, ArrayType(DoubleType))
    Seq(
      "minhash_sig" -> (a => MinhashSig(a(0), asInt(a(1)), asInt(a(2)))),
      "simhash64" -> (a => Simhash64(a.head)),
      "ngrams_hashed" -> (a => NgramsHashed(a(0), asInt(a(1)))),
      "bigram_ids" -> (a => BigramIds(a.head)),
      "doc_fingerprint" -> (a => DocFingerprint(a.head)),
      "lang_id" -> (a => LangId(a.head)),
      "compress_ratio" -> (a => CompressRatio(a.head)),
      "mix64_hash" -> (a => Mix64Hash(asLong(a(0)), asLong(a(1)))),
      "string_hash64" -> (a => StringHash64(a(0), asLong(a(1)))),
      "vec_dot" -> (a => VecDot(asVec(a(0)), asVec(a(1)))),
      "vec_cosine" -> (a => VecCosine(asVec(a(0)), asVec(a(1)))),
      "vec_sign_bits" -> (a => VecSignBits(asVec(a(0)))),
      "vec_simhash" -> (a => VecSimhash(asVec(a(0)), asInt(a(1)), asLong(a(2)))),
      "vec_project" -> (a => VecProject(asVec(a(0)), asInt(a(1)), asLong(a(2)))),
      "winnow_fps" -> (a => WinnowFps(a(0), asInt(a(1)), asInt(a(2)))),
      "passjoin_index" -> (a => PassjoinKeys(a(0), asInt(a(1)), probe = false)),
      "passjoin_probe" -> (a => PassjoinKeys(a(0), asInt(a(1)), probe = true)))
  }
}
