package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The text / vector expressions that are more than one kernel call:
  * plan-time constants (centroid dim, PQ shape, the passjoin side) baked
  * into the generated static call into [[TextKernel]], and the seed-xor of
  * [[Mix64Hash]]. Every other sketch kernel is a [[KernelFns]] row.
  */
private[graft] object TextExpressions {
  final val K = "graft.functions.TextKernel"
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

/** Column API for the text/vector sketch expressions. */
object TextFunctions {
  private def e(c: Column) = ColumnBridge.expression(c)
  private def c(x: Expression) = ColumnBridge.column(x)
  import org.apache.spark.sql.functions.lit
  import graft.functions.{KernelFns => k}

  def minhash_sig(text: Column, numHashes: Int, shingle: Int): Column =
    k.minhash_sig(text, lit(numHashes), lit(shingle))
  def simhash64(text: Column): Column = k.simhash64(text)
  def ngrams_hashed(text: Column, n: Int): Column = k.ngrams_hashed(text, lit(n))
  def bigram_ids(text: Column): Column = k.bigram_ids(text)
  def bigram_score(text: Column, model: Column): Column = k.bigram_score(text, model)
  def vec_simhash(vec: Column, nPlanes: Int, seed: Long): Column =
    k.vec_simhash(vec, lit(nPlanes), lit(seed))
  def vec_simhash(vec: Column, nPlanes: Int, seed: Column): Column =
    k.vec_simhash(vec, lit(nPlanes), seed)
  def vec_project(vec: Column, outDim: Int, seed: Long): Column =
    k.vec_project(vec, lit(outDim), lit(seed))
  def winnow_fps(text: Column, k: Int, w: Int): Column = {
    require(k >= 2, s"k-gram length must be >= 2, got $k")
    require(w >= 1, s"winnow window must be >= 1, got $w")
    KernelFns.winnow_fps(text, lit(k), lit(w))
  }
  def vec_dot(a: Column, b: Column): Column = k.vec_dot(a, b)
  /** |a ∩ b| of two strictly-increasing int arrays (one codegen merge scan);
    * any other element type is an analysis error, never a wrong count.
    */
  def sorted_intersect_size(a: Column, b: Column): Column = k.sorted_intersect_size(a, b)
  /** Cell of `v` against a flat row-major centroid matrix literal. */
  def vec_argmax_dot(v: Column, flatCents: Array[Double], dim: Int): Column =
    c(VecArgmaxDot(e(v.cast("array<double>")), vecLit(flatCents), dim))
  def vec_cosine(a: Column, b: Column): Column = k.vec_cosine(a, b)
  private def vecLit(flat: Array[Double]) = Literal.create(flat, ArrayType(DoubleType))
  /** PQ codes of `v` against a flat (m·ksub·dsub) codebook literal. */
  def vec_pq_encode(v: Column, flatCb: Array[Double], dsub: Int, ksub: Int): Column =
    c(VecPqEncode(e(v.cast("array<double>")), vecLit(flatCb), dsub, ksub))
  /** Per-query ADC lookup table against the same flat codebook literal. */
  def vec_pq_lut(v: Column, flatCb: Array[Double], dsub: Int, ksub: Int): Column =
    c(VecPqLut(e(v.cast("array<double>")), vecLit(flatCb), dsub, ksub))
  /** ADC score of a code array against a query's lookup table. */
  def pq_adc(lut: Column, codes: Column, ksub: Int): Column =
    c(PqAdcScore(e(lut), e(codes), ksub))
  /** Sign-bit binary sketch of a (≤64-dim) vector as one long. */
  def vec_sign_bits(v: Column): Column = k.vec_sign_bits(v)
  def lang_id(text: Column): Column = k.lang_id(text)
  def doc_fingerprint(text: Column): Column = k.doc_fingerprint(text)
  def mix64_hash(v: Column, seed: Long): Column =
    c(Mix64Hash(e(v.cast("long")), e(lit(seed))))
  def string_hash64(text: Column, seed: Long): Column = k.string_hash64(text, lit(seed))
  def compress_ratio(text: Column): Column = k.compress_ratio(text)
  def passjoin_index(text: Column, d: Int): Column =
    c(PassjoinKeys(e(text), e(lit(d)), probe = false))
  def passjoin_probe(text: Column, d: Int): Column =
    c(PassjoinKeys(e(text), e(lit(d)), probe = true))

  /** Registers every graft SQL function; see [[graft.functions.registerAll]]. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.functions.registerAll(spark)
}
