package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{DataTypeMismatch, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Cast, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, NullType, StringType}

/** One SQL kernel function: a row of the [[KernelFns]] table.
  *
  * @param name       SQL name, also the name of an unaliased result column
  * @param owner      the kernel object whose static forwarder codegen calls
  * @param method     the kernel method
  * @param inputTypes declared argument types
  * @param dataType   result type
  * @param nullResult whether the kernel may return null for non-null input
  * @param invoke     the same kernel call for interpreted evaluation
  */
final case class KernelFn(name: String, owner: String, method: String,
    inputTypes: Seq[DataType], dataType: DataType, nullResult: Boolean)(
    @transient val invoke: Array[Any] => Any) {

  /** The Catalyst call on `args`, converted once for every caller.
    * Binary (WKB), string and int-array arguments are taken as they are: a
    * cast would feed text to the WKB reader or narrow longs to 4-byte ids,
    * so a wrong type is an analysis error instead. Every other argument is
    * cast to its declared type, so SQL integer literals reach a double or
    * long parameter.
    */
  def build(args: Seq[Expression]): Expression = {
    KernelFn.checkArity(name, inputTypes.length, args)
    KernelCall(this, args.zip(inputTypes).map { case (a, t) =>
      if (!KernelFn.castable(t) || (a.resolved && KernelFn.accepts(t, a.dataType))) a
      else Cast(a, t)
    })
  }

  /** Column API: the same expression [[build]] gives the SQL surface. */
  def apply(args: Column*): Column =
    ColumnBridge.column(build(args.map(ColumnBridge.expression)))

  /** A deserialized row is the table's own (its lambda is not shipped). */
  private def readResolve(): AnyRef = KernelFns.byName(name)
}

object KernelFn {
  private def castable(t: DataType): Boolean = t match {
    case BinaryType | _: StringType | ArrayType(IntegerType, _) => false
    case _ => true
  }

  private[functions] def accepts(declared: DataType, actual: DataType): Boolean =
    (declared, actual) match {
      case (_: StringType, _: StringType) => true
      case _ => DataType.equalsStructurally(actual, declared, ignoreNullability = true)
    }

  /** Fails a SQL call with the wrong number of arguments, naming it. */
  private[functions] def checkArity(name: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(s"$name takes $n arguments, got ${args.length}")
}

/** A call of one [[KernelFn]] on `children`. Generated code is the static
  * call `owner.method(args)`, so the kernel runs inside WholeStageCodegen;
  * interpreted evaluation calls the kernel through the row's `invoke`. A
  * NULL argument gives NULL without calling the kernel.
  */
case class KernelCall(fn: KernelFn, children: Seq[Expression]) extends Expression {

  override def dataType: DataType = fn.dataType
  override def nullable: Boolean = fn.nullResult || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = fn.name
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    children.zip(fn.inputTypes).zipWithIndex.collectFirst {
      case ((c, t), i) if c.dataType != NullType && !KernelFn.accepts(t, c.dataType) =>
        DataTypeMismatch("UNEXPECTED_INPUT_TYPE", Map(
          "paramIndex" -> ExpectsInputTypes.ordinalNumber(i),
          "requiredType" -> ExpectsInputTypes.toSQLType(t),
          "inputSql" -> ExpectsInputTypes.toSQLExpr(c),
          "inputType" -> ExpectsInputTypes.toSQLType(c.dataType)))
    }.getOrElse(TypeCheckSuccess)

  override def eval(input: InternalRow): Any = {
    val args = new Array[Any](children.length)
    val it = children.iterator
    var i = 0
    while (it.hasNext) {
      val v = it.next().eval(input)
      if (v == null) return null
      args(i) = v
      i += 1
    }
    fn.invoke(args)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (children.exists(_.dataType == NullType)) ExprCode.forNullValue(dataType)
    else {
      val args = children.map(_.genCode(ctx))
      val call = s"${fn.owner}.${fn.method}(${args.map(_.value).mkString(", ")})"
      val javaType = CodeGenerator.javaType(dataType)
      if (!nullable) ev.copy(code = code"""
        ${args.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
      else {
        val result =
          if (fn.nullResult) s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
          else s"${ev.isNull} = false;\n${ev.value} = $call;"
        val guarded = children.zip(args).foldRight(result) { case ((c, a), inner) =>
          s"${a.code}\n${ctx.nullSafeExec(c.nullable, a.isNull.toString)(inner)}"
        }
        ev.copy(code = code"""
          boolean ${ev.isNull} = true;
          $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
          $guarded""")
      }
    }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}
