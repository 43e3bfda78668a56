package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.EncoderUtils.dataTypeJavaClass
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One native scalar kernel: `name(children…)` calls the static method
  * `target.method(children…, consts…)`. Both `eval` and the generated
  * code go through one Spark `StaticInvoke` of that method, so the
  * interpreted and codegen paths make the same call; a NULL argument
  * gives NULL, and `nullResult` says the method itself may return null.
  *
  * `consts` are plan-time values (a literal `k`, a selector) passed after
  * the children. They print in plans (`kgram_hashes(w#1, 5)`) but are not
  * SQL children, so auto-named columns read `kgram_hashes(w)`. A child
  * whose type the method cannot take is implicitly cast to the
  * parameter's SQL type; a method whose return type does not carry
  * `resultType` fails analysis. */
case class Kernel(name: String, children: Seq[Expression], consts: Seq[Any])(
    target: Class[_], method: String, resultType: DataType, nullResult: Boolean)
    extends Expression with ImplicitCastInputTypes {

  @transient lazy val invoke: StaticInvoke = StaticInvoke(target, resultType,
    method, children ++ consts.map {
      case s: String => Literal.fromObject(s)
      case v => Literal(v)
    }, returnNullable = nullResult)

  @transient private lazy val params: Seq[Class[_]] = {
    val arity = children.length + consts.length
    val cls = Class.forName(target.getName.stripSuffix("$"), true, target.getClassLoader)
    cls.getMethods.toSeq.filter(m => m.getName == method &&
      m.getParameterCount == arity &&
      java.lang.reflect.Modifier.isStatic(m.getModifiers)) match {
      case Seq(m) =>
        require(dataTypeJavaClass(resultType).isAssignableFrom(m.getReturnType),
          s"$name: ${cls.getName}.$method returns ${m.getReturnType.getName}, not $resultType")
        m.getParameterTypes.toSeq
      case ms => throw new IllegalArgumentException(
        s"$name: ${ms.length} static ${cls.getName}.$method methods take $arity arguments")
    }
  }

  override def inputTypes: Seq[DataType] = children.zip(params).map { case (c, p) =>
    if (dataTypeJavaClass(c.dataType) == p) c.dataType
    else Kernel.sqlTypes.getOrElse(p, c.dataType)
  }

  override def dataType: DataType = resultType
  override def nullable: Boolean = invoke.nullable
  override def foldable: Boolean = children.forall(_.foldable)
  // eval reuses StaticInvoke's argument buffer: copy per projection
  override def stateful: Boolean = true
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = (children ++ consts).iterator
  override protected def otherCopyArgs: Seq[AnyRef] =
    Seq(target, method, resultType, Boolean.box(nullResult))

  override def eval(input: InternalRow): Any = invoke.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.doGenCode(ctx, ev)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Kernel =
    copy(children = newChildren)(target, method, resultType, nullResult)
}

object Kernel {
  /** Checks `args` against `name`'s signature — `cols` column arguments,
    * then `lits` literal ones — and builds the kernel; the literals'
    * values, then `fixed`, become its constants. */
  def build(name: String, args: Seq[Expression], cols: Int, lits: Int,
      fixed: Seq[Any], target: AnyRef, method: String, dataType: DataType,
      nullResult: Boolean): Kernel = {
    val n = cols + lits
    arity(name, args, n)
    val literals = args.drop(cols).zipWithIndex.map { case (e, i) =>
      literal(name, e, cols + i + 1)
    }
    Kernel(name, args.take(cols), literals ++ fixed)(
      target.getClass, method, dataType, nullResult)
  }

  /** Checks that `name` got exactly `n` arguments, or at least `n`
    * when `atLeast`. */
  def arity(name: String, args: Seq[Expression], n: Int,
      atLeast: Boolean = false): Unit =
    require(args.length == n || (atLeast && args.length > n),
      s"$name expects ${if (atLeast) "at least " else ""}$n " +
        s"argument${if (n == 1) "" else "s"}; got ${args.length}")

  /** The value of `name`'s argument number `pos`, which must be a
    * non-null literal. */
  def literal(name: String, e: Expression, pos: Int): Any = {
    val v = if (e.foldable) e.eval() else null
    require(v != null, s"$name: argument $pos must be a literal")
    v
  }

  private val sqlTypes: Map[Class[_], DataType] = Map(
    classOf[UTF8String] -> StringType, classOf[Array[Byte]] -> BinaryType,
    classOf[Int] -> IntegerType, classOf[Long] -> LongType,
    classOf[Double] -> DoubleType, classOf[Float] -> FloatType,
    classOf[Boolean] -> BooleanType, classOf[ArrayData] -> ArrayType(NullType))
}
