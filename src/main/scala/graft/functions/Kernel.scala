package graft.functions

import java.lang.reflect.InvocationTargetException

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** One native kernel, declared once: `graft_foo_bar` calls the static JVM
  * function `fooBar` of the Scala object `owner`, one argument per entry
  * of `inputTypes` (checked exactly, or implicitly cast to with
  * `castInputs`). A null argument makes the result null without a call,
  * except at the `lenient` positions, where the (object-typed) parameter
  * receives it; with `mayReturnNull` the kernel may return null too.
  * `check` adds an analysis-time rule (a failure message, or None); the
  * bucket-pair modes, whose argument types are not fixed, leave
  * `inputTypes` empty and check them there. */
final case class Kernel(
    name: String,
    owner: Class[_],
    dataType: DataType,
    inputTypes: Seq[DataType],
    lenient: Set[Int] = Set.empty,
    mayReturnNull: Boolean = false,
    castInputs: Boolean = false,
    check: Seq[Expression] => Option[String] = _ => None) {

  /** `graft_foo_bar` → `fooBar`. */
  val method: String = {
    val words = name.stripPrefix("graft_").split('_')
    words.head + words.tail.map(_.capitalize).mkString
  }

  def apply(args: Column*): Column =
    ColumnBridge.column(KernelCall(this, args.map(ColumnBridge.expression)))
}

/** The one generic kernel expression: its [[Kernel]]'s static function,
  * by reflection in `eval` and as a direct static call in generated code.
  * Not Spark's `StaticInvoke`, which nulls the result for a null in every
  * argument or only in primitive ones, while the gVCF kernels take nulls
  * in some arguments as data. The `graft_*` name is the `prettyName`, so
  * it shows in executed plans and auto column names. */
case class KernelCall(kernel: Kernel, children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {

  require(kernel.inputTypes.isEmpty || children.length == kernel.inputTypes.length,
    s"${kernel.name} expects ${kernel.inputTypes.length} arguments, got ${children.length}")

  override def prettyName: String = kernel.name
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.mayReturnNull ||
    children.indices.exists(i => children(i).nullable && !kernel.lenient(i))
  override def foldable: Boolean = children.forall(_.foldable)
  // empty unless the kernel casts: the coercion rule then leaves the
  // arguments alone and checkInputDataTypes rejects any other type
  override def inputTypes: Seq[DataType] =
    if (kernel.castInputs) kernel.inputTypes else Nil

  override def checkInputDataTypes(): TypeCheckResult =
    ExpectsInputTypes.checkInputDataTypes(children, kernel.inputTypes) match {
      case TypeCheckResult.TypeCheckSuccess => kernel.check(children)
        .fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(TypeCheckResult.TypeCheckFailure)
      case failure => failure
    }

  override protected def stringArgs: Iterator[Any] = children.iterator

  @transient private lazy val module = kernel.owner.getField("MODULE$").get(null)
  @transient private lazy val target = kernel.owner.getMethod(kernel.method,
    children.map(c => CodeGenerator.javaClass(c.dataType)): _*)

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length)
    var i = 0
    while (i < args.length) {
      args(i) = children(i).eval(input).asInstanceOf[AnyRef]
      if (args(i) == null && !kernel.lenient(i)) return null
      i += 1
    }
    try target.invoke(module, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val argList = args.indices.map { i =>
      if (kernel.lenient(i)) s"(${args(i).isNull} ? null : ${args(i).value})"
      else args(i).value.toString
    }
    val call = s"${ev.isNull} = false;\n${ev.value} = " +
      s"${kernel.owner.getName.stripSuffix("$")}.${kernel.method}(${argList.mkString(", ")});" +
      (if (kernel.mayReturnNull) s"\n${ev.isNull} = ${ev.value} == null;" else "")
    // as in eval: a null strict argument skips the call and every
    // argument after it
    val body = args.indices.foldRight(call) { (i, inner) =>
      if (kernel.lenient(i) || !children(i).nullable) s"${args(i).code}\n$inner"
      else s"${args(i).code}\nif (!${args(i).isNull}) {\n$inner\n}"
    }
    ev.copy(code = code"""
      boolean ${ev.isNull} = true;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      $body
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}
