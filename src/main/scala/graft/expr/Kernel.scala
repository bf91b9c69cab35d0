package graft.expr

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._

/** A declared kernel input: the types it accepts, and how the type-check
  * message shows them. */
final class KernelInput(val show: String, val accepts: DataType => Boolean)
    extends Serializable

/** A constant argument of a kernel. `kind` is the SQL literal type the
  * registry parses it from; a constant with a `default` may be left out
  * by Column constructors (it must then trail the others) and is fixed
  * in SQL. An `IntegerType` constant below `min` is refused. */
final case class KernelConst(name: String, kind: DataType, default: Any = null,
    min: Int = Int.MinValue)

/** One native kernel, declared: its name (the `prettyName` plans show),
  * its inputs, its constants, its result type and the one static method
  * of `owner` that both eval and generated code call, with the inputs'
  * values first and then `args(inputTypes, constants)`.
  *
  * Null policy: a null input gives `whenNull` (null unless declared),
  * without calling the method. `nullableResult` declares that the method
  * may return null for non-null inputs; its return type is then the boxed
  * one for a primitive result (`java.lang.Double` for `DoubleType`). */
final class KernelDecl(
    val name: String,
    val inputs: Seq[KernelInput],
    val dataType: DataType,
    owner: AnyRef,
    methodName: String,
    val consts: Seq[KernelConst] = Nil,
    val whenNull: Any = null,
    val nullableResult: Boolean = false,
    val args: (Seq[DataType], Seq[Any]) => Seq[Any] = (_, cs) => cs) extends Serializable {

  require(consts.dropWhile(_.default == null).forall(_.default != null),
    s"$name: constants with a default must trail the others")

  /** The class holding the static forwarders of `owner`'s methods. */
  val ownerClass: String = owner.getClass.getName.stripSuffix("$")

  @transient lazy val method: Method = {
    val ms = Class.forName(ownerClass).getMethods.filter(m => m.getName == methodName &&
      Modifier.isStatic(m.getModifiers) && !m.getParameterTypes.contains(classOf[Column]))
    require(ms.length == 1, s"$name: want one static $ownerClass.$methodName, found ${ms.length}")
    ms.head
  }

  /** The constants SQL passes as literals: those without a default. */
  def sqlConsts: Seq[KernelConst] = consts.filter(_.default == null)

  def usage: String = s"$name(${(inputs.map(_.show) ++ sqlConsts.map(_.name)).mkString(", ")})"

  def typeCheck(types: Seq[DataType]): TypeCheckResult =
    if (types.size == inputs.size && inputs.zip(types).forall { case (in, t) => in.accepts(t) })
      TypeCheckSuccess
    else {
      def show(ss: Seq[String]) = if (ss.size == 1) ss.head else ss.mkString("(", ", ", ")")
      TypeCheckFailure(s"$name expects ${show(inputs.map(_.show))}, " +
        s"got ${show(types.map(_.simpleString))}")
    }

  /** The kernel over `in`; trailing constants with a default may be left out. */
  def expr(in: Seq[Expression], cs: Seq[Any]): Kernel = {
    require(in.size == inputs.size && cs.size <= consts.size &&
      consts.drop(cs.size).forall(_.default != null), usage)
    val all = cs ++ consts.drop(cs.size).map(_.default)
    consts.zip(all).foreach {
      case (c, v: Int) => require(v >= c.min, s"$usage: ${c.name} must be >= ${c.min}, got $v")
      case _ =>
    }
    Kernel(this, in.toIndexedSeq, all)
  }

  def apply(in: Column*): Column = of(in)

  def of(in: Seq[Column], cs: Any*): Column =
    Bridge.column(expr(in.map(Bridge.expression), cs))

  // names are unique, and a declaration deserialized on an executor must
  // still equal its driver copy
  override def equals(o: Any): Boolean = o match {
    case d: KernelDecl => d.name == name
    case _ => false
  }
  override def hashCode: Int = name.hashCode
}

/** The one Catalyst expression of every native kernel. `consts` compare
  * by content, so kernels that differ only in a constant never merge
  * under subexpression elimination or exchange reuse. */
case class Kernel(decl: KernelDecl, children: IndexedSeq[Expression], consts: Seq[Any])
    extends Expression {
  override def prettyName: String = decl.name
  override def dataType: DataType = decl.dataType
  override def nullable: Boolean =
    decl.nullableResult || (decl.whenNull == null && children.exists(_.nullable))
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def flatArguments: Iterator[Any] = children.iterator ++ consts.iterator

  override def checkInputDataTypes(): TypeCheckResult = decl.typeCheck(children.map(_.dataType))

  /** The method's arguments after the inputs. */
  @transient private lazy val trailing: Seq[Any] = decl.args(children.map(_.dataType), consts)

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.size + trailing.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      if (v == null) return decl.whenNull
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    trailing.foreach { a => args(i) = a.asInstanceOf[AnyRef]; i += 1 }
    try decl.method.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val params = decl.method.getParameterTypes.drop(children.size)
    val constArgs = trailing.zip(params).map {
      case (v: java.lang.Integer, p) if p == java.lang.Integer.TYPE => v.toString
      case (v: java.lang.Long, p) if p == java.lang.Long.TYPE => s"${v}L"
      case (v: java.lang.Boolean, p) if p == java.lang.Boolean.TYPE => v.toString
      case (v, p) => ctx.addReferenceObj("kernelArg", v, CodeGenerator.typeName(p))
    }
    val call = s"${decl.ownerClass}.${decl.method.getName}(" +
      (gens.map(_.value.toString) ++ constArgs).mkString(", ") + ")"
    val result = ctx.freshName("result")
    val compute =
      if (!decl.nullableResult) s"${ev.value} = $call;"
      else s"""${CodeGenerator.boxedType(dataType)} $result = $call;
              |${ev.isNull} = $result == null;
              |if (!${ev.isNull}) ${ev.value} = $result;""".stripMargin
    // a null input skips the call and the inputs after it, as nullSafeCodeGen does
    val guarded = children.zip(gens).foldRight(compute) { case ((c, g), inner) =>
      if (!c.nullable) s"${g.code}\n$inner"
      else s"${g.code}\n${ev.isNull} = ${g.isNull};\nif (!${ev.isNull}) {\n$inner\n}"
    }
    val fixed =
      if (decl.whenNull == null || !children.exists(_.nullable)) ""
      else s"if (${ev.isNull}) { ${ev.isNull} = false; ${ev.value} = " +
        s"${Literal(decl.whenNull, dataType).genCode(ctx).value}; }"
    ev.copy(code = code"""
      |boolean ${ev.isNull} = false;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |$guarded
      |$fixed
      """.stripMargin, isNull = if (nullable) ev.isNull else FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Kernel =
    copy(children = newChildren)
}

object Kernel {
  val StringIn = new KernelInput("string", _ == StringType)
  val BinaryIn = new KernelInput("binary", _ == BinaryType)
  val BigintIn = new KernelInput("bigint", _ == LongType)
  val StringArrayIn = new KernelInput("array<string>", {
    case ArrayType(StringType, _) => true
    case _ => false
  })
  val StructArrayIn = new KernelInput("array<struct>", {
    case ArrayType(_: StructType, _) => true
    case _ => false
  })
  val VectorIn = new KernelInput("array<float|double>", {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  })
}
