package graft.functions

import java.lang.reflect.{Method, Modifier}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** One compiled kernel as a Catalyst expression: `owner.method(children...,
  * constants...)`, a static helper that both evaluation paths call, so
  * they run the same arithmetic by construction. Every builder in this
  * package (`dot_product`, `ivf_probes2b`, …) is one of these; `name` is
  * its name in plan strings and SQL.
  *
  * Null handling: a null child makes the result null without calling the
  * helper. `mayReturnNull` declares a helper that returns null (a boxed
  * `java.lang.Double` or a reference) for an input out of its contract;
  * the result is then nullable and the generated code tests the returned
  * value. Without it the result is nullable exactly when a child is.
  *
  * Constants: an `Int` is a Java literal in the generated code; an array
  * rides as a reference object of the generated class (plan size O(1),
  * whatever its length); a `Broadcast` is resolved ONCE per generated
  * class into a field of the helper's parameter type (one BlockManager
  * lookup per partition init, a plain array read per row). Nothing else
  * is copied per row: Spark's `StaticInvoke` copies every argument,
  * constants included, into fields before the call, which measured ~45%
  * slower on `ivf_sims` (4 vCPU, `local[4]`, 400k cached 64-dim rows,
  * C = 16).
  *
  * The interpreted path calls the helper through a `Method` resolved once
  * per instance. Equality is case-class equality; arrays and broadcasts
  * compare by reference, so call sites that share a codebook instance
  * share one expression for codegen CSE.
  */
case class KernelCall(name: String, owner: Class[_], method: String,
    dataType: DataType, children: Seq[Expression], constants: Seq[Any],
    mayReturnNull: Boolean) extends Expression {

  constants.foreach {
    case _: Int | _: Array[Double] | _: Array[Int] | _: Broadcast[_] =>
    case c => throw new IllegalArgumentException(
      s"$name: unsupported kernel constant ${c.getClass.getName}")
  }
  require(!mayReturnNull || !kernel.getReturnType.isPrimitive,
    s"$name: ${owner.getName}.$method returns a primitive, so never null")

  @transient private lazy val kernel: Method = {
    val arity = children.size + constants.size
    owner.getMethods.filter(m => m.getName == method &&
        Modifier.isStatic(m.getModifiers) && m.getParameterCount == arity) match {
      case Array(m) => m
      case ms => throw new IllegalArgumentException(
        s"$name: ${ms.length} static ${owner.getName}.$method of arity $arity")
    }
  }

  @transient private lazy val constantValues: Seq[AnyRef] = constants.map {
    case b: Broadcast[_] => b.value.asInstanceOf[AnyRef]
    case c => c.asInstanceOf[AnyRef]
  }

  override def nullable: Boolean = mayReturnNull || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = (children ++ constants).iterator

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.size + constants.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    constantValues.copyToArray(args, children.size)
    kernel.invoke(null, args: _*)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val params = kernel.getParameterTypes.drop(children.size)
    val consts = constants.zip(params).map {
      case (i: Int, _) => i.toString
      case (b: Broadcast[_], t) =>
        val ref = ctx.addReferenceObj(s"${name}Bcast", b, classOf[Broadcast[_]].getName)
        val tpe = CodeGenerator.typeName(t)
        ctx.addMutableState(tpe, s"${name}Resolved", v => s"$v = ($tpe) $ref.value();")
      case (a, t) => ctx.addReferenceObj(s"${name}Const", a, CodeGenerator.typeName(t))
    }
    val gens = children.map(_.genCode(ctx))
    val call = s"${owner.getName}.$method(${(gens.map(_.value.toString) ++ consts).mkString(", ")})"
    val result = if (!mayReturnNull) s"${ev.value} = $call;" else {
      val tmp = ctx.freshName(name)
      val value =
        if (CodeGenerator.isPrimitiveType(dataType)) s"$tmp.${CodeGenerator.javaType(dataType)}Value()"
        else tmp
      s"""
        ${CodeGenerator.typeName(kernel.getReturnType)} $tmp = $call;
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $value; }
      """
    }
    val declare = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      // each child's code runs only when the ones before it are non-null
      val evalAll = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$result") {
        case ((c, g), inner) => s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $declare
        $evalAll
      """)
    } else
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $declare
        $result""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}

object KernelCall {

  /** the call of `kernels`' static `method` (a Scala object's methods are
    * static in its mirror class, the one generated Java names) on `args`
    * then `constants`, as a Column */
  def column(kernels: AnyRef, name: String, method: String, dataType: DataType,
      args: Seq[Column], constants: Seq[Any] = Nil,
      mayReturnNull: Boolean = false): Column = {
    val module = kernels.getClass
    val owner = Class.forName(module.getName.stripSuffix("$"), true, module.getClassLoader)
    GraftBridge.column(KernelCall(name, owner, method, dataType,
      args.map(GraftBridge.expression), constants, mayReturnNull))
  }
}
