package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, InheritAnalysisRules, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{DataType, ObjectType}

/** A SQL-named call of a kernel: a plain method on a top-level object that
  * takes the values Spark holds (`UTF8String`, `Array[Byte]`, `ArrayData`,
  * `InternalRow`, primitives) and returns one. The optimizer's
  * `ReplaceExpressions` swaps this node for its `replacement`, a
  * `StaticInvoke` of the method, which whole-stage codegen emits as one
  * direct static call. (An expression that generates no code would
  * instead take its whole operator out of codegen: `CollapseCodegenStages`
  * rejects any operator that holds one.) The analyzer casts each argument
  * to the type the kernel declares for it. `parameters` are the column
  * arguments as written, for the plan's display only.
  */
case class Kernel(name: String, parameters: Seq[Expression], replacement: Expression)
  extends RuntimeReplaceable with InheritAnalysisRules {
  override def prettyName: String = name
  override protected def withNewChildInternal(c: Expression): Expression = copy(replacement = c)
}

object Kernel {

  /** `name(args)` evaluated as `owner.method(args)`, each argument paired
    * with the Spark type of the kernel's parameter. A NULL argument gives
    * NULL without a call; `returnsNull` says the kernel itself may return
    * null. `owner` must be a top-level object: the call goes through the
    * static forwarder that Scala emits only for those. */
  def call(name: String, owner: AnyRef, method: String, dataType: DataType,
           returnsNull: Boolean = false)(args: (Expression, DataType)*): Kernel =
    Kernel(name, args.map(_._1).filter { case Literal(_, _: ObjectType) => false; case _ => true },
      StaticInvoke(owner.getClass, dataType, method, args.map(_._1), args.map(_._2),
        returnNullable = returnsNull))

  /** [[call]] over Columns. */
  def column(name: String, owner: AnyRef, method: String, dataType: DataType,
             returnsNull: Boolean = false)(args: (Column, DataType)*): Column =
    GraftShim.column(call(name, owner, method, dataType, returnsNull)(
      args.map { case (c, t) => (GraftShim.expression(c), t) }: _*))

  /** `value` as a kernel argument of type `T`: a broadcast or a
    * serializable constant table that the kernel takes as is. The plan
    * holds it as an object-typed literal, which whole-stage codegen hands
    * to the generated code as a reference (as Spark hands a DSv2
    * `ScalarFunction` its function object), so the generated source, and
    * the class compiled from it, do not depend on the value. The `Kernel`
    * node does not display it among its `parameters`. */
  def constant[T <: AnyRef](value: T)(implicit t: ClassTag[T]): (Column, DataType) = {
    val dt = ObjectType(t.runtimeClass)
    (GraftShim.column(Literal(value, dt)), dt)
  }
}
