package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, InheritAnalysisRules, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, ObjectType}

/** One call into a static kernel (`GeoKernels.s2Cell`, `ProjKernels.eval`,
  * ...), planned as Spark's own StaticInvoke: the analyzer coerces the SQL
  * arguments to the kernel's parameter types (a BIGINT level, integer
  * lon/lat literals), a null argument gives a null result without calling
  * the kernel, a reference-typed result is null-checked, and whole-stage
  * codegen emits one static call per row.
  *
  * The wrapper itself only names the column after the API function the
  * user called (`s2Cell(lon, lat, 12)`, `graft_s2_cell(lon, lat, 12)`)
  * instead of StaticInvoke's object-literal dump; the optimizer replaces
  * it with the StaticInvoke before planning. */
case class KernelCall(name: String, parameters: Seq[Expression], replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {
  override def prettyName: String = name
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(replacement = newChild)
}

object KernelCall {
  /** The column `kernels.fn(before ++ params ++ after)`, named
    * `name(params)`. `params` are the SQL arguments, coerced to `types`;
    * `before`/`after` are plan-time constants (pipelines, flags, scratch
    * handles — see [[obj]]). `returnNullable` marks kernels that return
    * null for input they cannot decode. */
  def column(name: String, kernels: AnyRef, fn: String, dataType: DataType,
             params: Seq[Column], types: Seq[DataType],
             returnNullable: Boolean = false,
             before: Seq[Literal] = Nil, after: Seq[Literal] = Nil): Column = {
    val exprs = params.map(Bridge.expression)
    val args = before ++ exprs ++ after
    Bridge.column(KernelCall(name, exprs, StaticInvoke(kernels.getClass, dataType, fn, args,
      before.map(_.dataType) ++ types ++ after.map(_.dataType),
      returnNullable = returnNullable)))
  }

  /** A plan-time object argument. It takes part in expression equality, so
    * its class defines equality by value: two identical transforms stay
    * semantically equal and subexpression elimination evaluates them once. */
  def obj(v: AnyRef): Literal = Literal(v, ObjectType(v.getClass))
}
