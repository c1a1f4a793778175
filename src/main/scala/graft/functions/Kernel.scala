package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, KnownNullable, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** One native kernel call, built the way Spark 4 builds its own built-ins:
  * a `RuntimeReplaceable` whose replacement is a [[StaticInvoke]] of the
  * kernel object's static method. Through analysis the node keeps the
  * kernel's name, so type errors and EXPLAIN read `poly_hash(s)`; the
  * optimizer swaps in the static call, which whole-stage codegen emits as
  * one direct Java call (`graft.functions.PolyHashImpl.hash(s)`) and the
  * interpreted path invokes by reflection.
  *
  * `bind` sees the resolved input types and returns either the type error
  * the analyzer reports or the literal arguments that follow the inputs in
  * the call: a kernel's integer parameters (`n`, `k`, `bits`, ...) or flags
  * derived from the input types. The check is the node's own, so no
  * implicit cast can turn a wrongly typed call into a result.
  *
  * A null input gives a null output. `nullResult` marks a kernel that may
  * return null itself, through a boxed result type. The call is
  * deterministic and generates code, so subexpression elimination
  * evaluates a struct kernel read field by field once per row.
  */
case class Kernel(
    name: String,
    impl: Class[_],
    method: String,
    override val dataType: DataType,
    nullResult: Boolean,
    children: Seq[Expression],
    bind: Seq[DataType] => Either[String, Seq[Any]])
  extends Expression with RuntimeReplaceable {

  override def prettyName: String = name

  override def flatArguments: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    bind(children.map(_.dataType)).fold(TypeCheckResult.TypeCheckFailure(_),
      _ => TypeCheckResult.TypeCheckSuccess)

  // With propagateNull the call is null-intolerant, and the optimizer would
  // infer `isnotnull` filters on a kernel's inputs from every predicate over
  // it; on the substring-dedup queries such a filter made two identical
  // broadcasts of the document texts differ, so both ran. KnownNullable
  // around each nullable input (already nullable: a no-op) stops that
  // inference, so a kernel predicate adds no filter to the plan.
  override lazy val replacement: Expression = StaticInvoke(impl, dataType, method,
    children.map(c => if (c.nullable) KnownNullable(c) else c) ++
      bind(children.map(_.dataType)).getOrElse(Nil).map(Literal(_)),
    propagateNull = true, returnNullable = nullResult)

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Kernel =
    copy(children = newChildren)
}

object Kernel {

  /** `impl.method(inputs..., bound literals...)` as a Column named `name`. */
  def call(name: String, impl: AnyRef, method: String, dataType: DataType,
           inputs: Seq[Column], nullResult: Boolean = false)(
      bind: Seq[DataType] => Either[String, Seq[Any]]): Column =
    GraftColumnBridge.column(Kernel(name, impl.getClass, method, dataType, nullResult,
      inputs.map(GraftColumnBridge.expression), bind))
}
