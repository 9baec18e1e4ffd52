package graft.dedup

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types.DataType

/** Column-level calls of the compiled per-row kernels through Spark's own
  * `StaticInvoke` / `Invoke`. Whole-stage codegen emits the direct call on
  * Tungsten values (`graft.dedup.TokenSetKernel.eval(...)`,
  * `((...MinHashKernel) references[i]).signature(...)`) with no per-row
  * boxing or Seq conversion; interpreted evaluation calls the same method
  * by reflection. A NULL input yields NULL without calling the kernel.
  * Each input is declared with its exact type: the analyzer inserts only
  * the implicit casts ANSI coercion allows and rejects everything else (a
  * string where an array<int> is expected, a bigint array it would have to
  * narrow).
  *
  * Every call is built with `isDeterministic = false`, though each kernel
  * is pure: Catalyst copies a deterministic expression into any filter it
  * pushes through the defining projection or into a join condition (a
  * `sim >= t` filter over an intersection count would run the kernel three
  * times per pair), and that flag is its only per-expression barrier. So a
  * kernel runs once per row, where it is written. ScalaUDFs whose column a
  * filter reads are `asNondeterministic()` for the same reason. Two side
  * effects:
  *  - every filter above a kernel's projection stays there, so write a
  *    filter that can run first (a key filter) below that projection;
  *  - the analyzer's `PullOutNondeterministic` does not move a kernel, so
  *    one written in a join condition, a sort key or a grouping key fails
  *    analysis: compute it in a projection and use the column. */
object KernelCall {

  /** `kernel.fn(inputs..., params...)` on a Scala object's static
    * forwarder. `params` are per-plan constants, passed as literals.
    * `nullableResult`: the kernel may return null for a non-null input. */
  def static(
      kernel: AnyRef,
      fn: String,
      out: DataType,
      inputs: Seq[(Column, DataType)],
      params: Seq[Any] = Nil,
      nullableResult: Boolean = false
  ): Column = {
    val lits = params.map(Literal(_))
    GraftBridge.column(
      StaticInvoke(
        kernel.getClass,
        out,
        fn,
        inputs.map(i => GraftBridge.expression(i._1)) ++ lits,
        inputs.map(_._2) ++ lits.map(_.dataType),
        propagateNull = true,
        returnNullable = nullableResult,
        isDeterministic = false
      )
    )
  }

  /** `kernel.fn(inputs...)` on a kernel instance carried as a plan literal.
    * A case class: plan equality and plan strings go by its parameters, and
    * any table it derives from them should be `@transient lazy`. */
  def invoke(kernel: Product with Serializable, fn: String, out: DataType, inputs: Seq[(Column, DataType)]): Column =
    GraftBridge.column(
      Invoke(
        Literal.fromObject(kernel),
        fn,
        out,
        inputs.map(i => GraftBridge.expression(i._1)),
        inputs.map(_._2),
        propagateNull = true,
        returnNullable = false,
        isDeterministic = false
      )
    )
}
