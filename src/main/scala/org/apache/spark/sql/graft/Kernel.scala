package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{DataType, StringType}

/** One native row kernel: a static method of a Scala object that takes
  * Catalyst's internal values (`UTF8String`, `ArrayData`, `Array[Byte]`,
  * primitives) for `inputs`, then `nParams` literal ints, and returns the
  * internal value of `result`. A null input yields null without a call;
  * `nullableResult` marks a method that may also return null itself.
  * `checkParams` rejects bad literal ints when the call is built.
  *
  * The same entry serves SQL (through [[KernelCall]], registered by
  * `graft.GraftExtensions`) and the DataFrame API (through `apply`).
  */
final case class Kernel(
    name: String,
    owner: Class[_],
    method: String,
    result: DataType,
    inputs: Seq[DataType],
    nParams: Int = 0,
    nullableResult: Boolean = false,
    checkParams: Seq[Int] => Unit = _ => ()) {

  def apply(input: Column, params: Int*): Column = call(Seq(input), params)

  def apply(left: Column, right: Column, params: Int*): Column =
    call(Seq(left, right), params)

  private def call(cols: Seq[Column], params: Seq[Int]): Column =
    ColumnBridge.column(
      KernelCall(this, cols.map(ColumnBridge.expression), params))
}

/** A [[Kernel]] applied to its input expressions: type-checked and named
  * like a built-in (`name(children)`; literal ints are not children), then
  * replaced before planning by Spark's `StaticInvoke` of the kernel's
  * method, the shape Spark's own built-ins compile to.
  */
case class KernelCall(kernel: Kernel, children: Seq[Expression],
                      params: Seq[Int])
    extends Expression with RuntimeReplaceable {
  require(params.length == kernel.nParams,
    s"${kernel.name} takes ${kernel.nParams} literal int(s), " +
      s"got ${params.length}")
  kernel.checkParams(params)

  override def prettyName: String = kernel.name

  override def toString: String =
    (children.map(_.toString) ++ params.map(_.toString))
      .mkString(s"$prettyName(", ", ", ")")

  override def checkInputDataTypes(): TypeCheckResult = {
    def render(ts: Seq[DataType]): String = ts.map(_.simpleString) match {
      case Seq(t) => t
      case all => all.mkString("(", ", ", ")")
    }
    val actual = children.map(_.dataType)
    val needs =
      if (kernel.inputs == Seq(StringType)) "a string"
      else render(kernel.inputs)
    if (actual.map(_.asNullable) == kernel.inputs.map(_.asNullable))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${kernel.name} needs $needs, got ${render(actual)}")
  }

  override lazy val replacement: Expression =
    StaticInvoke(kernel.owner, kernel.result, kernel.method,
      children ++ params.map(Literal(_)),
      returnNullable = kernel.nullableResult)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}
