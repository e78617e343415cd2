package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Live-row predicate of the IVF delete path: true unless the long id
  * is in the broadcast tombstone set — a sorted, distinct `long[]`
  * probed by binary search. A NULL id is never hidden (the same answer
  * a left-anti join on `id = tombstone` gives), so the predicate is
  * never NULL.
  *
  * An Expression rather than a `udf(...)` for [[BloomProbe]]'s reason:
  * it runs once per scanned index row, and the generated code probes
  * the primitive long straight out of the row against an array
  * resolved once per operator instance. The plan carries the broadcast
  * handle, so the set ships to each executor once, and the filter adds
  * no join, exchange or job to the scan it sits in.
  */
case class NotTombstoned(child: Expression, tombstones: Broadcast[Array[Long]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"not_tombstoned expects a bigint input, got ${child.dataType.simpleString}")

  override def dataType: DataType = BooleanType

  override def nullable: Boolean = false

  @transient private lazy val ids: Array[Long] = tombstones.value

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v == null || java.util.Arrays.binarySearch(ids, v.asInstanceOf[Long]) < 0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val bcRef = ctx.addReferenceObj("tombstonesBc", tombstones,
      classOf[Broadcast[_]].getName)
    val idsVar = ctx.addMutableState("long[]", "tombstoneIds",
      v => s"$v = (long[]) $bcRef.value();")
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = ${c.isNull} ||
        java.util.Arrays.binarySearch($idsVar, ${c.value}) < 0;""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NotTombstoned =
    copy(child = newChild)
}

object NotTombstoned {

  /** Column form over `c` cast to bigint. */
  def col(c: org.apache.spark.sql.Column,
      tombstones: Broadcast[Array[Long]]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(NotTombstoned(
      org.apache.spark.sql.GraftSqlBridge.expression(c.cast("long")),
      tombstones))
}
