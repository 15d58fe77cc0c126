package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Access bridge for `private[sql]` Column↔Expression conversion in
  * Spark 4.x classic — the supported pattern for libraries that define
  * native Catalyst expressions. */
object Bridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  /** Converts now: `ExpressionUtils.expression` may return a lazy
    * `ColumnNodeExpression`, which a SQL function builder's result never
    * gets converted from (codegen then fails on it). */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
  /** Spark's own analysis error for a call with the wrong arity. */
  def wrongNumArgs(name: String, arity: Int, actual: Int): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors.wrongNumArgsError(name, Seq(arity), actual)
}

/** Task input bytes for a scan that opens its files itself: the bytes
  * Hadoop file systems read on the task's thread, counted when the task
  * completes — the count Spark's own file scans report (its callback
  * and the metrics setter are `private[spark]`). */
object InputBytes {
  def track(ctx: org.apache.spark.TaskContext): Unit = {
    val metrics = ctx.taskMetrics().inputMetrics
    val base = metrics.bytesRead
    val read = org.apache.spark.deploy.SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    ctx.addTaskCompletionListener[Unit](_ => metrics.setBytesRead(base + read()))
  }
}
