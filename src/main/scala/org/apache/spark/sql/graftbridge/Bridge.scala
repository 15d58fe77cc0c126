package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Access bridge for `private[sql]` Column↔Expression conversion in
  * Spark 4.x classic — the supported pattern for libraries that define
  * native Catalyst expressions. */
object Bridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
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
