package org.apache.spark.graftbridge

import org.apache.spark.TaskContext

/** `private[spark]` access shim (same pattern as ListenerBridge): lets a
  * source that is not a Spark file scan report the rows it read as the
  * running task's input records, as `FileScanRDD` does. */
object TaskMetricsBridge {
  def addRecordsRead(n: Long): Unit =
    Option(TaskContext.get()).foreach(_.taskMetrics().inputMetrics.incRecordsRead(n))
}
