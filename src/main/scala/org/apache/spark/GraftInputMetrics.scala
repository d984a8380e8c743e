package org.apache.spark

/** `InputMetrics.incRecordsRead`/`incBytesRead` are private[spark]; a
  * reader that opens files itself inside a task (rather than through a
  * file-source scan, which reports them) uses this bridge so the task's
  * input counters still show what it read.
  */
object GraftInputMetrics {
  /** Counts one record of `bytes` bytes read by the running task (a
    * no-op outside a task).
    */
  def recordRead(bytes: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().inputMetrics
      m.incRecordsRead(1L)
      m.incBytesRead(bytes)
    }
}
