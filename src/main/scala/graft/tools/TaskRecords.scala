package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Records-read measurement for a Spark action — THE one task-metrics
  * listener shared by Bench's x_cdf A/B rows and the 100× soak specs
  * (they previously carried drifting hand copies). The listener bus
  * delivers task ends asynchronously, so after the action returns the
  * counter is drained by CONVERGENCE — stable across consecutive poll
  * windows — rather than a fixed sleep, which silently undercounts
  * whenever a loaded box drains slower than the chosen constant.
  */
object TaskRecords {

  /** Run `body` with `onTask` observing every completed task's metrics,
    * then DRAIN by convergence — the task-end COUNT stable across 3
    * consecutive 100 ms polls (>= 400 ms total, bounded at 10 s). Jobs
    * are done once body returns; this only waits out the bus. Counts
    * everything the session runs concurrently — callers serialize
    * measured actions, as all call sites do.
    */
  def measureWith[T](spark: SparkSession)(
      onTask: org.apache.spark.executor.TaskMetrics => Unit)(body: => T): T =
    listen(spark, onTask, () => ())(body)

  private def listen[T](spark: SparkSession,
      onTask: org.apache.spark.executor.TaskMetrics => Unit,
      onJob: () => Unit)(body: => T): T = {
    val seen = new AtomicLong
    val lsn = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = onJob()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        seen.incrementAndGet()
        if (te.taskMetrics != null) onTask(te.taskMetrics)
      }
    }
    spark.sparkContext.addSparkListener(lsn)
    try {
      val r = body
      var last = -1L
      var stable = 0
      var polls = 0
      while (stable < 3 && polls < 100) {
        Thread.sleep(100)
        polls += 1
        val cur = seen.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      r
    } finally spark.sparkContext.removeSparkListener(lsn)
  }

  /** (result, records read by the tasks `body` triggered). */
  def measure[T](spark: SparkSession)(body: => T): (T, Long) = {
    val recs = new AtomicLong
    val r = measureWith(spark)(m => { recs.addAndGet(m.inputMetrics.recordsRead); () })(body)
    (r, recs.get())
  }

  /** Load-independent WORK counters for one measured action (round-17
    * verdict #4: at bench SF, wall-clock deltas drown in host load —
    * these are what stays comparable round over round, like the
    * existing `_recs` rows proved). All task-summed, plus the jobs
    * started. */
  final case class Work(tasks: Long, records: Long,
      shuffleReadB: Long, shuffleWriteB: Long, jobs: Long)

  /** (result, work counters of the tasks `body` triggered). */
  def measureWork[T](spark: SparkSession)(body: => T): (T, Work) = {
    val tasks = new AtomicLong
    val recs = new AtomicLong
    val shR = new AtomicLong
    val shW = new AtomicLong
    val jobs = new AtomicLong
    val r = listen(spark, m => {
      tasks.incrementAndGet()
      recs.addAndGet(m.inputMetrics.recordsRead)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      ()
    }, () => { jobs.incrementAndGet(); () })(body)
    (r, Work(tasks.get(), recs.get(), shR.get(), shW.get(), jobs.get()))
  }
}
