package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.tools.TaskRecords

/** In-memory spans for one traced run. Each span has a name, start, end,
  * the span open when it started (its parent) and the run's shared id;
  * `counted` spans also carry task-listener counts taken at the same
  * boundary. Nothing is written until [[write]], at the end of the run.
  */
final class Tracer(val runId: String) {
  final class Span(val id: Int, val parent: Int, val name: String,
      val start: Long, var end: Long = 0L) {
    val counts = mutable.LinkedHashMap.empty[String, Double]
    def seconds: Double = (end - start) / 1e9
  }

  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[T](name: String)(body: => T): T = timed(name)(body)._1

  private def timed[T](name: String)(body: => T): (T, Span) = {
    val s = new Span(spans.size, parentId, name, System.nanoTime())
    spans += s
    open = s :: open
    try (body, s) finally {
      s.end = System.nanoTime()
      open = open.tail
    }
  }

  private def parentId: Int = open.headOption.map(_.id).getOrElse(-1)

  /** A span whose tasks are counted through `TaskRecords.measureWith`. The
    * listener's drain (waiting out the asynchronous event bus) follows the
    * span and is recorded as its own `trace.drain` span, so it is neither
    * in this span nor in its parent's self time.
    */
  def counted[T](spark: SparkSession, name: String)(body: => T): T = {
    val tasks, gcMs, shuffleW, spill, records = new AtomicLong
    var s: Span = null
    val r = TaskRecords.measureWith(spark) { m =>
      tasks.incrementAndGet()
      gcMs.addAndGet(m.jvmGCTime)
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      records.addAndGet(m.inputMetrics.recordsRead)
      ()
    } {
      val (v, sp) = timed(name)(body)
      s = sp
      v
    }
    spans += new Span(spans.size, parentId, "trace.drain", s.end, System.nanoTime())
    s.counts ++= Seq("tasks" -> tasks.get.toDouble, "gc_s" -> gcMs.get / 1e3,
      "shuffle_write_mb" -> shuffleW.get / 1e6, "spill_mb" -> spill.get / 1e6,
      "records" -> records.get.toDouble)
    r
  }

  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Span time minus the time its child spans cover (children of one
    * parent run one after another, so their durations add up).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def childSeconds(s: Span, name: String): Double =
    spans.filter(c => c.parent == s.id && c.name == name).map(_.seconds).sum

  def write(path: String): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq(
        "run" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name),
        "start_s" -> Json.num((s.start - origin) / 1e9),
        "end_s" -> Json.num((s.end - origin) / 1e9),
        "self_s" -> Json.num(selfSeconds(s)),
        "counts" -> Json.obj(s.counts.map { case (k, v) => k -> Json.num(v) })))
    }
    Common.writeFile(path, lines.mkString("", "\n", "\n"))
  }
}
