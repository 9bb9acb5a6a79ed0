package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a benchmark call into one layer of the library. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L,
    extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

/** Task counters summed per span tag. */
final class Counters {
  var tasks = 0L
  var emptyTasks = 0L
  var execCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var jobs = 0L
  /** (start, end) epoch ms of every job run under the tag. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** A SparkListener the benchmark owns. Each job carries the id of the
  * span that submitted it as a local property; stages inherit it from
  * their job, and every finished task adds its metrics to that span. */
final class SpanListener extends SparkListener {
  val counters = mutable.HashMap.empty[Int, Counters]
  private val stageTag = mutable.HashMap.empty[Int, Int]
  private val jobTag = mutable.HashMap.empty[Int, (Int, Long)]

  private def tagOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Property))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { t =>
      e.stageIds.foreach(stageTag(_) = t)
      jobTag(e.jobId) = (t, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (t, start) =>
      val c = counters.getOrElseUpdate(t, new Counters)
      c.jobs += 1
      c.jobIntervals += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageTag.get(e.stageId).foreach { t =>
      val c = counters.getOrElseUpdate(t, new Counters)
      c.tasks += 1
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      if (read == 0) c.emptyTasks += 1
      c.execCpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }
}

/** Span recorder. Spans are kept in memory and written once at the end
  * of the run. A disabled tracer runs the body and records nothing, so
  * untraced passes pay no tagging cost. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new SpanListener
  private var enabled = false
  private var pass = -1
  private val stack = mutable.Stack.empty[Span]

  def on: Boolean = enabled

  /** Start a pass: the root span `pass`, whose children are the layer
    * calls. With `traced` false nothing is recorded. */
  def beginPass(i: Int, traced: Boolean): Unit = {
    enabled = traced
    pass = i
    if (traced) {
      sc.addSparkListener(listener)
      open("pass")
    }
  }

  def endPass(): Unit = if (enabled) {
    close()
    org.apache.spark.BusDrain(sc)
    sc.removeSparkListener(listener)
    sc.setLocalProperty(Tracer.Property, null)
    enabled = false
  }

  private def open(name: String): Span = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val sp = Span(spans.size, name, parent, pass,
      System.currentTimeMillis(), System.nanoTime())
    spans += sp
    stack.push(sp)
    sc.setLocalProperty(Tracer.Property, sp.id.toString)
    sp
  }

  private def close(): Unit = {
    val sp = stack.pop()
    sp.endNs = System.nanoTime()
    sp.endMs = System.currentTimeMillis()
    sc.setLocalProperty(Tracer.Property,
      stack.headOption.map(_.id.toString).orNull)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      open(name)
      try body finally close()
    }

  /** Attach a measured value (bytes, counts) to the innermost span.
    * By name, so an untraced pass never computes it. */
  def note(key: String, value: => Double): Unit =
    if (enabled) stack.head.extra(key) = value

  /** In traced passes, materialize a lazy frame at the span boundary so
    * its work is charged to the span that built it. */
  def force(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (enabled) df.localCheckpoint(eager = true) else df
}

object Tracer {
  val Property = "perfbench.span"
}
