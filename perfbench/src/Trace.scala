package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and counters of the traced run.
  *
  * Spans (name, start, end, parent) are recorded around the calls the
  * benchmark makes into each layer, kept in memory, and written out
  * once at the end. The two listeners are Spark's public hooks: task
  * metrics are attributed to the layer label set with [[Trace.label]]
  * on the calling thread, and every micro-batch progress of a
  * streaming query is kept. With tracing off nothing is recorded and
  * no listener is registered.
  */
final class Trace(val on: Boolean) {
  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger()
  private val parent = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
  private val t0 = System.nanoTime()

  /** Gate for all recording: a traced run switches it off around the
    * untraced passes it compares against. */
  @volatile var recording: Boolean = on

  /** Run `f` inside a span; nests under the caller's open span. */
  def span[T](name: String)(f: => T): T =
    if (!(on && recording)) f
    else {
      val id = ids.incrementAndGet()
      val up = parent.get()
      parent.set(id)
      val start = System.nanoTime()
      try f
      finally {
        val end = System.nanoTime()
        parent.set(up)
        spans.synchronized { spans += Span(id, name, start - t0, end - t0, up) }
      }
    }

  /** Per-label task totals from the SparkListener. */
  val tasks = new ConcurrentHashMap[String, TaskTotals]()
  /** Progress of every micro-batch that read at least one row. */
  val progress = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  def attach(spark: SparkSession): Unit = if (on) {
    val stageLabel = new ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val l = Option(e.properties).flatMap(p => Option(p.getProperty(LabelKey)))
          .getOrElse("other")
        e.stageIds.foreach(id => stageLabel.put(id, l))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (recording && m != null) {
          val t = tasks.computeIfAbsent(stageLabel.getOrDefault(e.stageId, "other"),
            _ => new TaskTotals)
          t.synchronized {
            t.cpuNs += m.executorCpuTime
            t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            t.gcMs += m.jvmGCTime
          }
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (recording && e.progress.numInputRows > 0) progress.synchronized { progress += e }
    })
  }

  /** Label the Spark jobs started from this thread (and from threads it
    * starts afterwards) for the task-metric split. */
  def label(spark: SparkSession, l: String): Unit =
    if (on) spark.sparkContext.setLocalProperty(LabelKey, l)

  /** The progress recorded so far; clears it. */
  def takeProgress(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.synchronized { val ps = progress.toList.map(_.progress); progress.clear(); ps }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.synchronized(spans.sortBy(_.start).toList).foreach { s =>
      sb.append(Json.of(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent))).append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int)
  final class TaskTotals {
    var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var gcMs = 0L
  }
  val LabelKey = "perfbench.layer"
}
