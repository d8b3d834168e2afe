package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A timed call into one layer; `parent` is the span that caused it (0 for
  * none).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory for the whole run and written out once at the end. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger

  def add(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    buf.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs))

  /** Runs `f` with the id its span will carry, so children can name it. */
  def time[A](name: String, parent: Int = 0)(f: Int => A): A = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try f(id) finally buf.add(Span(id, parent, name, t0, System.nanoTime()))
  }

  def clear(): Unit = buf.clear()

  def named(name: String): Vector[Span] =
    buf.asScala.filter(_.name == name).toVector.sortBy(_.startNs)

  def ms(name: String): Vector[Double] = named(name).map(_.ms)

  def write(path: Path): Unit = {
    val lines = buf.asScala.toVector.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** One received progress report of a data-carrying micro-batch. */
final case class Progress(runId: UUID, batchId: Long, receivedNs: Long, p: StreamingQueryProgress) {
  def duration(key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0d)
}

/** Streaming progress through Spark's public listener API; both traced and
  * untraced runs need it, since commit latency is read from it.
  */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Progress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.durationMs.containsKey("addBatch"))
      events.add(Progress(e.progress.runId, e.progress.batchId, System.nanoTime(), e.progress))

  def of(runId: UUID): Vector[Progress] =
    events.asScala.filter(_.runId == runId).toVector.sortBy(_.batchId)
}

/** Summed task metrics of one group of jobs. */
final class Totals {
  var tasks, cpuNs, gcMs, shuffleBytes, spillBytes, inputBytes, inputRecords,
      outputBytes = 0L
}

/** The traced run's SparkListener: task metrics summed per job group. The
  * benchmark's own threads set job groups per layer; a streaming query's
  * jobs carry its run id as their group.
  */
final class TaskCollector extends SparkListener {
  private val groupOfStage = mutable.HashMap.empty[Int, String]
  private val byGroup = mutable.HashMap.empty[String, Totals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(groupOfStage(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = groupOfStage.getOrElse(e.stageId, "none")
      Seq(g, TaskCollector.All).foreach { k =>
        val t = byGroup.getOrElseUpdate(k, new Totals)
        t.tasks += 1
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def group(g: String): Totals = synchronized(byGroup.getOrElse(g, new Totals))

  def reset(): Unit = synchronized(byGroup.clear())
}

object TaskCollector {
  val All = "*"
}
