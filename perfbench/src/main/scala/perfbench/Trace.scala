package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `parent` is the enclosing
  * span's id (0 at top level); `op` is the benchmark op it belongs to. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Disabled, it only runs the body; enabled, it keeps
  * every span in memory and tags the Spark jobs started inside a span
  * with the span's id (a job-submission local property), so the
  * [[ExecListener]] can charge their stages and tasks to it. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var next = 1
  private var stack: List[Int] = Nil

  def apply[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Tracer.Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, op, parent, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.toString).orNull)
      }
    }

  def writeJsonl(path: java.nio.file.Path, t0: Long): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= f"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},"start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val Key = "perfbench.span"
}

/** Execution counters of one span. */
final class ExecCounts {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill = new AtomicLong
}

/** Charges jobs, completed stages and finished tasks to the span that
  * submitted them (see [[Tracer]]). Untagged work lands on span 0. */
final class ExecListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Int, ExecCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  def of(span: Int): ExecCounts = bySpan.computeIfAbsent(span, _ => new ExecCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(0)
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
    of(span).jobs.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageSpan.getOrDefault(e.stageInfo.stageId, 0)).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageId, 0))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Streaming progress counters. Registered through
  * `spark.sql.streaming.streamingQueryListeners`, so it also sees the
  * queries the engine starts on child sessions. */
class StreamStats extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    StreamStats.started.put(e.id.toString, java.time.Instant.parse(e.timestamp).toEpochMilli)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    StreamStats.batches.incrementAndGet()
    StreamStats.inputRows.addAndGet(p.numInputRows)
    StreamStats.batchMs.addAndGet(p.batchDuration)
    if (StreamStats.firstSeen.add(p.id.toString)) {
      val st = StreamStats.started.get(p.id.toString)
      if (st != 0L) StreamStats.startupMs.addAndGet(
        java.time.Instant.parse(p.timestamp).toEpochMilli - st)
      StreamStats.queries.incrementAndGet()
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object StreamStats {
  val started = new ConcurrentHashMap[String, Long]()
  val firstSeen: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val batches, inputRows, batchMs, startupMs, queries = new AtomicLong
}
