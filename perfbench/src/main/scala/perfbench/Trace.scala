package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener counts for one (pass, key, phase) tag. Written only by the
  * listener-bus thread; read by the run thread after a bus flush. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var maxTaskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Job/stage/task counts per tag. Each job carries the tag the run thread
  * set as a local property before the phase that launched it, so jobs are
  * attributed to construct/plan/exec by where they were submitted, not by
  * when the asynchronous bus delivered them. */
final class LayerListener extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val counts = new ConcurrentHashMap[String, Counts]()

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(LayerListener.TagProperty)))
      .getOrElse("untagged")
  private def of(tag: String): Counts = counts.computeIfAbsent(tag, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    of(tagOf(e.properties)).jobs += 1

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tag = tagOf(e.properties)
    stageTag.put(e.stageInfo.stageId, tag)
    of(tag).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageTag.getOrDefault(e.stageId, "untagged"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.maxTaskMs = math.max(c.maxTaskMs, m.executorRunTime)
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  /** Counts for a tag, after every event posted so far has been delivered. */
  def take(sc: SparkContext, tag: String): Counts = {
    org.apache.spark.PerfbenchBus.flush(sc)
    Option(counts.remove(tag)).getOrElse(new Counts)
  }
}

object LayerListener {
  val TagProperty = "perfbench.tag"
}

private final case class Span(id: Int, parent: Int, kind: String,
    name: String, startNs: Long, var endNs: Long)

/** In-memory spans, written out once when the run ends. */
final class Spans(runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val origin = System.nanoTime()

  def open(kind: String, name: String, parent: Int): Int = {
    spans += Span(spans.size, parent, kind, name, System.nanoTime(), -1L)
    spans.size - 1
  }
  def close(id: Int): Unit = spans(id).endNs = System.nanoTime()

  /** A span whose bounds were taken around a call the run cannot wrap. */
  def record(kind: String, name: String, parent: Int, startNs: Long, endNs: Long): Int = {
    spans += Span(spans.size, parent, kind, name, startNs, endNs)
    spans.size - 1
  }

  def write(path: String): Unit = {
    val rows = spans.map { s =>
      scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "run" -> runId, "kind" -> s.kind,
        "name" -> s.name, "start_s" -> (s.startNs - origin) / 1e9,
        "end_s" -> (s.endNs - origin) / 1e9)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json.render(rows))
  }
}
