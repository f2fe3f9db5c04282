package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work Spark did for one tag: a request, an epoch of one sink, a query. */
final class Counts {
  val jobs, stages, tasks, runMs, schedMs, shuffleBytes, spillBytes, writtenBytes = new AtomicLong
  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "run_ms" -> runMs.get, "sched_delay_ms" -> schedMs.get,
    "shuffle_bytes" -> shuffleBytes.get, "spill_bytes" -> spillBytes.get,
    "written_bytes" -> writtenBytes.get)
}

/** Attributes Spark's job, stage and task events to the tag of the thread
  * that caused them. The benchmark tags its own threads through the local
  * property [[Probe.TagKey]]; a streaming sink's jobs carry the query id
  * and batch id, which become the tag `<sink>:<batch>`.
  */
final class Probe(sinkOf: String => Option[String]) extends SparkListener {
  val byTag = new ConcurrentHashMap[String, Counts]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def counts(tag: String) = byTag.computeIfAbsent(tag, _ => new Counts)

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      Option(p.getProperty(Probe.TagKey)).orElse(
        Option(p.getProperty(Probe.QueryIdKey)).map { q =>
          sinkOf(q).getOrElse("stream") + ":" + p.getProperty(Probe.BatchIdKey, "?")
        })
    }.getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    counts(tag).jobs.incrementAndGet()
    e.stageIds.foreach(stageTag.put(_, tag))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counts(stageTag.getOrDefault(e.stageInfo.stageId, "untagged")).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageTag.getOrDefault(e.stageId, "untagged"))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.schedMs.addAndGet(math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime))
      c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.writtenBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
}

object Probe {
  val TagKey = "perfbench.tag"
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"

  /** Milliseconds on the JVM's monotonic clock, with sub-millisecond digits. */
  def nowMs: Double = System.nanoTime() / 1e6

  /** Runs `body` with the calling thread's Spark jobs tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }
}

/** One streaming progress event as it arrived on the driver. `arrivedMs` is
  * on the monotonic clock of [[Probe.nowMs]]; `startMs`, the trigger's
  * start, is wall-clock time.
  */
final case class Progress(sink: String, arrivedMs: Double, batchId: Long,
    inputRows: Long, durations: Map[String, Long], startMs: Long)

/** Collects the progress events of the sinks the benchmark started. */
final class ProgressLog extends StreamingQueryListener {
  val sinks = new ConcurrentHashMap[String, String]() // query id -> sink
  val events = new ConcurrentLinkedQueue[Progress]()
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val sink = Option(sinks.get(p.id.toString)).getOrElse("stream")
    events.add(Progress(sink, Probe.nowMs, p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      java.time.Instant.parse(p.timestamp).toEpochMilli))
  }
  /** The last data-bearing batch `sink` committed, or -1. */
  def lastCommitted(sink: String): Long =
    events.asScala.filter(p => p.sink == sink && p.inputRows > 0).map(_.batchId).maxOption.getOrElse(-1L)
}

/** The JVM's collector time, and its live heap after a full collection. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap still in use after forced collections: repeatable where raw usage
    * is not. The second collection frees what Spark's context cleaner
    * released after the first one (broadcasts, shuffles, cached blocks).
    */
  def liveHeapBytes(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** A timed call into one layer: name, layer, operation id, start, end, parent. */
final case class Span(id: Long, parent: Long, op: String, name: String, layer: String,
    startNs: Long, endNs: Long)

/** Keeps spans in memory when tracing; otherwise only runs the body. */
final class Tracer(val on: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val originNs: Long = System.nanoTime()
  val originWallMs: Long = System.currentTimeMillis()

  def apply[T](op: String, layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), op, name, layer, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def current: Long = stack.get.headOption.getOrElse(0L)
}
