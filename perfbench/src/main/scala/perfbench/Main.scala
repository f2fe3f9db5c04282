package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Runs one workload against the engine's public entry points and writes
  * every raw sample to a JSON file; `run.py` turns the samples into the
  * reported metrics.
  *
  * Usage: `perfbench.Main --workload <name> --input <dir> --work <dir>
  * --seconds <s> --trace <0|1> --out <file>`. `input` holds the generated
  * files, `work` is scratch space for the engine's stores and checkpoints.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val c = new Ctx(opt("input"), opt("work"), opt("seconds").toDouble, opt("trace") == "1")
    val ok =
      try {
        opt("workload") match {
          case "serve_read" => ServeRead(c)
          case "pipeline_write" => PipelineWrite(c)
          case other => sys.error(s"unknown workload $other")
        }
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          c.check("run", ok = false, String.valueOf(e.getMessage))
          false
      }
    c.finish(opt("out"))
    if (!ok) sys.exit(1)
  }
}

/** State shared by a run: the session, the probes, and the record. */
final class Ctx(val in: String, val work: String, val seconds: Double, tracing: Boolean) {
  val rec = mutable.LinkedHashMap[String, Any]()
  val attempted, failed = new AtomicLong
  val checks = mutable.LinkedHashMap[String, Any]()
  val trace = new Tracer(tracing)
  val progress = new ProgressLog
  val probe = new Probe(q => Option(progress.sinks.get(q)))
  private var heapPeak = 0L
  private var sparkOpt: Option[SparkSession] = None

  def spark: SparkSession = sparkOpt.get

  /** Starts the engine's session; the caller times it as set-up. */
  def session(): SparkSession = {
    val s = graft.GraftSession.get()
    s.sparkContext.addSparkListener(probe)
    s.streams.addListener(progress)
    sparkOpt = Some(s)
    s
  }

  /** Samples the live heap; called outside timed windows, since it forces a collection. */
  def markHeap(): Unit = heapPeak = math.max(heapPeak, Jvm.liveHeapBytes())

  def tagged[T](tag: String)(body: => T): T = Probe.tagged(spark.sparkContext, tag)(body)

  /** A correctness check; each one counts as an attempted operation. */
  def check(name: String, ok: Boolean, detail: Any = ""): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      System.err.println(s"[perfbench] check $name failed: $detail")
    }
    checks(name) = Map("ok" -> ok, "detail" -> detail.toString)
  }

  def finish(out: String): Unit = {
    sparkOpt.foreach { s =>
      rec("env") = Map(
        "master" -> s.sparkContext.master,
        "cores" -> s.sparkContext.defaultParallelism.toString,
        "shuffle_partitions" -> s.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> s.version,
        "java_version" -> System.getProperty("java.version"))
      s.streams.active.foreach(_.stop())
      s.stop() // drains the listener bus, so every count below is complete
    }
    rec("heap_peak_bytes") = heapPeak
    rec("attempted") = attempted.get
    rec("failed") = failed.get
    rec("checks") = checks
    rec("counts") = probe.byTag.asScala.map { case (k, v) => k -> v.toMap }.toMap
    rec("progress") = progress.events.asScala.toSeq.map(p => Map(
      "sink" -> p.sink, "arrived_ms" -> p.arrivedMs, "batch" -> p.batchId,
      "rows" -> p.inputRows, "durations" -> p.durations, "start_ms" -> p.startMs))
    rec("trace_origin_ms") = trace.originWallMs
    rec("spans") = trace.spans.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
      "start_ms" -> (s.startNs - trace.originNs) / 1e6, "end_ms" -> (s.endNs - trace.originNs) / 1e6))
    implicit val fmt: Formats = DefaultFormats
    Files.writeString(Paths.get(out), Serialization.write(rec))
  }
}

object Util {
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The file scans an executed query ran, one per scan: deduplicated by
    * metric id, so a reused exchange or a stage under several consumers
    * counts once.
    */
  def fileScans(df: DataFrame): Seq[FileSourceScanExec] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
      .groupBy(_.metrics("numOutputRows").id).values.map(_.head).toSeq
  }

  /** Files a query's scans opened. */
  def filesRead(df: DataFrame): Long = fileScans(df).flatMap(_.metrics.get("numFiles")).map(_.value).sum

  /** The files in each `<column>=<value>` directory under `dir`. */
  def bucketFiles(dir: String): Map[String, Set[String]] = {
    def list(p: java.nio.file.Path) = Using.resource(Files.list(p))(_.iterator().asScala.toSeq)
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Map.empty
    else list(p).filter(Files.isDirectory(_)).map(b =>
      b.getFileName.toString -> list(b).map(_.getFileName.toString).toSet).toMap
  }

  /** File count and bytes of every regular file under `dir`. */
  def storeSize(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(f => f.getFileName.toString.startsWith(".")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
  }
}
