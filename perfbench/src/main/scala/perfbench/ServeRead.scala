package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.etl.SearchIndex
import graft.search.QueryDsl

/** `serve_read`: closed-loop `_search` / `_msearch` requests against a
  * fixed, prebuilt BM25 index and its source table, from four clients over
  * the whole request mix, then BM25 requests from one client. Runs no
  * streaming or ingest code. The traced run then runs the registry's
  * headline queries ([[Analytics]]), so the `queries` and `plans` layers
  * are measured too.
  */
object ServeRead {
  final case class Req(kind: String, bodies: Seq[String])
  final case class Sample(phase: String, kind: String, i: Int, ms: Double, compileMs: Double,
      files: Long, repeat: Boolean)

  val Clients = 4
  val Warmup = 30   // requests from 4 clients, ten of each kind
  val Checked = 6   // requests whose answers are compared before and after the measured phases

  def apply(c: Ctx): Unit = {
    implicit val fmt: Formats = DefaultFormats
    val reqs = {
      val src = Source.fromFile(s"${c.in}/requests.jsonl", "UTF-8")
      try src.getLines().map { l =>
        val j = parse(l)
        Req((j \ "kind").extract[String], (j \ "bodies").extract[Seq[String]])
      }.toVector finally src.close()
    }

    // a request is a repeat when the same request came earlier in the stream
    val firstSeen = reqs.zipWithIndex.groupMapReduce(_._1)(_._2)(math.min)

    val t0 = System.nanoTime()
    val spark = c.trace("setup", "spark", "GraftSession.get")(c.session())
    val sessionS = Util.since(t0)
    // data preparation, not set-up: the corpus as the parquet table a
    // deployment would serve from
    val src = s"${c.work}/corpus"
    spark.read.schema("doc_id LONG, text STRING, n_chars LONG")
      .json(s"${c.in}/corpus.jsonl").write.parquet(src)
    val table = spark.read.parquet(src)
    val corpusText = table.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(' ').toSet).toMap
    val idx = s"${c.work}/index"

    val b0 = System.nanoTime()
    c.tagged("setup:build") {
      c.trace("setup", "etl", "SearchIndex.build")(SearchIndex.build(table, "doc_id", "text", idx))
    }
    val buildS = Util.since(b0)

    def compile(r: Req): DataFrame = r.kind match {
      case "bm25" => QueryDsl.searchIndexed(spark, idx, r.bodies.head)
      case "table" => QueryDsl.search(table, r.bodies.head)
      case _ => QueryDsl.msearch(table, r.bodies)
    }

    val samples = new ConcurrentLinkedQueue[Sample]()
    def serve(phase: String, i: Int): Option[Array[Row]] = {
      val r = reqs(i % reqs.size)
      val op = s"$phase-$i"
      c.attempted.incrementAndGet()
      try {
        val s0 = System.nanoTime()
        c.trace(op, "bench", r.kind) {
          val df = c.tagged(s"compile:${r.kind}:$op") {
            c.trace(op, "search", "QueryDsl." + r.kind)(compile(r))
          }
          val compileMs = (System.nanoTime() - s0) / 1e6
          c.tagged(s"run:${r.kind}:$op") {
            if (c.trace.on) {
              c.trace(op, "spark", "optimize")(df.queryExecution.optimizedPlan)
              c.trace(op, "spark", "plan")(df.queryExecution.executedPlan)
            }
            val rows = c.trace(op, "spark", "execute")(df.collect())
            val ms = (System.nanoTime() - s0) / 1e6
            samples.add(Sample(phase, r.kind, i, ms, compileMs,
              if (c.trace.on) Util.filesRead(df) else 0L, firstSeen(r) < i % reqs.size))
            Some(rows)
          }
        }
      } catch {
        case e: Exception =>
          c.failed.incrementAndGet()
          System.err.println(s"[perfbench] request $i (${r.kind}) failed: ${e.getMessage}")
          None
      }
    }

    val next = new AtomicInteger(0)
    val firstAnswers = new ConcurrentHashMap[Int, Seq[Row]]()
    /** Serves the stream's requests (of `kind` only, if given) from
      * `clients` threads until `stop` says so.
      */
    def phase(name: String, clients: Int, stop: => Boolean, kind: Option[String] = None): Double = {
      val start = System.nanoTime()
      val threads = (0 until clients).map { _ =>
        new Thread(() => while (!stop) {
          val i = next.getAndIncrement()
          if (kind.forall(_ == reqs(i % reqs.size).kind))
            serve(name, i).foreach(rows => if (i < Checked) firstAnswers.put(i, rows.toSeq))
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      Util.since(start)
    }
    def window(secs: Double): () => Boolean = {
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      () => System.nanoTime() >= deadline
    }

    // warm-up, so the driver's code paths are compiled before timing
    val w0 = System.nanoTime()
    phase("warmup", Clients, next.get >= Warmup)
    val warmS = Util.since(w0)
    c.rec("setup_s") = sessionS + buildS + warmS
    c.rec("setup_parts_s") = Map("session" -> sessionS, "build" -> buildS, "warmup" -> warmS)

    c.markHeap()
    val g0 = Jvm.gcMs
    // four clients over the whole mix first: their requests also take the
    // single client further along the JIT's warm-up, where its latency
    // drifts less; the single client serves BM25 requests only, for the
    // larger part of the window, so the latency median rests on as many
    // samples as the window allows
    val c4Done = window(c.seconds * 0.4)
    val c4S = phase("c4", Clients, c4Done())
    val c1Done = window(c.seconds * 0.6)
    val c1S = phase("c1", 1, c1Done(), kind = Some("bm25"))
    c.rec("gc_ms") = Jvm.gcMs - g0
    c.markHeap()
    c.rec("phase_s") = Map("c1" -> c1S, "c4" -> c4S)

    // the same requests must give the same answers after the measured
    // phases, and every BM25 hit must contain a query term
    val after = (0 until Checked).map(i => serve("recheck", i).map(_.toSeq))
    c.check("answers_stable", (0 until Checked).map(i => Option(firstAnswers.get(i))) == after,
      s"answers to requests 0..${Checked - 1}: first seen vs after the measured phases")
    val badHits = (0 until Checked).filter(i => reqs(i).kind == "bm25").flatMap { i =>
      val terms = (parse(reqs(i).bodies.head) \ "query" \ "match" \ "text" \ "query")
        .extract[String].split(' ').toSet
      after(i).toSeq.flatten.filterNot(r => corpusText(r.getAs[Long]("doc_id")).exists(terms))
    }
    c.check("bm25_hits_match", badHits.isEmpty, s"${badHits.size} hits share no query term")

    c.rec("samples") = samples.asScala.toSeq.map(s => Map("phase" -> s.phase, "kind" -> s.kind,
      "i" -> s.i, "ms" -> s.ms, "compile_ms" -> s.compileMs, "files" -> s.files, "repeat" -> s.repeat))
    val (files, bytes) = Util.storeSize(idx)
    val (postings, _) = Util.storeSize(s"$idx/postings")
    val (docs, _) = Util.storeSize(s"$idx/docs")
    c.rec("store") = Map("files" -> files, "bytes" -> bytes, "postings_files" -> postings,
      "docs_files" -> docs, "docs" -> corpusText.size)

    if (c.trace.on) Analytics(c)
  }
}
