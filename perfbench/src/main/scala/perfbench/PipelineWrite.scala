package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.etl.{DdbJson, IngestPipeline, SearchIndex}
import graft.operators.IvfIndex
import graft.search.QueryDsl
import graft.streaming.{CdcStream, StreamingSearchIndex}

/** `pipeline_write`: the reference dataflow with no reads. Backfill
  * (ingest, then the BM25 and IVF bootstrap) followed by a closed loop of
  * CDC epoch files through three stream sinks: the `CdcStream` LWW table,
  * the BM25 index and the IVF index. The next epoch lands once all three
  * sinks committed the previous one.
  */
object PipelineWrite {
  val Buckets = 64
  val CompactEvery = 16 // the BM25 sink compacts every bucket on these batches
  val Ivf = IvfIndex.Params(nlist = 16, nprobe = 4)
  val Sinks = Seq("cdc_table", "bm25", "ivf")

  private implicit val fmt: Formats = DefaultFormats

  private def lines(path: String): Vector[String] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  def apply(c: Ctx): Unit = {
    val exportDir = s"${c.in}/export"
    val items = Files.list(Paths.get(exportDir)).iterator().asScala
      .map(p => lines(p.toString).size.toLong).sum
    val epochFiles = Files.list(Paths.get(s"${c.in}/epochs")).iterator().asScala
      .map(_.toString).toVector.sorted
    val (ingestDir, textDir, vecDir, cdcDir, eventsDir, ckpt) = (s"${c.work}/ingest",
      s"${c.work}/bm25", s"${c.work}/ivf", s"${c.work}/cdc", s"${c.work}/events", s"${c.work}/ckpt")

    val t0 = System.nanoTime()
    val spark = c.trace("setup", "spark", "GraftSession.get")(c.session())
    val sessionS = Util.since(t0)

    // ---- backfill ----
    val b0 = System.nanoTime()
    val ingest = c.tagged("backfill:decode_route") {
      c.trace("backfill", "etl", "IngestPipeline.fromRaw")(
        IngestPipeline.fromRaw(DdbJson.readExport(spark, exportDir)))
    }
    val decodeS = Util.since(b0)
    val m0 = System.nanoTime()
    c.tagged("backfill:materialize") {
      c.trace("backfill", "etl", "IngestPipeline.materialize")(IngestPipeline.materialize(ingest, ingestDir))
    }
    val materializeS = Util.since(m0)
    val docs = DdbJson.readExport(spark, exportDir).select(
      col("Item")("doc_id")("N").cast("long").as("doc_id"),
      col("Item")("text")("S").as("text"),
      transform(col("Item")("embedding")("L"), x => x("N").cast("float")).as("embedding"))
      .filter(col("doc_id").isNotNull)
    val x0 = System.nanoTime()
    c.tagged("backfill:bm25_build") {
      c.trace("backfill", "etl", "SearchIndex.build")(
        SearchIndex.build(docs, "doc_id", "text", textDir, buckets = Buckets))
    }
    val bm25S = Util.since(x0)
    val v0 = System.nanoTime()
    c.tagged("backfill:ivf_build") {
      c.trace("backfill", "operators", "IvfIndex.writeIndex")(
        IvfIndex.writeIndex(docs, "doc_id", "embedding", Ivf, vecDir))
    }
    val ivfS = Util.since(v0)
    val backfillS = Util.since(b0)

    // ---- streams: one change-event directory feeds all three sinks ----
    val s0 = System.nanoTime()
    Files.createDirectories(Paths.get(eventsDir))
    val queries: Seq[(String, StreamingQuery)] = c.trace("setup", "streaming", "start") {
      val flat = spark.readStream
        .schema("doc_id LONG, text STRING, embedding ARRAY<FLOAT>, _action STRING, _seq LONG")
        .json(eventsDir)
      Seq(
        "cdc_table" -> CdcStream.start(spark, eventsDir, cdcDir, s"$ckpt/cdc"),
        "bm25" -> StreamingSearchIndex.startText(
          flat.select("doc_id", "text", "_action", "_seq"), "doc_id", "text", textDir,
          s"$ckpt/bm25", buckets = Buckets, compactEvery = CompactEvery),
        "ivf" -> StreamingSearchIndex.startVectors(
          flat.select("doc_id", "embedding", "_action", "_seq"), "doc_id", "embedding", vecDir,
          s"$ckpt/ivf", p = Ivf))
    }
    queries.foreach { case (n, q) => c.progress.sinks.put(q.id.toString, n) }

    val epochs = mutable.ArrayBuffer[Map[String, Any]]()
    // the BM25 buckets each epoch rewrote, seen from outside: a bucket
    // directory whose file names changed was rewritten
    var layout = Seq("postings", "docs").map(d => d -> Util.bucketFiles(s"$textDir/$d")).toMap
    def rewritten(): Map[String, Int] = {
      val now = layout.keys.map(d => d -> Util.bucketFiles(s"$textDir/$d")).toMap
      val n = now.map { case (d, m) =>
        d -> (m.keySet ++ layout(d).keySet).count(b => m.get(b) != layout(d).get(b))
      }
      layout = now
      n
    }
    /** Lands epoch file `e` and waits until all three sinks committed it. */
    def land(e: Int, warmup: Boolean): Unit = {
      val op = s"epoch-$e"
      c.attempted.incrementAndGet()
      c.trace(op, "bench", "epoch") {
        // written beside the watched directory, then moved in whole with a
        // fresh modification time, so a trigger never lists a partial file
        val staged = Paths.get(s"$ckpt/staged-$e.json")
        Files.copy(Paths.get(epochFiles(e)), staged)
        Files.setLastModifiedTime(staged, FileTime.fromMillis(System.currentTimeMillis()))
        val after = Sinks.map(s => s -> c.progress.lastCommitted(s)).toMap
        val landMs = Probe.nowMs
        val l0 = System.nanoTime()
        Files.move(staged, Paths.get(eventsDir, f"epoch-$e%05d.json"), StandardCopyOption.ATOMIC_MOVE)
        try {
          queries.foreach(_._2.processAllAvailable())
          // progress events arrive on the listener bus just after the commit
          val until = System.nanoTime() + 30L * 1000000000L
          def done = Sinks.forall(s => c.progress.lastCommitted(s) > after(s))
          while (!done && System.nanoTime() < until) Thread.sleep(2)
          if (!done) sys.error(s"epoch $e: no progress")
          val wallS = Util.since(l0)
          val touched = rewritten()
          epochs += Map("epoch" -> e, "warmup" -> warmup, "land_ms" -> landMs, "after" -> after,
            "wall_s" -> wallS, "span" -> c.trace.current,
            "bm25_batch" -> c.progress.lastCommitted("bm25"),
            "term_buckets" -> touched("postings"), "doc_buckets" -> touched("docs"))
        } catch {
          case ex: Exception =>
            c.failed.incrementAndGet()
            System.err.println(s"[perfbench] epoch $e failed: ${ex.getMessage}")
        }
      }
    }
    // the first epoch pays the sinks' first-batch costs: it is set-up
    land(0, warmup = true)
    val streamS = Util.since(s0)
    c.rec("setup_s") = sessionS + backfillS + streamS
    c.rec("setup_parts_s") = Map("session" -> sessionS, "backfill" -> backfillS, "streams" -> streamS)
    c.rec("backfill") = Map("items" -> items, "s" -> backfillS, "decode_route_s" -> decodeS,
      "materialize_s" -> materializeS, "bm25_build_s" -> bm25S, "ivf_build_s" -> ivfS)

    // ---- closed loop ----
    c.markHeap()
    val g0 = Jvm.gcMs
    val loop0 = System.nanoTime()
    val deadline = loop0 + (c.seconds * 1e9).toLong
    var e = 1
    while (System.nanoTime() < deadline && e < epochFiles.size) {
      land(e, warmup = false)
      e += 1
    }
    c.rec("loop_s") = Util.since(loop0)
    c.rec("gc_ms") = Jvm.gcMs - g0
    c.markHeap()
    c.rec("epochs") = epochs.toSeq
    c.rec("events_per_epoch") = if (epochFiles.isEmpty) 0 else lines(epochFiles.head).size
    val landed = e
    queries.foreach(_._2.stop())

    // ---- correctness ----
    // driver-side LWW over the export and the events that landed, by sequence number
    val eventsByEpoch = epochFiles.take(landed).map(f => lines(f).map(parse(_)))
    val cdcLive = mutable.Map[(String, String), (Long, Option[String])]()
    val docLive = mutable.Map[Long, (Long, Option[String])]()
    docs.select("doc_id", "text").collect().foreach(r => docLive(r.getLong(0)) = (-1L, Some(r.getString(1))))
    eventsByEpoch.flatten.foreach { j =>
      val seq = (j \ "_seq").extract[Long]
      val key = ((j \ "Keys" \ "PK" \ "S").extract[String], (j \ "Keys" \ "SK" \ "S").extract[String])
      val id = (j \ "doc_id").extract[Long]
      val up = (j \ "_action").extract[String] == "upsert"
      if (cdcLive.get(key).forall(_._1 < seq))
        cdcLive(key) = (seq, if (up) Some((j \ "NewImage" \ "class" \ "S").extract[String]) else None)
      if (docLive.get(id).forall(_._1 < seq))
        docLive(id) = (seq, if (up) Some((j \ "text").extract[String]) else None)
    }
    val liveDocs = docLive.collect { case (id, (_, Some(t))) => (id, t) }.toSeq

    // the checks are independent Spark jobs: run them side by side
    val dlqRows = Future(spark.read.parquet(s"$ingestDir/dlq").count())
    val checks = Seq(
      "ingest_accounting" -> dlqRows.map { dlq =>
        val created = spark.read.parquet(s"$ingestDir/fare").count() +
          spark.read.parquet(s"$ingestDir/flight").count()
        (created + dlq == items, s"$created entities + $dlq dlq of $items")
      },
      "cdc_snapshot_lww" -> Future {
        val expected = cdcLive.collect { case ((pk, sk), (_, Some(v))) => (pk, sk, v) }.toSet
        val actual = CdcStream.readSnapshot(spark, cdcDir).map(_.select(
          col("PK"), col("SK"), col("item")("class")("S")).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet).getOrElse(Set.empty)
        (actual == expected, s"${actual.size} live rows, expected ${expected.size}")
      },
      "ivf_ids_live" -> Future {
        val ids = spark.read.parquet(s"$vecDir/data").select(col("id").cast("long"))
          .distinct().collect().map(_.getLong(0)).toSet
        (ids == liveDocs.map(_._1).toSet, s"${ids.size} ids, expected ${liveDocs.size}")
      },
      "bm25_equals_rebuild" -> Future {
        val refDir = s"${c.work}/bm25_ref"
        SearchIndex.build(spark.createDataFrame(liveDocs).toDF("doc_id", "text"), "doc_id", "text",
          refDir, buckets = Buckets)
        val differ = lines(s"${c.in}/probes.jsonl").map(l => (parse(l) \ "query").extract[String])
          .filter { q =>
            val body = s"""{"query": {"match": {"text": {"query": "$q", "similarity": "bm25"}}}, "size": 10}"""
            def top(dir: String) = QueryDsl.searchIndexed(spark, dir, body).collect()
              .map(r => (r.getAs[Long]("doc_id"), math.rint(r.getAs[Double]("score") * 1e6))).toSeq
            top(textDir) != top(refDir)
          }
        (differ.isEmpty, s"probes differing: ${differ.mkString("; ")}")
      },
      "low_touch" -> Future {
        // the merge epochs rewrote under 10% of the term buckets; a
        // compaction batch rewrites all of them by design
        val merges = epochs.toSeq.filter { m =>
          val b = m("bm25_batch").asInstanceOf[Long]
          b == 0 || b % CompactEvery != 0
        }
        val fracs = merges.map(_("term_buckets").asInstanceOf[Int].toDouble / Buckets)
        (fracs.nonEmpty && fracs.forall(_ < 0.10), s"term buckets rewritten per epoch: ${fracs.mkString(",")}")
      })
    checks.foreach { case (name, f) =>
      val (ok, detail) = Await.result(f, Duration.Inf)
      c.check(name, ok, detail)
    }
    c.rec("dlq_rows") = Await.result(dlqRows, Duration.Inf)
    c.rec("buckets") = Buckets

    val store = Seq("bm25" -> textDir, "ivf" -> vecDir, "cdc_table" -> cdcDir).map { case (n, d) =>
      val (files, bytes) = Util.storeSize(d)
      n -> Map("files" -> files, "bytes" -> bytes)
    }.toMap
    c.rec("store") = store ++ Map(
      "postings_files" -> Util.storeSize(s"$textDir/postings")._1,
      "docs_files" -> Util.storeSize(s"$textDir/docs")._1,
      "docs" -> liveDocs.size)
  }
}
