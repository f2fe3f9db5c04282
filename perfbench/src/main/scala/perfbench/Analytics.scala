package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.functions.{col, timestamp_micros}

import graft.{GraftQuery, Registry}

/** The registry's headline queries over the generated tables, run one at a
  * time and fully materialized, as `graft.Bench` runs them: a first pass
  * that also warms the JVM, then a timed pass. Each result is hashed in
  * both passes, and the hashes must agree.
  */
object Analytics {
  /** The tables `graft.sources.Tables.load` reads, with their columns;
    * timestamp columns arrive as epoch microseconds.
    */
  val Tables = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> "c_custkey LONG, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier" -> "s_suppkey LONG, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey LONG, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate LONG, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey LONG, l_partkey LONG, l_suppkey LONG, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate LONG"),
    "events" -> "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING",
    "documents" -> "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    "embeddings" -> "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
  val TimestampColumns = Set("o_orderdate", "l_shipdate", "ts")

  def apply(c: Ctx): Unit = {
    val spark = c.spark
    // data preparation: one parquet file per table, as the engine's test tables
    val dir = s"${c.work}/tables"
    Tables.foreach { case (name, ddl) =>
      val raw = spark.read.schema(ddl).json(s"${c.in}/tables/$name.jsonl")
      raw.columns.filter(TimestampColumns).foldLeft(raw)((d, t) => d.withColumn(t, timestamp_micros(col(t))))
        .coalesce(1).write.parquet(s"$dir/$name.parquet")
    }

    val suite = Registry.headline.sortBy(_.name)
    /** Runs `q` once: its time, plan times, file scans and result hash. */
    def run(q: GraftQuery, pass: Int): Option[Map[String, Any]] = {
      val op = s"query$pass-${q.name}"
      c.attempted.incrementAndGet()
      try c.tagged(s"query:${q.name}:$pass") {
        c.trace(op, "bench", q.name) {
          val t0 = System.nanoTime()
          val df = c.trace(op, "queries", "Registry.run")(q.run(spark, dir))
          val p0 = System.nanoTime()
          c.trace(op, "plans", "optimize")(df.queryExecution.optimizedPlan)
          val p1 = System.nanoTime()
          c.trace(op, "spark", "plan")(df.queryExecution.executedPlan)
          val p2 = System.nanoTime()
          // every row materialized, as Bench does, and hashed in order
          val hashes = c.trace(op, "spark", "execute")(df.queryExecution.toRdd.map(_.hashCode).collect())
          val s = Util.since(t0)
          Some(Map("s" -> s, "optimize_ms" -> (p1 - p0) / 1e6, "physical_ms" -> (p2 - p1) / 1e6,
            "scan_count" -> Util.fileScans(df).size, "rows" -> hashes.length,
            "hash" -> MurmurHash3.orderedHash(hashes.toSeq)))
        }
      } catch {
        case e: Exception =>
          c.failed.incrementAndGet()
          System.err.println(s"[perfbench] query ${q.name} pass $pass failed: ${e.getMessage}")
          None
      }
    }
    val first = suite.map(q => q.name -> run(q, 1)).toMap
    val timed = suite.map(q => q.name -> run(q, 2)).toMap
    val differ = suite.map(_.name).filter(n => first(n).isEmpty || first(n).map(_("hash")) != timed(n).map(_("hash")))
    c.check("analytics_hash_match", differ.isEmpty, s"results differing between passes: ${differ.mkString(", ")}")
    c.rec("queries") = timed.collect { case (n, Some(m)) => n -> m }
  }
}
