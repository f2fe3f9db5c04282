"""Turns a driver's raw record into the reported metrics.

Every workload reports the same end-to-end names; what "an operation" is
depends on the workload (see README.md):

  serve_read      latency = indexed BM25 `_search` from 1 client,
                  throughput = requests/s over the request mix from 4 clients;
                  its traced run also times the registry's headline queries
  pipeline_write  latency = one CDC epoch, from landing to the last sink's commit,
                  throughput = change events applied by all three sinks per second
"""

import statistics
from collections import Counter

import stats

SINKS = ("cdc_table", "bm25", "ivf")
LAYERS = ("bench", "search", "spark", "etl", "operators", "streaming")
QUERY_LAYERS = ("queries", "plans")  # self time per headline query
MB = 1024.0 * 1024.0
CORES = 4


def _samples(raw, phase, kind=None):
    return [s for s in raw["samples"]
            if s["phase"] == phase and (kind is None or s["kind"] == kind)]


def _epoch_latencies_s(raw):
    """Freshness of each measured epoch: landing until the last sink committed it."""
    epochs = raw["epochs"]
    files = [(e["land_ms"] / 1000.0, e["after"]) for e in epochs]
    batches = {s: [(p["batch"], p["arrived_ms"] / 1000.0) for p in raw["progress"]
                   if p["sink"] == s and p["rows"] > 0] for s in SINKS}
    fresh = stats.freshness(files, batches)
    return [f for f, e in zip(fresh, epochs) if f is not None and not e["warmup"]]


def _events_per_s(raw):
    return sum(not e["warmup"] for e in raw["epochs"]) * raw["events_per_epoch"] / raw["loop_s"]


def _c4_rps(raw):
    return len(_samples(raw, "c4")) / raw["phase_s"]["c4"]


def end_to_end(workload, raw):
    if workload == "serve_read":
        lat = statistics.median([s["ms"] for s in _samples(raw, "c1", "bm25")])
        thr = _c4_rps(raw)
    else:
        lat = statistics.median(_epoch_latencies_s(raw)) * 1000.0
        thr = _events_per_s(raw)
    return {"setup_s": raw["setup_s"], "latency_p50_ms": lat, "throughput_per_s": thr,
            "heap_peak_mb": raw["heap_peak_bytes"] / MB}


def record(workload, raw):
    """The full record: named timings with tails and sample counts, checks, store."""
    rec = {"workload": workload, "checks": raw["checks"], "attempted": raw["attempted"],
           "failed": raw["failed"], "failed_ops_frac": raw["failed"] / raw["attempted"],
           "setup_s": raw["setup_s"], "setup_parts_s": raw["setup_parts_s"],
           "heap_peak_mb": raw["heap_peak_bytes"] / MB, "store": raw["store"],
           "gc_ms": raw["gc_ms"]}
    if workload == "serve_read":
        rec["bm25_ms"] = stats.timing([s["ms"] for s in _samples(raw, "c1", "bm25")])
        for kind, name in (("bm25", "bm25_c4_ms"), ("table", "table_search_c4_ms"),
                           ("msearch", "msearch_c4_ms")):
            rec[name] = stats.timing([s["ms"] for s in _samples(raw, "c4", kind)])
        rec["serve_c4_ms"] = stats.timing([s["ms"] for s in _samples(raw, "c4")])
        rec["serve_c4_rps"] = _c4_rps(raw)
        measured = _samples(raw, "c1") + _samples(raw, "c4")
        rec["repeated_request_frac"] = sum(s["repeat"] for s in measured) / len(measured)
        rec["store_bytes_per_doc"] = raw["store"]["bytes"] / raw["store"]["docs"]
        if "queries" in raw:
            rec["queries"] = _queries(raw)
            rec["analytics_total_s"] = sum(q["s"] for q in rec["queries"].values())
    else:
        bf = raw["backfill"]
        rec["backfill"] = bf
        rec["backfill_items_per_s"] = bf["items"] / bf["s"]
        rec["epoch_s"] = stats.timing(_epoch_latencies_s(raw))
        rec["epoch_wall_s"] = stats.timing([e["wall_s"] for e in raw["epochs"] if not e["warmup"]])
        rec["index_events_per_s"] = _events_per_s(raw)
        rec["touched_term_bucket_frac"] = _touched(raw, "term_buckets")
        rec["touched_doc_bucket_frac"] = _touched(raw, "doc_buckets")
        st = raw["store"]
        rec["store_bytes_per_doc"] = sum(st[s]["bytes"] for s in SINKS) / st["docs"]
    return rec


def _touched(raw, kind):
    """Share of the BM25 index's buckets each epoch rewrote, in landing order."""
    return [e[kind] / raw["buckets"] for e in raw["epochs"]]


def _queries(raw):
    """Per headline query of the timed pass: the driver's figures plus its Spark work."""
    out = {}
    for name, q in raw["queries"].items():
        c = raw["counts"].get("query:%s:2" % name, {})
        out[name] = dict(q, jobs=c.get("jobs", 0), shuffle_bytes=c.get("shuffle_bytes", 0))
    return out


def _self_ms(spans):
    """Self time of each span: its duration minus the part its children cover."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        lo, hi = sp["start_ms"], sp["end_ms"]
        covered, edge = 0.0, lo
        for a, b in sorted((max(lo, k["start_ms"]), min(hi, k["end_ms"]))
                           for k in kids.get(sp["id"], [])):
            if b > edge:
                covered += b - max(a, edge)
                edge = b
        out[sp["id"]] = (hi - lo) - covered
    return out


def _sink_spans(raw, epoch_span):
    """Spans for each sink's batch, placed from its progress durations.

    A trigger span covers the batch; its `addBatch` child (the sink's own
    write code) ends where the offset commit starts.
    """
    origin = raw["trace_origin_ms"]
    layer = {"cdc_table": "streaming", "bm25": "etl", "ivf": "operators"}
    out, next_id = [], 1 + max([s["id"] for s in raw["spans"]] or [0])
    for p in raw["progress"]:
        parent = epoch_span.get(p["batch"])
        d = p["durations"]
        if parent is None or p["rows"] == 0:
            continue
        start = p["start_ms"] - origin
        end = start + d.get("triggerExecution", 0)
        add_end = end - d.get("commitOffsets", 0)
        op = "epoch-%d" % p["batch"]
        out.append({"id": next_id, "parent": parent, "op": op, "layer": "streaming",
                    "name": p["sink"] + ".trigger", "start_ms": start, "end_ms": end})
        out.append({"id": next_id + 1, "parent": next_id, "op": op, "layer": layer[p["sink"]],
                    "name": p["sink"] + ".addBatch", "start_ms": add_end - d.get("addBatch", 0),
                    "end_ms": add_end})
        next_id += 2
    return out


def _med(values):
    return statistics.median(values) if values else 0.0


def per_layer(workload, raw):
    counts = raw["counts"]

    def tags(*names):
        """Spark work summed over the given tags."""
        return sum((Counter(counts.get(n, {})) for n in names), Counter())

    m = {}
    spans = list(raw["spans"])
    if workload == "serve_read":
        def request(s):
            op = "%s-%d" % (s["phase"], s["i"])
            return tags("compile:%s:%s" % (s["kind"], op), "run:%s:%s" % (s["kind"], op))

        c1 = _samples(raw, "c1")  # BM25 requests from one client
        ops = ["c1-%d" % s["i"] for s in c1]
        per_op = [request(s) for s in c1]
        window_s = sum(raw["phase_s"].values())
        window_run_ms = sum(v["run_ms"] for k, v in counts.items()
                            if k.split(":")[-1].startswith(("c1-", "c4-")))
        plan = {}
        for sp in spans:
            if sp["name"] in ("optimize", "plan") and sp["op"] in ops:
                plan[sp["op"]] = plan.get(sp["op"], 0.0) + sp["end_ms"] - sp["start_ms"]
        m["search.compile_ms"] = _med([s["compile_ms"] for s in c1])
        m["search.compile_jobs"] = _med([tags("compile:bm25:" + o)["jobs"] for o in ops])
        m["spark.plan_ms"] = _med(list(plan.values()))
        m["spark.files_read"] = _med([s["files"] for s in c1])
        measured = c1 + _samples(raw, "c4")
        for kind in ("bm25", "table", "msearch"):
            m["spark.jobs.%s_request" % kind] = _med(
                [request(s)["jobs"] for s in measured if s["kind"] == kind])
        m["etl.bm25_build_s"] = raw["setup_parts_s"]["build"]
        m["store.bytes_per_doc"] = raw["store"]["bytes"] / raw["store"]["docs"]
        m["store.bytes"] = raw["store"]["bytes"]
        written, events = 0, 1
        if "queries" in raw:
            qs = _queries(raw)
            m["queries.total_s"] = sum(q["s"] for q in qs.values())
            for k in ("jobs", "shuffle_bytes", "scan_count"):
                m["queries." + k] = sum(q[k] for q in qs.values())
            for name, q in qs.items():
                m["queries.%s.s" % name] = q["s"]
            m["plans.optimize_ms"] = sum(q["optimize_ms"] for q in qs.values())
            m["plans.physical_ms"] = sum(q["physical_ms"] for q in qs.values())
    else:
        epochs = [e for e in raw["epochs"] if not e["warmup"]]
        ops = ["epoch-%d" % e["epoch"] for e in epochs]
        per_op = [tags(*("%s:%d" % (s, e["epoch"]) for s in SINKS)) for e in epochs]
        window_s = raw["loop_s"]
        window_run_ms = sum(c["run_ms"] for c in per_op)
        bf = raw["backfill"]
        m["etl.ingest_decode_route_s"] = bf["decode_route_s"]
        m["etl.ingest_materialize_s"] = bf["materialize_s"]
        m["etl.bm25_build_s"] = bf["bm25_build_s"]
        m["etl.dlq_rows"] = raw["dlq_rows"]
        m["operators.ivf_build_s"] = bf["ivf_build_s"]
        for s in SINKS:
            m["spark.jobs.%s_epoch" % s] = _med([tags("%s:%d" % (s, e["epoch"]))["jobs"] for e in epochs])
        prog = [p for p in raw["progress"] if p["batch"] in {e["epoch"] for e in epochs}]
        for s in SINKS:
            mine = [p for p in prog if p["sink"] == s and p["rows"] > 0]
            for key, name in (("addBatch", "add_batch_ms"), ("triggerExecution", "trigger_ms"),
                              ("queryPlanning", "planning_ms"), ("walCommit", "wal_commit_ms")):
                m["streaming.%s.%s" % (s, name)] = _med([p["durations"].get(key, 0) for p in mine])
            m["streaming.%s.input_rows" % s] = _med([p["rows"] for p in mine])
        shares = []
        for e in epochs:
            adds = {p["sink"]: p["durations"].get("addBatch", 0) for p in prog if p["batch"] == e["epoch"]}
            if sum(adds.values()):
                shares.append(adds.get("ivf", 0) / sum(adds.values()))
        m["operators.ivf_epoch_share"] = _med(shares)
        allp = raw["progress"]
        m["streaming.epochs_applied_frac"] = (sum(p["rows"] > 0 for p in allp) / len(allp)) if allp else 0.0
        st = raw["store"]
        m["store.bytes"] = sum(st[s]["bytes"] for s in SINKS)
        m["store.bytes_per_doc"] = m["store.bytes"] / st["docs"]
        m["store.touched_bucket_frac"] = _med(_touched(raw, "term_buckets"))
        m["store.touched_doc_bucket_frac"] = _med(_touched(raw, "doc_buckets"))
        written = sum(c["written_bytes"] for c in per_op)
        events = max(1, len(epochs) * raw["events_per_epoch"])
        spans += _sink_spans(raw, {e["epoch"]: e["span"] for e in raw["epochs"]})
    m["store.postings_files"] = raw["store"]["postings_files"]
    m["store.docs_files"] = raw["store"]["docs_files"]
    m["store.bytes_written_per_event"] = written / events
    for k in ("jobs", "stages", "tasks", "sched_delay_ms", "shuffle_bytes"):
        m["spark." + k] = _med([c[k] for c in per_op])
    m["spark.spill_bytes"] = sum(c["spill_bytes"] for c in per_op)
    m["spark.busy_frac"] = window_run_ms / (window_s * 1000.0 * CORES)
    m["jvm.gc_ms"] = raw["gc_ms"]
    m["trace.latency_p50_ms"] = end_to_end(workload, raw)["latency_p50_ms"]
    m["trace.spans"] = len(spans)
    self_ms = _self_ms(spans)
    opset = set(ops)
    for layer in LAYERS:
        total = sum(self_ms[sp["id"]] for sp in spans if sp["layer"] == layer and sp["op"] in opset)
        m["self.%s_ms" % layer] = total / max(1, len(ops))
    timed = [sp for sp in spans if sp["op"].startswith("query2-")]
    for layer in QUERY_LAYERS:
        total = sum(self_ms[sp["id"]] for sp in timed if sp["layer"] == layer)
        m["self.%s_ms" % layer] = total / max(1, len({sp["op"] for sp in timed}))
    return m

