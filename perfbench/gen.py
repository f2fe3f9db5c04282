"""Seeded input generators for the benchmark workloads.

Everything the engine sees is written here, from one integer seed, so the
same seed gives byte-identical files. The engine receives only these files.

Shapes follow the reference program: a single-table DynamoDB export of
fares and flights (plus a text attribute, an embedding and about 1/1000
malformed rows) and a change stream whose records carry both the DynamoDB
Streams fields (read by the CDC table) and the flat search-index fields
(read by the BM25 and IVF sinks), so one epoch file feeds all three sinks.
"""

import bisect
import json
import os
import random

# serve_read: a fixed, prebuilt BM25 index over this corpus.
SERVE_DOCS = 4000
SERVE_VOCAB = 2000
SERVE_REQUESTS = 6000

# pipeline_write: backfill export, then closed-loop CDC epochs.
EXPORT_ITEMS = 4000
MALFORMED_EVERY = 1000  # one item in a thousand has no key: it must reach the DLQ
WRITE_VOCAB = 50000     # large vocabulary ...
EPOCH_WORDS = 5         # ... and a small per-epoch word window: low-touch epochs
EPOCH_EVENTS = 1000
MAX_EPOCHS = 40         # more than a run lands, even with much faster epochs; a run uses a prefix
EPOCH_KEYS = 50         # keys one epoch updates: a group whose text lies in the epoch's window
DELETE_FRAC = 0.05
OUT_OF_ORDER_FRAC = 0.02
EMB_DIM = 16
PROBES = 4

TOKENS_PER_DOC = 12
ZIPF_S = 1.1


class Zipf:
    """Draws ranks 0..n-1 with P(r) proportional to 1 / (r + 1)^s."""

    def __init__(self, n, s=ZIPF_S):
        acc, self.cdf = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self.cdf.append(acc)
        self.total = acc

    def draw(self, rng):
        return bisect.bisect_left(self.cdf, rng.random() * self.total)


def _text(rng, zipf, words):
    return " ".join(words[zipf.draw(rng)] for _ in range(TOKENS_PER_DOC))


def _embedding(rng, centers):
    c = centers[rng.randrange(len(centers))]
    return [round(x + rng.gauss(0.0, 0.3), 4) for x in c]


def _write_lines(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def _dumps(obj):
    return json.dumps(obj, separators=(",", ":"), sort_keys=False)


def _serve_bodies(rng, kind, terms):
    """The JSON bodies of one request of `kind` built from three query terms."""
    if kind == "bm25":
        return [{"query": {"match": {"text": {"query": " ".join(terms), "similarity": "bm25"}}},
                 "size": 10}]
    if kind == "table":
        return [{"query": {"bool": {"must": [
                    {"range": {"n_chars": {"gte": rng.randrange(500)}}},
                    {"match": {"text": terms[0]}}]}},
                 "aggs": {"bands": {"histogram": {
                     "field": "n_chars", "interval": 50 + rng.randrange(7)}}}}]
    return [{"query": {"term": {"text": terms[0]}}},
            {"query": {"range": {"n_chars": {"lte": 100 + rng.randrange(300)}}},
             "size": 5, "_source": ["doc_id", "score"]}]


def serve_read(rng, out):
    """Corpus, request stream, and the tables of the registry's headline queries.

    Every request draws its query terms Zipf-skewed from the vocabulary, so
    repeated terms (and, rarely, whole repeated requests) come from the skew
    alone. The request kinds take turns: BM25, table path, `_msearch`.
    """
    words = ["w%d" % i for i in range(SERVE_VOCAB)]
    rng.shuffle(words)  # hot words are not the lexically first ones
    zipf = Zipf(SERVE_VOCAB)
    _write_lines(os.path.join(out, "corpus.jsonl"), (
        _dumps({"doc_id": i, "text": _text(rng, zipf, words),
                "n_chars": rng.randrange(1000)})
        for i in range(SERVE_DOCS)))
    kinds = ("bm25", "table", "msearch")
    _write_lines(os.path.join(out, "requests.jsonl"), (
        _dumps({"kind": kinds[i % 3], "bodies": [_dumps(b) for b in _serve_bodies(
            rng, kinds[i % 3], [words[zipf.draw(rng)] for _ in range(3)])]})
        for i in range(SERVE_REQUESTS)))
    analytics_tables(rng, os.path.join(out, "tables"))


# The headline queries' tables, shaped like the engine's test tables at
# scale factor 0.001. Timestamps are epoch microseconds (UTC).
DOC_WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream table "
             "the value vector window").split()
PART_ADJ = ("blue cold hot large new old red small").split()
PART_NOUN = ("anvil bolt gear gizmo plate ring rod widget").split()
DAY_US = 86400 * 1000000
Y1995_US = 788918400 * 1000000   # 1995-01-01
Y2024_US = 1704067200 * 1000000  # 2024-01-01


def analytics_tables(rng, out):
    """One JSON-lines file per table; about 5% of documents are near-copies
    of an earlier one, so the dedup queries find pairs."""
    def table(name, rows):
        _write_lines(os.path.join(out, name + ".jsonl"), (_dumps(r) for r in rows))

    regions = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    table("region", ({"r_regionkey": i, "r_name": n} for i, n in enumerate(regions)))
    table("nation", ({"n_nationkey": i, "n_name": "NATION_%d" % i, "n_regionkey": i % 5}
                     for i in range(25)))
    segments = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    table("customer", ({"c_custkey": i, "c_name": "Customer#%09d" % i,
                        "c_nationkey": rng.randrange(25),
                        "c_acctbal": round(rng.uniform(-999.0, 9999.0), 2),
                        "c_mktsegment": rng.choice(segments)} for i in range(150)))
    table("supplier", ({"s_suppkey": i, "s_name": "Supplier#%09d" % i,
                        "s_nationkey": rng.randrange(25),
                        "s_acctbal": round(rng.uniform(-999.0, 9999.0), 2)} for i in range(10)))
    types = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    table("part", ({"p_partkey": i, "p_name": rng.choice(PART_ADJ) + " " + rng.choice(PART_NOUN),
                    "p_brand": "Brand#%d" % (1 + rng.randrange(25)), "p_type": rng.choice(types),
                    "p_size": 1 + rng.randrange(50), "p_retailprice": round(900.0 + i * 0.1, 1)}
                   for i in range(200)))
    priorities = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    orders, lineitems = [], []
    for o in range(1500):
        date = Y1995_US + rng.randrange(2404) * DAY_US
        orders.append({"o_orderkey": o, "o_custkey": rng.randrange(150),
                       "o_orderstatus": rng.choice("FOP"),
                       "o_totalprice": round(rng.uniform(1000.0, 500000.0), 2),
                       "o_orderdate": date, "o_orderpriority": rng.choice(priorities)})
        for ln in range(1, 1 + rng.randrange(1, 8)):
            qty = float(1 + rng.randrange(50))
            lineitems.append({
                "l_orderkey": o, "l_partkey": rng.randrange(200), "l_suppkey": rng.randrange(10),
                "l_linenumber": ln, "l_quantity": qty,
                "l_extendedprice": round(qty * rng.uniform(900.0, 2100.0), 2),
                "l_discount": rng.randrange(11) / 100.0, "l_tax": rng.randrange(9) / 100.0,
                "l_returnflag": rng.choice("ANR"), "l_linestatus": rng.choice("FO"),
                "l_shipdate": date + (1 + rng.randrange(121)) * DAY_US})
    table("orders", orders)
    table("lineitem", lineitems)
    kinds = ("click", "error", "purchase", "signup", "view")
    ts = Y2024_US
    events = []
    for i in range(1000):
        ts += rng.randrange(1, 5 * 3600 * 1000000)
        events.append({"event_id": i, "ts": ts, "user_id": rng.randrange(15),
                       "event_type": rng.choice(kinds), "value": round(rng.uniform(0.0, 330.0), 2),
                       "props": '{"k": %d}' % rng.randrange(100)})
    table("events", events)
    docs = []
    for i in range(500):
        if docs and rng.random() < 0.05:
            toks = docs[rng.randrange(len(docs))]["text"].split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(DOC_WORDS)
        else:
            toks = [rng.choice(DOC_WORDS) for _ in range(10 + rng.randrange(90))]
        text = " ".join(toks)
        docs.append({"doc_id": i, "text": text, "lang": rng.choice(("de", "en", "en", "es", "fr", "zh")),
                     "source": "src%d" % (i % 20), "n_chars": len(text)})
    table("documents", docs)
    centers = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(10)]
    vecs = []
    for i in range(500):
        label = rng.randrange(10)
        v = [x + rng.gauss(0.0, 0.5) for x in centers[label]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append({"vec_id": i, "embedding": [round(x / norm, 6) for x in v], "label": label})
    table("embeddings", vecs)


def _attr_item(i, rng, text, emb):
    """One reference-shaped export item (fare or flight), typed attributes."""
    o, d = "O%d" % (i % 97), "D%d" % (i % 89)
    item = {"PK": {"S": o}, "type": {"S": "fare" if i % 2 == 0 else "flight"},
            "origin": {"S": o}, "dest": {"S": d}, "doc_id": {"N": str(i)},
            "text": {"S": text}, "embedding": {"L": [{"N": repr(x)} for x in emb]},
            "__id": {}}
    if i % 2 == 0:
        item.update({
            "SK": {"S": "%s#2023-05-%02dT00:00:00#nonstop#%d" % (d, 1 + i % 28, i)},
            "start": {"S": "2023-05-%02dT00:00:00" % (1 + i % 28)},
            "end": {"S": "2023-06-%02dT23:59:59" % (1 + i % 28)},
            "class": {"S": "nonstop"}, "GSI1PK": {"S": d}})
    else:
        item.update({
            "SK": {"S": "%s#2023-05-%02dT09:15:00#%d#1" % (o, 1 + i % 28, i)},
            "depart": {"S": "2023-05-%02dT09:15:00" % (1 + i % 28)},
            "arrive": {"S": "2023-05-%02dT11:45:00" % (1 + i % 28)},
            "number": {"N": str(100 + rng.randrange(900))}, "segId": {"N": "1"},
            "GSI2PK": {"S": str(i)}, "GSI2SK": {"S": "1"}})
    return {"Item": item}


def pipeline_write(rng, out):
    """Backfill export, CDC epoch files and BM25 probe queries.

    Epoch e draws its words from a window of EPOCH_WORDS words that slides
    through a WRITE_VOCAB-word vocabulary, and its keys, Zipf-skewed, from a
    group of EPOCH_KEYS exported ids whose backfill text lies in the same
    window. The BM25 merge rewrites the term buckets of both the old and
    the new text of every key in an epoch, so an epoch touches at most
    EPOCH_WORDS of the index's 64 term buckets. The other exported items
    draw their text from the whole vocabulary. About DELETE_FRAC of events
    are deletes, and about OUT_OF_ORDER_FRAC of lines are swapped with their
    predecessor so `_seq` arrives out of order.
    """
    words = ["w%d" % i for i in range(WRITE_VOCAB)]
    rng.shuffle(words)
    zipf_vocab = Zipf(WRITE_VOCAB)
    zipf_window = Zipf(EPOCH_WORDS)
    centers = [[rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)] for _ in range(8)]

    def window(e):
        return [words[(e * EPOCH_WORDS + j) % WRITE_VOCAB] for j in range(EPOCH_WORDS)]

    def window_text(e):
        w = window(e)
        return " ".join(w[zipf_window.draw(rng)] for _ in range(TOKENS_PER_DOC))

    keys = [i for i in range(EXPORT_ITEMS) if i % MALFORMED_EVERY != MALFORMED_EVERY - 1]
    rng.shuffle(keys)  # the groups, and their hot keys, are spread over the id space
    groups = [keys[e * EPOCH_KEYS:(e + 1) * EPOCH_KEYS] for e in range(MAX_EPOCHS)]
    group_of = {k: e for e, g in enumerate(groups) for k in g}
    lines = []
    for i in range(EXPORT_ITEMS):
        if i % MALFORMED_EVERY == MALFORMED_EVERY - 1:
            lines.append(_dumps({"Item": {"SK": {"S": "orphan#%d" % i},
                                          "type": {"S": "fare"}, "__id": {}}}))
        else:
            text = window_text(group_of[i]) if i in group_of else _text(rng, zipf_vocab, words)
            lines.append(_dumps(_attr_item(i, rng, text, _embedding(rng, centers))))
    _write_lines(os.path.join(out, "export", "part-00000.json"), lines)

    zipf_keys = Zipf(EPOCH_KEYS)
    seq = 0
    for e in range(MAX_EPOCHS):
        events = []
        for _ in range(EPOCH_EVENTS):
            seq += 1
            k = groups[e][zipf_keys.draw(rng)]
            pk, sk = "K%d" % k, "S%d" % k
            rec = {"eventName": "MODIFY", "Keys": {"PK": {"S": pk}, "SK": {"S": sk}},
                   "SequenceNumber": seq, "ApproximateCreationDateTime": 1700000000 + seq,
                   "doc_id": k, "_seq": seq}
            if rng.random() < DELETE_FRAC:
                rec.update({"eventName": "REMOVE", "_action": "delete"})
            else:
                rec.update({
                    "NewImage": {"PK": {"S": pk}, "SK": {"S": sk}, "type": {"S": "fare"},
                                 "class": {"S": "v%d" % seq}},
                    "text": window_text(e), "embedding": _embedding(rng, centers),
                    "_action": "upsert"})
            events.append(rec)
        for j in range(1, len(events)):
            if rng.random() < OUT_OF_ORDER_FRAC:
                events[j - 1], events[j] = events[j], events[j - 1]
        _write_lines(os.path.join(out, "epochs", "epoch-%05d.json" % e),
                     (_dumps(r) for r in events))

    probes = []
    for p in range(PROBES):
        # half the probes use the words of the first epochs, which every run
        # lands; half the backfill's hot words
        src = window(p // 2) if p % 2 == 0 else [words[zipf_vocab.draw(rng)] for _ in range(EPOCH_WORDS)]
        probes.append(_dumps({"query": " ".join(rng.choice(src) for _ in range(3))}))
    _write_lines(os.path.join(out, "probes.jsonl"), probes)


GENERATORS = {"serve_read": serve_read, "pipeline_write": pipeline_write}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under directory `out`."""
    GENERATORS[workload](random.Random(seed), out)
