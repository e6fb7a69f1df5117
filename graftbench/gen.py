"""Seeded input generator for the graft benchmark.

Every input a workload feeds to graft comes from here, and only from
the workload seed: the memory-loop corpus, its micro-batches, the
takedown set, the query pool with its request script, the hybrid
filters, and the TPC-H-like tables of the query suite. The same seed
gives byte-identical files; sizes are fixed, so different seeds vary
content but not the amount of work.

Usage: python3 graftbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import random
import sys

# Sizes are part of the benchmark definition (BENCHMARK.json quotes
# them); changing one changes every metric's baseline.
SIZES = {
    "memory": {
        "docs": 120,             # bulk corpus documents
        "sentences": (4, 9),     # sentences per document (uniform)
        "words": (7, 13),        # words per sentence (uniform)
        "vocab": 1000,           # entity tokens (>= 5 chars), all named in the corpus
        "zipf_s": 0.9,           # entity popularity skew
        "case_variant": 0.1,     # share of entities also written capitalised
        "near_dup": 0.12,        # share of documents that near-copy another
        "batches": 2,            # micro-batches
        "batch_docs": 8,         # documents per micro-batch
        "takedown": 12,          # documents removed by the takedown
        "pool": 160,             # distinct queries in the serve pool
        "query_zipf_s": 1.1,     # repeat skew of the query draw
        "batch_questions": 64,   # questions per answerBatch / hybrid batch
        "script": 300,           # requests in the serve script
        "batch_every": 10,       # one batch and one hybrid per this many
        "warmup_docs": 20,       # JIT warm-up corpus (ingest workload)
    },
    "suite": {
        "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500,
        "embeddings": 500, "dim": 64, "labels": 10,
    },
}

FILLERS = ["the", "of", "and", "a", "to", "in", "is", "was", "for", "on",
           "by", "with", "as", "at", "from", "its", "new", "old", "all"]
ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
          "t", "v", "z", "br", "cr", "dr", "gr", "pl", "st", "tr", "sh"]
VOWELS = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
CODAS = ["", "", "n", "r", "s", "l", "m", "x", "nd", "rt"]


def vocabulary(rng, n):
    """n distinct lowercase pseudo-words of 5-12 letters, in a seeded
    order that doubles as the popularity rank."""
    seen, out = set(), []
    while len(out) < n:
        w = "".join(rng.choice(ONSETS) + rng.choice(VOWELS) + rng.choice(CODAS)
                    for _ in range(rng.randint(2, 4)))
        if 5 <= len(w) <= 12 and w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_weights(n, s):
    return [1.0 / (r + 1) ** s for r in range(n)]


class Corpus:
    """Documents over a Zipf-skewed entity vocabulary. The counts that
    drive graft's work are fixed by construction, so a seed changes
    content but not size: the bulk corpus names every vocabulary word
    and every case variant at least once, sentences end on a short
    filler (so no "word." entity forms appear), sentence counts per
    document come from a fixed multiset, and the near-copy count is
    fixed."""

    def __init__(self, rng, p):
        self.rng, self.p = rng, p
        self.vocab = vocabulary(rng, p["vocab"])
        self.cum = _cumulative(zipf_weights(p["vocab"], p["zipf_s"]))
        variants = rng.sample(self.vocab, int(p["vocab"] * p["case_variant"]))
        self.variant_set = set(variants)
        self.pending = self.vocab + [w.capitalize() for w in variants]
        rng.shuffle(self.pending)

    def entity(self):
        if self.pending:
            return self.pending.pop()
        w = self.vocab[_draw(self.rng, self.cum)]
        return w.capitalize() if w in self.variant_set and self.rng.random() < 0.3 else w

    def sentence(self):
        n = self.rng.randint(*self.p["words"])
        words = [self.entity() if self.rng.random() < 0.6 else self.rng.choice(FILLERS)
                 for _ in range(n - 1)]
        return " ".join(words + [self.rng.choice(FILLERS)]) + "."

    def near_copy(self, text):
        """Same text with one late entity swapped for another: the
        40-char dedup block is shared and the NLI stub sees >= 80%
        token overlap."""
        words = text.split(" ")
        late = [i for i in range(len(words) // 2, len(words)) if len(words[i]) >= 5]
        if late:
            words[self.rng.choice(late)] = self.rng.choice(self.vocab)
        return " ".join(words)

    def docs(self, n, first_id, source):
        lo, hi = self.p["sentences"]
        counts = [lo + i % (hi - lo + 1) for i in range(n)]
        self.rng.shuffle(counts)
        copies = set(self.rng.sample(range(1, n), round(n * self.p["near_dup"]))) if n > 1 else set()
        out = []
        for i in range(n):
            if i in copies:
                text = self.near_copy(self.rng.choice(out)["text"])
            else:
                text = " ".join(self.sentence() for _ in range(counts[i]))
            out.append({"doc_id": first_id + i, "text": text, "source": source})
        return out


def _cumulative(weights):
    total, acc, out = sum(weights), 0.0, []
    for w in weights:
        acc += w / total
        out.append(acc)
    return out


def _draw(rng, cum):
    x = rng.random()
    lo, hi = 0, len(cum) - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if cum[mid] < x:
            lo = mid + 1
        else:
            hi = mid
    return lo


def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, ensure_ascii=False) + "\n")


def memory_inputs(seed, out):
    """Corpus, micro-batches, takedown, query pool, serve script and
    hybrid filters for the two memory-loop workloads."""
    p = SIZES["memory"]
    rng = random.Random(seed)
    c = Corpus(rng, p)
    corpus = c.docs(p["docs"], 1, "bulk")
    batches = []
    next_id = 100000
    for b in range(p["batches"]):
        for d in c.docs(p["batch_docs"], next_id, f"batch{b}"):
            batches.append(dict(d, batch=b))
        next_id += 1000
    takedown = sorted(rng.sample([d["doc_id"] for d in corpus], p["takedown"]))
    warmup = Corpus(random.Random(seed ^ 0x5EED), p).docs(p["warmup_docs"], 900000, "warmup")

    pool = []
    for _ in range(p["pool"]):
        pool.append(" ".join(c.vocab[_draw(rng, c.cum)] for _ in range(rng.randint(3, 6))))
    qcum = _cumulative(zipf_weights(len(pool), p["query_zipf_s"]))
    head = c.vocab[:40]
    tail = c.vocab[300:]

    def questions():
        return [pool[_draw(rng, qcum)] for _ in range(p["batch_questions"])]

    hybrids = []

    def hybrid():
        hybrids.append(None)
        if len(hybrids) % 2:   # union over head and tail entities
            ents = rng.sample(head, 2) + rng.sample(tail, 2)
            return {"entities": ents, "union": True}
        return {"entities": rng.sample(head[:10], 2), "union": False}

    script = []
    for i in range(p["script"]):
        if i % p["batch_every"] == p["batch_every"] // 2:
            script.append({"i": i, "type": "batch", "questions": questions()})
        elif i % p["batch_every"] == p["batch_every"] - 1:
            script.append(dict(hybrid(), i=i, type="hybrid", questions=questions()))
        else:
            script.append({"i": i, "type": "retrieve", "query": pool[_draw(rng, qcum)]})
    checks = [{"kind": "recall", "query": q} for q in rng.sample(pool, 16)]

    write_jsonl(os.path.join(out, "corpus.jsonl"), corpus)
    write_jsonl(os.path.join(out, "batches.jsonl"), batches)
    write_jsonl(os.path.join(out, "warmup.jsonl"), warmup)
    write_jsonl(os.path.join(out, "takedown.jsonl"), [{"doc_id": d} for d in takedown])
    write_jsonl(os.path.join(out, "script.jsonl"), script)
    write_jsonl(os.path.join(out, "checks.jsonl"), checks)
    input_bytes = sum(len(d["text"].encode("utf-8")) for d in corpus + batches)
    return {"input_bytes": input_bytes}


DOC_WORDS = ["scan", "column", "window", "order", "sort", "part", "agg", "value",
             "line", "key", "join", "merge", "group", "query", "a", "vector", "hash",
             "slow", "stream", "filter", "fast", "the", "batch", "spark", "table",
             "small", "data", "big", "customer", "row", "dup"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def suite_tables(seed, out):
    """TPC-H-like star schema plus events, documents and embeddings,
    shaped like the repository's sf0.001 test data (same columns and
    types, same value domains), written as one parquet file each."""
    import datetime as dt
    import pyarrow as pa
    import pyarrow.parquet as pq

    s = SIZES["suite"]
    rng = random.Random(seed)
    r2 = lambda x: round(x, 2)
    day = lambda base, span: base + dt.timedelta(days=rng.randrange(span))
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    n = s["customer"]
    t["customer"] = {"c_custkey": list(range(n)),
                     "c_name": [f"Customer#{i:09d}" for i in range(n)],
                     "c_nationkey": pa.array([rng.randrange(25) for _ in range(n)], pa.int32()),
                     "c_acctbal": [r2(rng.uniform(-999, 9999)) for _ in range(n)],
                     "c_mktsegment": [rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                  "HOUSEHOLD", "MACHINERY"]) for _ in range(n)]}
    n = s["supplier"]
    t["supplier"] = {"s_suppkey": list(range(n)),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                     "s_nationkey": pa.array([rng.randrange(25) for _ in range(n)], pa.int32()),
                     "s_acctbal": [r2(rng.uniform(-999, 9999)) for _ in range(n)]}
    n = s["part"]
    t["part"] = {"p_partkey": list(range(n)),
                 "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n)],
                 "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n)],
                 "p_type": [rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                        "STANDARD"]) for _ in range(n)],
                 "p_size": pa.array([rng.randint(1, 50) for _ in range(n)], pa.int32()),
                 "p_retailprice": [r2(900 + (i % 200) * 0.1) for i in range(n)]}
    n = s["orders"]
    t["orders"] = {"o_orderkey": list(range(n)),
                   "o_custkey": [rng.randrange(s["customer"]) for _ in range(n)],
                   "o_orderstatus": [rng.choice("OFP") for _ in range(n)],
                   "o_totalprice": [r2(rng.uniform(1000, 500000)) for _ in range(n)],
                   "o_orderdate": pa.array([day(dt.datetime(1995, 1, 1), 2404) for _ in range(n)],
                                           pa.timestamp("us")),
                   "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                   "4-NOT SPECIFIED", "5-LOW"]) for _ in range(n)]}
    n = s["lineitem"]
    t["lineitem"] = {"l_orderkey": [rng.randrange(s["orders"]) for _ in range(n)],
                     "l_partkey": [rng.randrange(s["part"]) for _ in range(n)],
                     "l_suppkey": [rng.randrange(s["supplier"]) for _ in range(n)],
                     "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(n)], pa.int32()),
                     "l_quantity": [float(rng.randint(1, 50)) for _ in range(n)],
                     "l_extendedprice": [r2(rng.uniform(900, 105000)) for _ in range(n)],
                     "l_discount": [rng.randint(0, 10) / 100 for _ in range(n)],
                     "l_tax": [rng.randint(0, 8) / 100 for _ in range(n)],
                     "l_returnflag": [rng.choice("ANR") for _ in range(n)],
                     "l_linestatus": [rng.choice("FO") for _ in range(n)],
                     "l_shipdate": pa.array([day(dt.datetime(1995, 1, 2), 2499) for _ in range(n)],
                                            pa.timestamp("us"))}
    n = s["events"]
    base = dt.datetime(2024, 1, 1)
    ts = sorted(base + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
                for _ in range(n))
    t["events"] = {"event_id": list(range(n)),
                   "ts": pa.array(ts, pa.timestamp("us")),
                   "user_id": [rng.randrange(15) for _ in range(n)],
                   "event_type": [rng.choice(["click", "error", "purchase", "signup", "view"])
                                  for _ in range(n)],
                   "value": [r2(rng.uniform(0, 330)) for _ in range(n)],
                   "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n)]}
    n = s["documents"]
    # Near duplicates as the test data plants them: an earlier
    # document with one to three " dup" tokens appended.
    texts = []
    for _ in range(n):
        if texts and rng.random() < 0.08:
            texts.append(rng.choice(texts) + " dup" * rng.randint(1, 3))
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 95))))
    t["documents"] = {"doc_id": list(range(n)), "text": texts,
                      "lang": [rng.choice(["de", "en", "es", "fr", "zh"]) for _ in range(n)],
                      "source": [f"src{rng.randrange(20)}" for _ in range(n)],
                      "n_chars": [len(x) for x in texts]}
    n, dim = s["embeddings"], s["dim"]
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(s["labels"])]
    vecs, labels = [], []
    for _ in range(n):
        lab = rng.randrange(s["labels"])
        v = [c + rng.gauss(0, 0.6) for c in centers[lab]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(lab)
    t["embeddings"] = {"vec_id": list(range(n)),
                       "embedding": pa.array(vecs, pa.list_(pa.float32())),
                       "label": pa.array(labels, pa.int32())}
    for name, cols in t.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))
    return {"tables": {k: len(next(iter(v.values()))) for k, v in t.items()}}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    if workload == "query-suite":
        return suite_tables(seed, out)
    return memory_inputs(seed, out)


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
