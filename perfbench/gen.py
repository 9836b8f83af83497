"""Seeded input generator for the benchmark workloads.

Every table has the schema of the repository's sf testdata (a TPC-H-shaped
star schema, a `documents` corpus and an `embeddings` table), synthesised
from the seed alone: the same seed gives byte-identical parquet files, and
another seed gives other rows, another row order and another near-duplicate
structure, at the same row counts. Row counts are fixed per workload so
timings from different seeds are comparable.

`generate(workload, seed, out_dir)` writes the workload's inputs under
`out_dir` and returns a manifest (row counts, bytes and sha256 per file, the
generation parameters, and which side of the program's size gates the
workload falls on).
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One seed is kept out of development runs so a claimed gain can be
# re-checked on inputs nobody tuned against.
HELD_OUT_SEED = 9_000_001

# Row counts per workload. The program's cost at these sizes is mostly per
# Spark job and per plan, not per row, so the sizes are small: one cold
# iteration of each workload takes 10-20 s on four cores, which keeps a
# whole run near 25 s.
SIZES = {
    "warehouse_load": {"customer": 600, "orders": 6000, "delta_cycles": 1,
                       "delta_update": 0.04, "delta_insert": 0.02,
                       "delta_delete": 0.01, "delta_orders": 0.03},
    "corpus_funnel": {"documents": 200, "exact_dup": 0.05, "near_dup": 0.08},
    "nearline_dedup": {"documents": 160, "batches": 2, "exact_dup": 0.05,
                       "near_dup": 0.10},
    "vector_search": {"embeddings": 1200, "dim": 64, "clusters": 12,
                      "query_sets": 1, "queries_per_set": 10},
}

# The documents vocabulary of the sf testdata corpus.
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join small customer query order data column "
         "stream filter group big vector").split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = np.array([0.44, 0.15, 0.14, 0.14, 0.13])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
EPOCH_1992_US = 694_224_000_000_000


def _sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _write(tbl, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _customers(rng, keys):
    n = len(keys)
    return {
        "c_custkey": keys.astype(np.int64),
        "c_name": np.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n)],
    }


def _customer_table(c):
    order = np.argsort(c["c_custkey"], kind="stable")
    return pa.table({
        "c_custkey": pa.array(c["c_custkey"][order], pa.int64()),
        "c_name": pa.array(c["c_name"][order]),
        "c_nationkey": pa.array(c["c_nationkey"][order], pa.int32()),
        "c_acctbal": pa.array(c["c_acctbal"][order], pa.float64()),
        "c_mktsegment": pa.array(c["c_mktsegment"][order]),
    })


def _orders(rng, keys, custkeys):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.choice(custkeys, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 450000, n), 2),
                                 pa.float64()),
        "o_orderdate": _ts(EPOCH_1992_US + rng.integers(0, 2400, n)
                           * 86_400_000_000),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n)]),
    })


def _warehouse(rng, size, out):
    files = {}
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    # sparse, shuffled natural keys: key order differs from file order
    cust_keys = np.sort(rng.choice(size["customer"] * 20, size["customer"],
                                   replace=False) + 1)
    cust = _customers(rng, cust_keys)
    no = size["orders"]
    order_keys = rng.permutation(np.arange(1, no + 1) * 4)
    orders = _orders(rng, order_keys, cust_keys)
    tables = {"region": region, "nation": nation,
              "customer": _customer_table(cust), "orders": orders}
    for name, tbl in tables.items():
        files[f"bulk/{name}.parquet"] = tbl
    # delta cycles: each version of the source is the previous one with
    # attribute updates, deletes (never re-inserted) and brand-new keys;
    # orders only grow, referencing customers live in that version
    next_key = int(cust_keys.max()) + 1
    next_order = int(order_keys.max()) + 4
    counts = []
    for c in range(1, size["delta_cycles"] + 1):
        n = len(cust["c_custkey"])
        idx = rng.permutation(n)
        n_del = int(n * size["delta_delete"])
        n_upd = int(n * size["delta_update"])
        keep = np.sort(idx[n_del:])
        upd = idx[n_del:n_del + n_upd]
        acct = cust["c_acctbal"].copy()
        seg = cust["c_mktsegment"].copy()
        acct[upd] = np.round(acct[upd] + rng.uniform(1, 500, n_upd), 2)
        seg[upd[::2]] = SEGMENTS[rng.integers(0, len(SEGMENTS),
                                              len(upd[::2]))]
        cust = {k: v for k, v in cust.items()}
        cust["c_acctbal"], cust["c_mktsegment"] = acct, seg
        cust = {k: v[keep] for k, v in cust.items()}
        n_ins = int(n * size["delta_insert"])
        new = _customers(rng, np.arange(next_key, next_key + n_ins))
        next_key += n_ins
        cust = {k: np.concatenate([cust[k], new[k]]) for k in cust}
        n_new_orders = int(no * size["delta_orders"])
        new_orders = _orders(rng, np.arange(n_new_orders) * 4 + next_order,
                             cust["c_custkey"])
        next_order += n_new_orders * 4
        orders = pa.concat_tables([orders, new_orders])
        files[f"delta_{c}/customer.parquet"] = _customer_table(cust)
        files[f"delta_{c}/orders.parquet"] = orders
        counts.append({"cycle": c, "customer_update": n_upd,
                       "customer_delete": n_del, "customer_insert": n_ins,
                       "orders_insert": n_new_orders})
    for rel, tbl in files.items():
        _write(tbl, os.path.join(out, rel))
    return sorted(files), {"delta_counts": counts}


# English documents lean on the first half of the vocabulary and follow a
# word order: each word is one of the 11 vocabulary words after its
# predecessor. The other languages draw words independently, leaning on the
# second half. So the funnel's unigram classifier keeps a stable share of
# the corpus, DSIR (which also counts bigrams) can tell the English
# documents among the survivors apart, and English 5-grams stay varied
# enough that decontamination drops few of them.
_HALF = len(VOCAB) // 2
_FOLLOW = 11
_WORD_P = {
    lang: (lambda w: w / w.sum())(np.where(np.arange(len(VOCAB)) < _HALF,
                                           3.0 if lang == "en" else 1.0,
                                           1.0 if lang == "en" else 1.5))
    for lang in LANGS}


def _doc_text(rng, n_tokens, lang):
    # a third of the other languages' documents borrow English word
    # frequencies but not its word order: the unigram classifier keeps
    # them, and DSIR has non-English survivors to weigh English against
    p = _WORD_P["en" if lang != "en" and rng.random() < 0.3 else lang]
    idx = rng.choice(len(VOCAB), n_tokens, p=p)
    if lang == "en":
        for i in range(1, n_tokens):
            nxt = (idx[i - 1] + np.arange(1, _FOLLOW + 1)) % len(VOCAB)
            idx[i] = rng.choice(nxt, p=p[nxt] / p[nxt].sum())
    return " ".join(VOCAB[i] for i in idx)


def _near_dup(rng, text):
    toks = text.split()
    # one token replaced near the end: 3-shingle Jaccard stays high
    i = len(toks) - 1 - int(rng.integers(0, 2))
    toks[i] = "dup"
    return " ".join(toks)


def _corpus(rng, n, exact_p, near_p):
    langs = LANGS[rng.choice(len(LANGS), n, p=LANG_P)]
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < exact_p:
            base = texts[int(rng.integers(0, i))]
            # same fingerprint after case/whitespace normalisation
            texts.append(("  " + base.upper()) if rng.random() < 0.5
                         else base)
        elif i > 10 and r < exact_p + near_p:
            texts.append(_near_dup(rng, texts[int(rng.integers(0, i))]))
        else:
            texts.append(_doc_text(rng, int(rng.integers(20, 120)), langs[i]))
    ids = rng.permutation(n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _documents(rng, size, out):
    tbl = _corpus(rng, size["documents"], size["exact_dup"], size["near_dup"])
    _write(tbl, os.path.join(out, "documents.parquet"))
    return ["documents.parquet"], {}


def _nearline(rng, size, out):
    tbl = _corpus(rng, size["documents"], size["exact_dup"], size["near_dup"])
    _write(tbl, os.path.join(out, "documents.parquet"))
    # arrival order: a seeded permutation cut into equal micro-batches
    order = rng.permutation(tbl.num_rows)
    b = size["batches"]
    per = tbl.num_rows // b
    files = ["documents.parquet"]
    for i in range(b):
        part = tbl.take(pa.array(order[i * per:(i + 1) * per]))
        rel = f"batches/batch_{i:03d}.parquet"
        _write(part.select(["doc_id", "text"]), os.path.join(out, rel))
        files.append(rel)
    return files, {"docs_per_batch": per}


def _vectors(rng, size, out):
    n, d, k = size["embeddings"], size["dim"], size["clusters"]
    nq = size["queries_per_set"]
    centers = rng.normal(0, 1, (k, d))
    labels = rng.integers(0, k, n)
    emb = centers[labels] + rng.normal(0, 0.6, (n, d))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    # ids 0..nq-1 are reserved for the queries of a query set
    ids = rng.permutation(n) + nq
    files = []

    def table(i, v, lab):
        return pa.table({
            "vec_id": pa.array(i, pa.int64()),
            "embedding": pa.array(list(v.astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(lab, pa.int32())})
    _write(table(ids, emb, labels), os.path.join(out, "embeddings.parquet"))
    files.append("embeddings.parquet")
    for s in range(size["query_sets"]):
        # queries are perturbed corpus vectors: each has real neighbours
        src = rng.integers(0, n, nq)
        q = emb[src] + rng.normal(0, 0.3, (nq, d)) / np.sqrt(d)
        rel = f"queries/set_{s:03d}.parquet"
        _write(table(np.arange(nq), q, labels[src]), os.path.join(out, rel))
        files.append(rel)
    return files, {}


GENERATORS = {"warehouse_load": _warehouse, "corpus_funnel": _documents,
              "nearline_dedup": _nearline, "vector_search": _vectors}


def _gates(workload, size):
    """Which side of the program's size gates the workload's inputs sit on,
    from the gate constants in the program (BloomGuard shards past 2^27
    bits per bitset; IncrementalCC runs union-find on the driver up to
    200000 label-space edges per batch; the ADC scorer fuses its lookup
    tables while queries x 8 subspaces x codebook ids stay within 2^21)."""
    if workload == "nearline_dedup":
        keys = size["documents"]
        bits = max(1 << 21, keys * 24)
        per = size["documents"] // size["batches"]
        return {"bloom_guard": {"keys": keys, "bits": bits,
                                "side": "single bitset" if bits <= 1 << 27
                                else "sharded"},
                "incremental_cc_driver": {
                    "max_edges_per_batch": per * (per - 1) // 2
                    + per * size["documents"],
                    "gate": 200000, "side": "driver union-find"}}
    if workload == "vector_search":
        bound = size["queries_per_set"] * 8 * (
            size["embeddings"] + size["queries_per_set"])
        return {"adc_fused_luts": {"entries_upper_bound": bound,
                                   "gate": 1 << 21,
                                   "side": "fused" if bound <= 1 << 21
                                   else "join fallback"}}
    return {}


def generate(workload, seed, out):
    size = SIZES[workload]
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    rels, extra = GENERATORS[workload](rng, size, out)
    files = {}
    for rel in rels:
        p = os.path.join(out, rel)
        files[rel] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                      "bytes": os.path.getsize(p), "sha256": _sha256(p)}
    # rows one iteration reads: the nearline fold reads the batches, and
    # documents.parquet (the same rows) only feeds the oracle
    rows = sum(f["rows"] for rel, f in files.items()
               if not (workload == "nearline_dedup"
                       and rel == "documents.parquet"))
    manifest = {"workload": workload, "seed": seed,
                "rows_per_iteration": rows,
                "held_out_seed": HELD_OUT_SEED, "sizes": size,
                "files": files, "gates": _gates(workload, size), **extra}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
