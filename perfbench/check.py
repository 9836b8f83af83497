"""Output checks: every workload's output is compared with an independent
reference computed from the generated inputs alone. The DuckDB oracles are
the program's own (`SparkEntry.oracleSql`); the delta-cycle and vector
checks are written here. Each check returns a list of failure messages,
empty when the output is correct."""
import glob
import os
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# the shipped IVF-PQ operating point measures recall@10 >= 0.9 on the sf
# corpora; far below that means the search is broken, not just lossy
MIN_RECALL_AT_10 = 0.8


def _read(path):
    return pq.read_table(path).to_pandas()


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(name, got, want):
    g, w = _norm(got), _norm(want)
    if list(g.columns) != list(w.columns):
        return [f"{name}: columns {list(g.columns)} != {list(w.columns)}"]
    if len(g) != len(w):
        return [f"{name}: {len(g)} rows != oracle {len(w)}"]
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        return [f"{name}: {' | '.join(str(e).splitlines()[:4])}"]
    return []


def _con(tables):
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{path}')")
    return con


def warehouse_load(inp, manifest, outputs, oracles):
    cycles = len(manifest["delta_counts"])
    last = f"{inp}/delta_{cycles}"
    con = _con({"customer": f"{inp}/bulk/customer.parquet",
                "orders": f"{inp}/bulk/orders.parquet",
                "cust_final": f"{last}/customer.parquet",
                "orders_final": f"{last}/orders.parquet",
                **{f"cust_v{c}": f"{inp}/delta_{c}/customer.parquet"
                   for c in range(1, cycles + 1)}})
    for n in ("dm_customer", "dm_customer_hist", "ft_orders"):
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM "
                    f"read_parquet('{outputs[n]}/*.parquet')")
    errs = _same("su_sales_by_segment",
                 _read(outputs["su_sales_by_segment"]),
                 con.execute(oracles["q_pipeline_default"]).df())

    def expect(name, sql):
        bad = con.execute(sql).fetchone()[0]
        if bad:
            errs.append(f"{name}: {bad} offending rows")

    # type-1 dimension from the bulk load: one member per source customer,
    # SKs ranked by natural key
    expect("dm_customer members", """
        SELECT count(*) FROM (
          (SELECT c_custkey, c_name, c_mktsegment FROM dm_customer
           WHERE sk_customer > 0
           EXCEPT ALL SELECT c_custkey, c_name, c_mktsegment FROM customer)
          UNION ALL
          (SELECT c_custkey, c_name, c_mktsegment FROM customer
           EXCEPT ALL SELECT c_custkey, c_name, c_mktsegment FROM dm_customer
           WHERE sk_customer > 0))""")
    expect("dm_customer SKs", """
        SELECT count(*) FROM dm_customer d JOIN (
          SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS sk
          FROM customer) b USING (c_custkey)
        WHERE d.sk_customer <> b.sk""")
    expect("dm_customer SK uniqueness", """
        SELECT count(*) - count(DISTINCT sk_customer) FROM dm_customer""")
    # SCD2 history: current versions equal the last source version, and
    # one version opens per changed or inserted member per cycle
    expect("dm_customer_hist current", """
        SELECT count(*) FROM (
          (SELECT c_custkey, c_name, c_acctbal, c_mktsegment
           FROM dm_customer_hist WHERE is_current
           EXCEPT ALL SELECT c_custkey, c_name, c_acctbal, c_mktsegment
           FROM cust_final)
          UNION ALL
          (SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM cust_final
           EXCEPT ALL SELECT c_custkey, c_name, c_acctbal, c_mktsegment
           FROM dm_customer_hist WHERE is_current))""")
    versions = ["customer"] + [f"cust_v{c}" for c in range(1, cycles + 1)]
    opened = " + ".join(
        f"(SELECT count(*) FROM (SELECT c_custkey, c_name, c_acctbal, "
        f"c_mktsegment FROM {b} EXCEPT SELECT c_custkey, c_name, c_acctbal, "
        f"c_mktsegment FROM {a}))" for a, b in zip(versions, versions[1:]))
    expect("dm_customer_hist versions", f"""
        SELECT abs((SELECT count(*) FROM dm_customer_hist)
          - (SELECT count(*) FROM customer) - ({opened}))""")
    # facts: every order of the last version landed once, priced as in the
    # source, resolved to its customer's SK, or to -1 for a customer the
    # dimension does not hold
    expect("ft_orders rows", """
        SELECT count(*) FROM (
          (SELECT o_orderkey, o_totalprice FROM ft_orders
           EXCEPT ALL SELECT o_orderkey, o_totalprice FROM orders_final)
          UNION ALL
          (SELECT o_orderkey, o_totalprice FROM orders_final
           EXCEPT ALL SELECT o_orderkey, o_totalprice FROM ft_orders))""")
    expect("ft_orders customer SKs", """
        SELECT count(*) FROM ft_orders f
        JOIN orders_final o USING (o_orderkey)
        LEFT JOIN dm_customer d ON d.c_custkey = o.o_custkey
        WHERE f.sk_customer <> coalesce(d.sk_customer, -1)""")
    return errs


def corpus_funnel(inp, manifest, outputs, oracles):
    con = _con({"documents": f"{inp}/documents.parquet"})
    # DuckDB inlines this oracle's ~100 CTEs and then needs ~50 s to
    # optimise the result, whatever the corpus size; materialised, the
    # same CTEs give the same rows in about a second
    sql = re.sub(r"(?m)^(WITH\s+)?(\w+) AS \(",
                 lambda m: f"{m.group(1) or ''}{m.group(2)} AS MATERIALIZED (",
                 oracles["q_pipeline_llm"])
    got = _read(outputs["funnel"])
    errs = _same("funnel", got, con.execute(sql).df())
    if not errs and len(got) == 0:
        errs.append("funnel: no document survived")
    return errs


def nearline_dedup(inp, manifest, outputs, oracles):
    con = _con({"documents": f"{inp}/documents.parquet"})
    return _same("annotated", _read(outputs["annotated"]),
                 con.execute(oracles["q_dedup_annotate"]).df())


def recall_at_10(inp, outputs):
    """Mean recall@10 over every query of every query set, against exact
    cosine top-10 by brute force; also checks that each returned score is
    the exact cosine of its pair."""
    corpus = _read(f"{inp}/embeddings.parquet")
    ids = corpus["vec_id"].to_numpy()
    x = np.stack(corpus["embedding"].to_numpy()).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pos = {v: i for i, v in enumerate(ids)}
    hits, total, errs = 0, 0, []
    for j, qf in enumerate(sorted(glob.glob(f"{inp}/queries/*.parquet"))):
        q = _read(qf)
        res = _read(outputs[f"result_{j}"])
        for qid, v in zip(q["vec_id"], q["embedding"]):
            v = np.asarray(v, dtype=np.float64)
            cos = x @ (v / np.linalg.norm(v))
            exact = set(ids[np.lexsort((ids, -cos))[:10]])
            r = res[res["qid"] == qid].sort_values("rank")
            if len(r) != 10:
                errs.append(f"query set {j} qid {qid}: {len(r)} results")
            for n, c in zip(r["neighbor"], r["cosine"]):
                if abs(cos[pos[n]] - c) > 1e-6:
                    errs.append(f"query set {j} qid {qid}: score of {n} is "
                                f"{c}, exact {cos[pos[n]]}")
                    break
            hits += len(exact & set(r["neighbor"]))
            total += 10
    recall = hits / total if total else 0.0
    if recall < MIN_RECALL_AT_10:
        errs.append(f"recall@10 {recall:.3f} < {MIN_RECALL_AT_10}")
    return recall, errs


def vector_search(inp, manifest, outputs, oracles):
    return recall_at_10(inp, outputs)[1]


CHECKS = {"warehouse_load": warehouse_load, "corpus_funnel": corpus_funnel,
          "nearline_dedup": nearline_dedup, "vector_search": vector_search}


def dir_bytes(path):
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith(".") and not n.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, n))
    return total


def dir_files(path):
    return sum(1 for _, _, names in os.walk(path) for n in names
               if n.endswith(".parquet"))
