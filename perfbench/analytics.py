"""The analytics op pass: 14 ``__spark_entry__`` operators over the fixed
tables in ``tables/``.

``tables/`` holds a copy of the four sf0.001 test tables the ops read
(``documents``, ``embeddings``, ``events``, ``lineitem``), kept inside the
benchmark because a run reads only its own checkout. The data are fixed, so
each op's result is checked against a stored golden row count and digest
(``goldens.json``, made and cross-checked against the DuckDB
``oracle_sql()`` by ``make_goldens.py``); the run seed only permutes the op
order.

Each op is timed as construction plus ``toPandas()``: some ops do eager work
while being built, and ``count()`` would let Spark prune columns.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pandas as pd

# (family, ops) — dedup, iteration, and controls
FAMILIES = {
    "dedup": ["txt_ngram_jaccard", "txt_minhash_lsh", "txt_simhash_pairs",
              "sim_neardup", "txt_neardup_groups", "sim_semdedup"],
    "iteration": ["graph_pagerank", "graph_keyword_pagerank",
                  "graph_expected_reward", "stream_dedup_stateful"],
    "control": ["rel_topk_per_group", "src_iceberg_eq_deletes",
                "txt_bm25_batch", "txt_token_counts"],
}
OPS = [op for ops in FAMILIES.values() for op in ops]
_HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = os.path.join(_HERE, "tables")
GOLDENS = os.path.join(_HERE, "goldens.json")

def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: columns sorted by name, floats
    rounded to 6 decimals, rows sorted."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        col = pdf[c]
        if pd.api.types.is_float_dtype(col):
            pdf[c] = col.astype("float64").round(6) + 0.0  # no -0.0
        elif pd.api.types.is_datetime64_any_dtype(col):
            pdf[c] = col.astype("datetime64[us]").astype(str)
        elif col.dtype == object:
            pdf[c] = col.map(repr)
    pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return hashlib.sha256(
        pdf.to_csv(index=False, float_format="%.6f").encode()).hexdigest()


def run_pass(spark, data_dir: str, seed: int, tracer=None):
    """Run every op once in a seeded order.

    -> (per-op {"s", "jobs", "rows", "digest"}, problems)."""
    import __spark_entry__ as entry
    queries = entry.queries()
    sc = spark.sparkContext
    order = list(OPS)
    np.random.default_rng(seed).shuffle(order)
    out, problems = {}, []
    for op in order:
        group = f"perfbench-{op}"
        sc.setJobGroup(group, op)
        t0 = time.perf_counter()
        try:
            pdf = queries[op](spark, data_dir).toPandas()
        except Exception as e:  # a failed op is counted, not fatal
            problems.append(f"{op}: {type(e).__name__}: {e}")
            continue
        finally:
            t1 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            if tracer is not None:
                tracer.add(f"entry.{op}", t0, t1)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        out[op] = {"s": t1 - t0, "jobs": len(jobs), "rows": len(pdf),
                   "digest": digest(pdf)}
    return out, problems


def check_goldens(results: dict) -> list:
    with open(GOLDENS) as f:
        gold = json.load(f)
    problems = []
    for op, got in results.items():
        want = gold.get(op)
        if want is None:
            problems.append(f"{op}: no golden")
        elif (got["rows"], got["digest"]) != (want["rows"], want["digest"]):
            problems.append(f"{op}: rows/digest {got['rows']}/"
                            f"{got['digest'][:12]} != golden {want['rows']}/"
                            f"{want['digest'][:12]}")
    return problems
