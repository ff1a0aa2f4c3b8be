"""The two workloads, ``build`` and ``serve``.

Both report the same end-to-end metrics (see README.md for what each means
on each workload); per-layer metrics of layers a workload does not run
read 0.
"""

from __future__ import annotations

import gc
import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import analytics
import serving
from run import ROOT, dir_bytes
from tracing import Tracer

BUILD_PAGES = {"full": 1000, "tiny": 60}
SERVE_PAGES = {"full": 1000, "tiny": 200}
SERVE_CORPUS_SEED = 42     # the served corpus is fixed; the seed picks queries
GEN_REPEATS = 3            # build set-up: corpus generations per run
LOAD_REPEATS = 40          # serve set-up: engine loads per run
# serve: the engine's decode caches, in blocks each. The default (16384)
# holds every block of the served index (4891), so after one pass no block
# would be decoded on the request path; 512 keeps decoding there, as for an
# index larger than its cache. An LRU holds the last 512 distinct blocks of
# a pass, the same after every pass, so one warm-up pass makes it steady.
DECODE_CACHE = 512
STAGES = ("docs_ids", "extracted", "doc_terms", "anchor_terms", "links",
          "pagerank", "terms", "docs", "stats", "postings")
BYTE_STAGES = ("postings", "docs", "terms", "doc_terms", "extracted")


@dataclass
class Result:
    end_to_end: dict
    per_layer: dict
    attempted: int
    failed: int
    problems: list = field(default_factory=list)


def _trace_path(run) -> str:
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    return os.path.join(out, f"trace-{run.args.workload}.csv.gz")


def _index_layers(index_dir: str, manifest_rows: list) -> dict:
    import pyarrow.parquet as pq
    by_stage = {r["stage"]: r["bytes"] for r in manifest_rows}
    out = {f"plans.bytes.{s}": by_stage.get(s, 0) for s in BYTE_STAGES}
    out["plans.postings.blocks"] = pq.read_table(
        f"{index_dir}/postings", columns=["term_id"]).num_rows
    return out


# -- build ---------------------------------------------------------------------

def _spark_counts(sc, job_ids) -> dict:
    """Jobs, stages, completed and failed tasks of the given Spark jobs."""
    tracker = sc.statusTracker()
    stages = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return {"plans.spark.jobs": len(job_ids), "plans.spark.stages": len(stages),
            "plans.spark.tasks": tasks, "plans.spark.failed_tasks": failed}


def _kernel_samples(pages: list, oracle, seed: int) -> dict:
    """Driver-side calls into the build's kernels on a seeded page sample."""
    from hadoopsearchengine_spark.kernel import codec
    from hadoopsearchengine_spark.kernel.htmlx import extract
    from hadoopsearchengine_spark.kernel.tokenize import tokenize
    from hadoopsearchengine_spark.plans.build_index import DEFAULT_BLOCK_DOCS
    rng = np.random.default_rng(seed + 3)
    sample = [pages[int(i)] for i in
              rng.choice(len(pages), size=min(100, len(pages)),
                         replace=False)]
    clock = time.perf_counter
    t0 = clock()
    texts = [extract(p["html"], p["url"]).text for p in sample]
    t1 = clock()
    for t in texts:
        tokenize(t)
    t2 = clock()
    blocks = []
    for term in rng.choice(oracle.terms, size=min(200, len(oracle.terms)),
                           replace=False):
        pl = oracle.postings.get(str(term), [])[:DEFAULT_BLOCK_DOCS]
        if pl:
            blocks.append((np.array([d for d, _, _ in pl], np.int64),
                           np.array([tf for _, tf, _ in pl], np.int64),
                           np.array([p for _, _, ps in pl for p in ps],
                                    np.int64)))
    t3 = clock()
    for ids, tfs, pos in blocks:
        codec.encode_deltas(ids)
        codec.encode_tfs(tfs)
        codec.encode_positions(pos, tfs)
    t4 = clock()
    return {
        "kernel.htmlx.extract_us_per_page": 1e6 * (t1 - t0) / len(sample),
        "kernel.tokenize.us_per_page": 1e6 * (t2 - t1) / len(sample),
        "kernel.codec.encode_us_per_block":
            1e6 * (t4 - t3) / max(len(blocks), 1),
    }


def _check_ranks(engine, oracle, pool: dict) -> list:
    """Rank identity against the single-node oracle: doc ids equal, scores
    within 1e-6 — the reference queries under every scoring variant, plus
    the pool's first 40 plain searches."""
    from hadoopsearchengine_spark.sources.pages import REFERENCE_QUERIES
    cases = [(q, {}, oracle.bm25_topk) for q in REFERENCE_QUERIES]
    cases += [(q, {"proximity": True}, oracle.bm25_topk_prox)
              for q in REFERENCE_QUERIES]
    cases += [(q, {"title_boost": True}, oracle.bm25_topk_title)
              for q in REFERENCE_QUERIES]
    cases += [(q, {"field_boost": True}, oracle.bm25_topk_fields)
              for q in REFERENCE_QUERIES]
    plain = [r.query for r in pool["search"]
             if not r.options and not r.typo]
    cases += [(q, {}, oracle.bm25_topk) for q in plain[:40]]
    problems = []
    for q, opts, want_fn in cases:
        got, want = engine.search(q, k=10, **opts), want_fn(q, k=10)
        if ([d for d, _ in got] != [d for d, _ in want]
                or any(abs(g - w) > 1e-6
                       for (_, g), (_, w) in zip(got, want))):
            problems.append(f"rank mismatch vs oracle: {q!r} {opts}")
    return problems


def run_build(run) -> Result:
    """A cold ``build_index`` over a seeded corpus; the fresh index is then
    checked against the single-node oracle."""
    from hadoopsearchengine_spark.operators.wand import QueryEngine
    from hadoopsearchengine_spark.plans.build_index import build_index
    from hadoopsearchengine_spark.plans.manifest import Manifest
    from hadoopsearchengine_spark.sources.pages import (
        synth_pages_local, write_pages)
    from oracle.index import OracleIndex

    n_pages = BUILD_PAGES[run.args.size]
    tracer = Tracer() if run.args.trace else None
    spark = run.spark()
    sc = spark.sparkContext

    gen_s = []
    for i in range(GEN_REPEATS):
        t0 = time.perf_counter()
        write_pages(spark, n_pages, run.path(f"pages{i}"), seed=run.seed)
        gen_s.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(run.path(f"pages{i - 1}"))
    pages = run.path(f"pages{GEN_REPEATS - 1}")

    index = run.path("index")
    jobs_before = set(sc.statusTracker().getJobIdsForGroup(None))
    stage_end = {}
    if tracer is not None:
        record = Manifest.record

        def timed_record(self, stage, *args, **kwargs):
            stage_end[stage] = time.perf_counter()
            return record(self, stage, *args, **kwargs)

        tracer.replace(Manifest, "record", timed_record)
    try:
        t0 = time.perf_counter()
        built = build_index(spark, pages, index)
        build_wall = time.perf_counter() - t0
    finally:
        if tracer is not None:
            tracer.restore()
    shutil.rmtree(pages)
    stage_sec = built["stage_sec"]
    layers = {f"plans.stage.{s}_s": stage_sec.get(s, 0.0) for s in STAGES}
    layers["plans.overlap"] = sum(stage_sec.values()) / build_wall
    layers["sources.pages.gen_s"] = statistics.median(gen_s)
    layers.update(_spark_counts(
        sc, set(sc.statusTracker().getJobIdsForGroup(None)) - jobs_before))
    layers.update(_index_layers(index, built["manifest"]))
    index_mb = dir_bytes(index) / 2**20
    attempted, failed, problems = 1, 0, []

    if tracer is not None:
        for s, end in stage_end.items():
            tracer.add(f"plans.{s}", end - stage_sec.get(s, 0.0), end)
        ops, op_problems = analytics.run_pass(spark, analytics.TABLES,
                                              run.seed, tracer)
        attempted += len(analytics.OPS)
        failed += len(op_problems)
        problems += op_problems + analytics.check_goldens(ops)
        for op, r in ops.items():
            layers[f"entry.{op}_s"] = r["s"]
            layers[f"entry.{op}.jobs"] = r["jobs"]
    run.stop_spark()

    t0 = time.perf_counter()
    engine = QueryEngine(index)
    layers["operators.wand.load_s"] = time.perf_counter() - t0
    pool = serving.make_pool(engine.term_df)
    pages_local = synth_pages_local(n_pages, run.seed)
    oracle = OracleIndex(pages_local)
    problems += _check_ranks(engine, oracle, pool)
    problems += serving.check_serving(engine, pool, run.seed)
    if tracer is not None:
        layers.update(_kernel_samples(pages_local, oracle, run.seed))
        tracer.write(_trace_path(run))

    e2e = {"setup_s": statistics.median(gen_s),
           "throughput_per_s": n_pages / build_wall,
           "footprint_mb": index_mb}
    return Result(e2e, layers, attempted, failed, problems)


# -- serve ---------------------------------------------------------------------

def _source_hash() -> str:
    """Digest of the sources that produce the served index: the engine
    package and this file (which sets the build's arguments)."""
    h = hashlib.sha256()
    files = [os.path.abspath(__file__)]
    for dirpath, dirs, names in os.walk(
            os.path.join(ROOT, "hadoopsearchengine_spark")):
        dirs.sort()
        files += [os.path.join(dirpath, n) for n in sorted(names)
                  if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def served_index(run, n_pages: int) -> str:
    """The served index, built once per checkout and source version from a
    fixed corpus and kept under .bench_build/ (built into a temporary name,
    then renamed). The name carries a digest of the index-producing sources,
    so a code change builds a new one (an index takes about 3 MB)."""
    from hadoopsearchengine_spark.plans.build_index import build_index
    from hadoopsearchengine_spark.sources.pages import write_pages
    final = os.path.join(
        ROOT, ".bench_build",
        f"serve-index-{n_pages}-{SERVE_CORPUS_SEED}-{_source_hash()}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    pages = run.path("serve-pages")
    try:
        spark = run.spark()
        write_pages(spark, n_pages, pages, seed=SERVE_CORPUS_SEED)
        build_index(spark, pages, tmp)
        run.stop_spark()
        shutil.rmtree(pages)
        if not os.path.isdir(final):
            os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def run_serve(run) -> Result:
    """A warm ``QueryEngine`` over the served index, one closed-loop client
    replaying the seeded request pass for ``--seconds``; Spark is not
    running during the loop. With tracing on, a second engine is loaded and
    warmed the same way and replays the same pass with spans recorded, so
    both loops start from equal cache states; the difference in their
    request rates is the tracing cost."""
    from hadoopsearchengine_spark.operators.wand import QueryEngine
    from hadoopsearchengine_spark.plans.manifest import Manifest
    index = served_index(run, SERVE_PAGES[run.args.size])

    load_s = []
    for _ in range(LOAD_REPEATS):
        t0 = time.perf_counter()
        engine = QueryEngine(index, decode_cache=DECODE_CACHE)
        load_s.append(time.perf_counter() - t0)
    pool = serving.make_pool(engine.term_df)

    reqs = serving.make_pass(pool, run.seed)

    def warm(engine):
        # one untimed pass leaves the engine's caches as every later pass
        # leaves them
        serving.closed_loop(engine, reqs, 0)
        return engine

    def timed(engine, tracer=None):
        gc.collect()
        gc.freeze()
        try:
            return serving.closed_loop(engine, reqs, run.args.seconds,
                                       tracer=tracer)
        finally:
            gc.unfreeze()

    res = timed(warm(engine))
    e2e, layers = serving.loop_metrics(res, len(reqs))
    if run.args.trace:
        tracer = Tracer()
        counters = serving.ServeCounters()
        traced_engine = warm(QueryEngine(index, decode_cache=DECODE_CACHE))
        serving.install_serve_tracing(tracer, counters)
        try:
            traced, _ = serving.loop_metrics(timed(traced_engine, tracer),
                                             len(reqs))
        finally:
            tracer.restore()
        tracer.write(_trace_path(run))
        layers.update(serving.serve_layers(tracer, counters))
        layers["operators.wand.prune_ratio"] = serving.prune_ratio(
            QueryEngine(index, result_cache=0), pool, run.seed)
        layers["trace.overhead_pct"] = 100.0 * (
            e2e["throughput_per_s"] / traced["throughput_per_s"] - 1.0)
    layers["operators.wand.load_s"] = statistics.median(load_s)
    layers.update(_index_layers(index, Manifest(None, index).rows()))
    problems = serving.check_serving(engine, pool, run.seed)

    e2e["setup_s"] = statistics.median(load_s)
    e2e["footprint_mb"] = engine.memory_bytes() / 2**20
    return Result(e2e, layers, res.requests, res.failed, problems)


WORKLOADS = {"build": run_build, "serve": run_serve}
