"""The serving side: seeded request pools, a fixed request pass replayed
by one closed-loop client, serve-layer tracing and the serving output
checks.

Two request classes:

- ``search``: top-10 BM25. Most entries are plain; seeded shares use
  ``title_boost``, ``field_boost``, ``spam_cap`` or ``dedup``, and some carry
  a misspelled term, so the request also calls ``did_you_mean``.
- ``page``: a ``proximity=True, dedup=True`` top-10 plus display text,
  mostly ``snippets()`` and every fifth ``summaries()``.

The client replays one request pass (``make_pass``) until the run's time is
up. The pass holds a fixed multiset of requests, 35 searches per page
request, drawn once by Zipf from the pools; the run seed orders it. Every
pass of every run therefore does the same work, and the request rate is the
median over the run's passes of requests per second of pass wall time.

Why a fixed pass: a page request costs about 35 search requests, and the
cost of single page requests is heavy-tailed, so with a seeded draw of the
requests the rate of a run followed the seed's few costly page requests.
With 35 searches per page request each class carries about half of the
pass's cost, so a slower page path moves the rate as much as a slower
search path. The median over passes keeps short slow spells of the host
out of the rate.

Query terms follow Zipf popularity over the index dictionary (1-4 per
query). The pass draws from pools wider than the engine's result cache,
with a shallow Zipf, so the cache sees real repeats while hits stay a
minority (a median latency must not sit on the boundary between cached and
uncached answers).
"""

from __future__ import annotations

import dataclasses
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

POOL_SEED = 7
SEARCH_POOL = 5000
PAGE_POOL = 1000
POOL_ZIPF = 0.6     # request popularity over pool entries
TERM_ZIPF = 1.0     # term popularity over the dictionary, by df rank
TERMS_PER_QUERY = ([1, 2, 3, 4], [0.3, 0.35, 0.2, 0.15])
SUMMARY_EVERY = 5    # every 5th page request uses summaries()
# The request mix of a pass. No traffic log exists to take it from, so it
# is set by cost: on the served index a page request costs about 35 search
# requests (mean latencies in four runs of this benchmark: search
# 0.97-1.22 ms, page 37.5-43.4 ms, ratio 33-38), so 35 searches per page
# request give each class about half of the pass's cost, and either path
# getting 2x slower lowers the rate by about a third. 40 page requests make
# a pass of about 3 s, about seven passes in a 20-s run.
PASS_PAGES = 40
PASS_SEARCHES = 35 * PASS_PAGES
CHECKS = 30          # seeded entries per class in the output checks
PRUNE_SAMPLE = 200   # seeded searches behind prune_ratio
TYPO_SHARE = 0.05    # of search entries
SEARCH_VARIANTS = (({}, 0.6), ({"title_boost": True}, 0.1),
                   ({"field_boost": True}, 0.1), ({"spam_cap": True}, 0.1),
                   ({"dedup": True}, 0.1))
K = 10


@dataclass(frozen=True)
class Request:
    kind: str             # "search" | "page"
    query: str
    options: tuple = ()   # search keyword arguments, as sorted items
    typo: bool = False    # search: also call did_you_mean
    summaries: bool = False  # page: summaries() instead of snippets()


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _misspell(term: str, known, rng) -> str | None:
    letters = "abcdefghijklmnopqrstuvwxyz"
    for _ in range(8):
        i = int(rng.integers(0, len(term)))
        cand = term[:i] + letters[int(rng.integers(0, 26))] + term[i + 1:]
        if cand not in known and cand.isalpha():
            return cand
    return None


def make_pool(term_df: dict) -> dict:
    """Request pools over an engine's dictionary (term -> df):
    ``{"search": [...], "page": [...]}``. The pools are fixed (the run seed
    orders the requests): with seeded pools the cost of a seed's few most
    popular entries moved search throughput by 15 % between seeds."""
    rng = np.random.default_rng(POOL_SEED)
    terms = sorted(term_df, key=lambda t: (-int(term_df[t]), t))
    p_term = _zipf_p(len(terms), TERM_ZIPF)
    variants = [v for v, _ in SEARCH_VARIANTS]
    p_var = np.array([w for _, w in SEARCH_VARIANTS])

    def words():
        n = int(rng.choice(TERMS_PER_QUERY[0], p=TERMS_PER_QUERY[1]))
        return [terms[j] for j in rng.choice(
            len(terms), size=min(n, len(terms)), replace=False, p=p_term)]

    pool = {"search": [], "page": [Request("page", " ".join(words()))
                                   for _ in range(PAGE_POOL)]}
    for _ in range(SEARCH_POOL):
        w = words()
        opts = tuple(sorted(variants[int(rng.choice(len(variants),
                                                    p=p_var))].items()))
        typo = False
        if rng.random() < TYPO_SHARE:
            long_words = [j for j, t in enumerate(w) if len(t) >= 4]
            if long_words:
                j = long_words[int(rng.integers(0, len(long_words)))]
                bad = _misspell(w[j], term_df, rng)
                if bad is not None:
                    w[j], typo = bad, True
        pool["search"].append(Request("search", " ".join(w), opts, typo))
    return pool


def make_pass(pool: dict, seed: int) -> list:
    """The request pass: PASS_SEARCHES search and PASS_PAGES page requests,
    drawn by Zipf over pool position with a fixed seed, so every run replays
    the same multiset; ``seed`` orders it. Every SUMMARY_EVERY-th page
    request of the draw uses ``summaries()``."""
    rng = np.random.default_rng(POOL_SEED + 1)
    reqs = []
    for kind, n in (("search", PASS_SEARCHES), ("page", PASS_PAGES)):
        entries = pool[kind]
        idx = rng.choice(len(entries), size=n,
                         p=_zipf_p(len(entries), POOL_ZIPF))
        for j, i in enumerate(idx):
            req = entries[int(i)]
            if kind == "page" and j % SUMMARY_EVERY == 0:
                req = dataclasses.replace(req, summaries=True)
            reqs.append(req)
    order = np.random.default_rng(seed).permutation(len(reqs))
    return [reqs[int(i)] for i in order]


def execute(engine, req: Request):
    """Serve one request; -> (hits, display text or None)."""
    if req.kind == "search":
        if req.typo:
            engine.did_you_mean(req.query)
        return engine.search(req.query, k=K, **dict(req.options)), None
    hits = engine.search(req.query, k=K, proximity=True, dedup=True)
    ids = [d for d, _ in hits]
    if req.summaries:
        return hits, engine.summaries(ids, req.query)
    return hits, engine.snippets(ids)


@dataclass
class LoopResult:
    requests: int = 0
    failed: int = 0
    pass_s: list = dataclasses.field(default_factory=list)
    latency_s: dict = dataclasses.field(
        default_factory=lambda: {"search": [], "page": []})

    def percentile_ms(self, kind: str, q: float) -> float:
        return float(np.percentile(self.latency_s[kind], q)) * 1e3


def closed_loop(engine, reqs: list, seconds: float,
                tracer=None) -> LoopResult:
    """One client replays the pass ``reqs``, sending each request when the
    previous one returns, until ``seconds`` have passed at the end of a
    pass (at least one pass). Latencies are per request, walls per pass."""
    out = LoopResult()
    clock = time.perf_counter
    deadline = clock() + seconds
    while True:
        p0 = clock()
        for req in reqs:
            if tracer is not None:
                tracer.request += 1
            t0 = clock()
            try:
                execute(engine, req)
            except Exception:  # a failed request is counted, not fatal
                out.failed += 1
                traceback.print_exc(file=sys.stderr)
            t1 = clock()
            out.latency_s[req.kind].append(t1 - t0)
        out.requests += len(reqs)
        out.pass_s.append(clock() - p0)
        if clock() >= deadline:
            return out


def loop_metrics(res: LoopResult, pass_len: int) -> tuple[dict, dict]:
    """-> (end-to-end, per-layer) metrics of a ``closed_loop`` result. The
    rate is the median over passes of pass requests / pass wall time."""
    lat = res.latency_s
    return {"throughput_per_s":
            pass_len / statistics.median(res.pass_s)}, {
        "serve.search_mean_ms": float(np.mean(lat["search"])) * 1e3,
        "serve.search_p50_ms": res.percentile_ms("search", 50),
        "serve.search_p99_ms": res.percentile_ms("search", 99),
        "serve.page_mean_ms": float(np.mean(lat["page"])) * 1e3,
        "serve.page_p50_ms": res.percentile_ms("page", 50),
        "serve.page_p95_ms": res.percentile_ms("page", 95),
        "serve.search_samples": len(lat["search"]),
        "serve.page_samples": len(lat["page"]),
    }


# -- tracing -------------------------------------------------------------------

class ServeCounters:
    """Block and cache counters gathered at the ``QueryEngine.search``
    boundary: the wrapper zeroes the engine's per-search
    ``blocks_total``/``blocks_scored`` before each call and adds them up
    after an uncached non-dedup one."""

    def __init__(self):
        self.blocks_total = self.blocks_scored = 0
        self.searches = self.cache_hits = 0
        self.lru_gets = self.lru_misses = 0


def install_serve_tracing(tracer, counters: ServeCounters) -> None:
    from hadoopsearchengine_spark.kernel import bm25, codec
    from hadoopsearchengine_spark.operators import wand

    for attr in ("tokenize", "decode_deltas", "decode_tfs",
                 "sweep_range_bounds", "blocks_in_range"):
        tracer.patch(wand, attr, f"wand.{attr}")
    tracer.patch(bm25, "contrib", "bm25.contrib")
    tracer.patch(bm25, "proximity_multiplier", "bm25.proximity_multiplier")
    tracer.patch(codec, "decode_positions", "codec.decode_positions")
    for attr in ("snippets", "summaries", "did_you_mean"):
        tracer.patch(wand.QueryEngine, attr, f"QueryEngine.{attr}")

    search = tracer.wrap(wand.QueryEngine.search, "QueryEngine.search")
    depth = [0]

    def counted_search(self, query, *args, **kwargs):
        # a dedup search calls search() again from inside; only the outer
        # call is a request's search
        if depth[0]:
            return search(self, query, *args, **kwargs)
        hits0 = self.result_cache_hits
        self.blocks_total = self.blocks_scored = 0
        depth[0] += 1
        try:
            out = search(self, query, *args, **kwargs)
        finally:
            depth[0] -= 1
        counters.searches += 1
        if self.result_cache_hits != hits0:
            counters.cache_hits += 1
        elif not kwargs.get("dedup"):
            counters.blocks_total += self.blocks_total
            counters.blocks_scored += self.blocks_scored
        return out

    tracer.replace(wand.QueryEngine, "search", counted_search)

    lru_get = wand._LRU.get

    def counted_get(self, key):
        got = lru_get(self, key)
        counters.lru_gets += 1
        if got is None:
            counters.lru_misses += 1
        return got

    tracer.replace(wand._LRU, "get", counted_get)


def serve_layers(tracer, counters: ServeCounters) -> dict:
    """Per-layer metrics of a traced serving window."""
    s = tracer.summary()

    def tot(name):
        return s.get(name, {}).get("total_s", 0.0)

    def cnt(name):
        return s.get(name, {}).get("count", 0)

    decode_names = ("wand.decode_deltas", "wand.decode_tfs",
                    "codec.decode_positions")
    decode_s = sum(tot(n) for n in decode_names)
    blocks_decoded = cnt("wand.decode_deltas")
    c = counters
    return {
        "kernel.codec.decode_s": decode_s,
        "kernel.codec.decode_us_per_block":
            1e6 * decode_s / blocks_decoded if blocks_decoded else 0.0,
        "kernel.codec.decode_calls": sum(cnt(n) for n in decode_names),
        "kernel.tokenize.search_s": tot("wand.tokenize"),
        "operators.wand.sweep_s": tot("wand.sweep_range_bounds"),
        "operators.wand.range_s": tot("wand.blocks_in_range"),
        "operators.wand.search_self_s":
            s.get("QueryEngine.search", {}).get("self_s", 0.0),
        "kernel.bm25.contrib_s": tot("bm25.contrib"),
        "kernel.bm25.proximity_s": tot("bm25.proximity_multiplier"),
        "operators.wand.snippets_s": tot("QueryEngine.snippets"),
        "operators.summary.summaries_s": tot("QueryEngine.summaries"),
        "operators.spell.did_you_mean_s": tot("QueryEngine.did_you_mean"),
        "operators.wand.blocks_total": c.blocks_total,
        "operators.wand.blocks_scored": c.blocks_scored,
        "operators.wand.decode_miss_ratio":
            c.lru_misses / c.lru_gets if c.lru_gets else 0.0,
        "operators.wand.result_cache_hit_ratio":
            c.cache_hits / c.searches if c.searches else 0.0,
    }


def prune_ratio(engine, pool: dict, seed: int) -> float:
    """Share of block visits the prune skips, on a seeded sample of search
    entries scored with and without pruning. ``engine`` must have its result
    cache off, so every call sets the engine's block counters."""
    rng = np.random.default_rng(seed + 5)
    searches = pool["search"]
    pruned = full = 0
    for i in rng.choice(len(searches), size=min(PRUNE_SAMPLE, len(searches)),
                        replace=False):
        req = searches[int(i)]
        opts = {k: v for k, v in req.options if k != "dedup"}
        for prune in (True, False):
            engine.blocks_scored = 0
            engine.search(req.query, k=K, prune=prune, **opts)
            if prune:
                pruned += engine.blocks_scored
            else:
                full += engine.blocks_scored
    return 1.0 - pruned / full if full else 0.0


# -- output checks (outside timed windows) -------------------------------------

def check_serving(engine, pool: dict, seed: int) -> list:
    """A seeded sample of each class: pruned results equal ``prune=False``
    results, and every page result carries non-empty display text.
    -> problems."""
    rng = np.random.default_rng(seed + 7)
    sample = [entries[int(i)] for entries in pool.values()
              for i in rng.choice(len(entries),
                                  size=min(CHECKS, len(entries)),
                                  replace=False)]
    problems = []
    for req in sample:
        opts = (dict(req.options) if req.kind == "search"
                else {"proximity": True, "dedup": True})
        a = engine.search(req.query, k=K, prune=True, **opts)
        b = engine.search(req.query, k=K, prune=False, **opts)
        if a != b:
            problems.append(f"prune != no-prune for {req}")
        if req.kind == "page":
            _hits, text = execute(engine, req)
            empty = [d for d, _ in a if not text.get(d)]
            if empty:
                problems.append(f"no display text for docs {empty} in {req}")
    return problems
