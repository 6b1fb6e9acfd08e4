"""analytics: batch analyst queries over the fixed corpus (corpus.py).

Set-up writes the corpus and registers its tables.  Then one cold pass
runs the pinned query list in a fresh session (every session silver is
built by whichever query first needs it), and warm passes repeat the list
in a seed-shuffled order until the run's seconds are used (at least
``MIN_WARM_PASSES``).  ``warm_s`` is the sum of each query's median warm
time: one warm pass with every query at its median.
Every pass collects every result and checks its row count and
order-insensitive hash against ``expected/analytics.json``.

Traced runs first build and force each session silver under its own span,
so silver build cost is reported per silver instead of being charged to
the first query that touches it.
"""

from __future__ import annotations

import importlib
import json
import os
import random
import statistics
import time

import corpus
from common import EXPECTED_DIR, WORK, result_signature, storage_mb

# Drawn from bench.py's HEADLINE list: consumers of the shingle/MinHash,
# SimHash and embedding-statistics silvers.  On the benchmark corpus the
# similarity self-join keeps the executors busy, while the dedup queries
# stay bound by per-job driver work (see corpus.py for the sizes).  The
# whole 52-query list does not fit the benchmark's time budget (its cold
# pass alone is ~80 s on 4 cores); bench.py's inline-only approx_top_ngrams
# is among those left out, and so is bm25_search (its cold run alone took
# ~9 s of a ~25 s cold pass on 4 vCPUs); traced runs still build its BM25
# silvers.
# Name -> the classic_fcd_spark.queries module it lives in; names resolve
# through query_fn_map() first, then that module.
QUERIES = {
    "minhash_lsh_near_dups": "dedup",
    "near_dup_groups": "dedup",
    "embedding_similar_pairs": "similarity",
}

# Session silvers, forced one by one in traced runs (scalar memos have no
# persisted bytes, so only the table silvers report .mb).
SILVERS = [
    "shingle_table",
    "shingle_stats",
    "banded_minhash_table",
    "simhash_silver",
    "simhash_grp_table",
    "bm25_postings_table",
    "bm25_corpus_stats",
    "embedding_stats",
]
TABLE_SILVERS = ["shingle_table", "banded_minhash_table", "simhash_silver",
                 "simhash_grp_table", "bm25_postings_table"]

# The first warm pass still runs slower than the later ones (the JVM is
# still compiling), so one pass alone is a poor figure; the warm phase runs
# at least this many passes and reports each query's median.
MIN_WARM_PASSES = 3

NAMED = {
    "query.embedding_similar_pairs.warm_s": ("embedding_similar_pairs", "warm"),
    "query.near_dup_groups.warm_s": ("near_dup_groups", "warm"),
    "query.minhash_lsh_near_dups.cold_s": ("minhash_lsh_near_dups", "cold"),
}
MODULES = sorted(set(QUERIES.values()))


def resolve() -> dict:
    from classic_fcd_spark.queries import query_fn_map

    registry = query_fn_map()
    fns = {}
    for name, mod in QUERIES.items():
        fn = registry.get(name)
        if fn is None:
            fn = getattr(importlib.import_module(f"classic_fcd_spark.queries.{mod}"), name)
        fns[name] = fn
    return fns


def corpus_dir() -> str:
    return os.path.join(WORK, "corpus")


def load_expected() -> dict:
    with open(os.path.join(EXPECTED_DIR, "analytics.json")) as f:
        return json.load(f)


def run(ctx) -> dict:
    from classic_fcd_spark.session import load_tables

    spark, tracer = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    data = corpus.write_corpus(corpus_dir())
    fns = resolve()
    expected = load_expected()
    load_tables(spark, data)
    setup_s = time.perf_counter() - t0

    silver_mb = {}
    if tracer.enabled:
        from pyspark.sql import DataFrame

        import classic_fcd_spark.session as session

        for name in SILVERS:
            before = storage_mb(spark)
            with tracer.span(f"silver:{name}"):
                out = getattr(session, name)(spark, data)
                if isinstance(out, DataFrame):
                    out.count()
            silver_mb[name] = storage_mb(spark) - before

    attempted = failed = 0
    timings: list[tuple[str, str, float]] = []  # (query, phase, seconds)

    def one(name: str, phase: str) -> None:
        nonlocal attempted, failed
        attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span(f"query:{QUERIES[name]}:{name}:{phase}"):
                df = fns[name](spark, data)
                rows = df.collect()
            dt = time.perf_counter() - t
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, not dropped
            failed += 1
            ctx.errors.append(f"{name}/{phase}: {type(exc).__name__}: {str(exc)[:300]}")
            return
        timings.append((name, phase, dt))
        got = result_signature(df.columns, rows)
        if got != expected.get(name):
            failed += 1
            ctx.errors.append(f"{name}/{phase}: signature {got} != expected {expected.get(name)}")

    t = time.perf_counter()
    for name in QUERIES:
        one(name, "cold")
    cold_s = time.perf_counter() - t

    rng = random.Random(ctx.seed)
    order = list(QUERIES)
    pass_s: list[float] = []
    warm_start = time.perf_counter()
    while len(pass_s) < MIN_WARM_PASSES or time.perf_counter() - warm_start < ctx.seconds:
        rng.shuffle(order)
        t = time.perf_counter()
        for name in order:
            one(name, "warm")
        pass_s.append(time.perf_counter() - t)
    warm = [dt for _, phase, dt in timings if phase == "warm"]
    warm_by_query = {
        n: statistics.median(dt for m, p, dt in timings if m == n and p == "warm")
        for n in QUERIES
        if any(m == n and p == "warm" for m, p, _ in timings)
    }

    return {
        "setup_s": setup_s,
        "cold_s": cold_s,
        "warm_s": sum(warm_by_query.values()),
        "read_ms": [x * 1000 for x in warm],
        "read_per_s": len(warm) / sum(pass_s),
        "attempted": attempted,
        "failed": failed,
        "detail": {
            "queries": len(QUERIES),
            "warm_pass_s": pass_s,
            "cold_by_query_s": {n: round(dt, 4) for n, p, dt in timings if p == "cold"},
            "warm_median_by_query_s": {n: round(dt, 4) for n, dt in warm_by_query.items()},
        },
        "data_dir": data,
        "silver_mb": silver_mb,
    }


def layer_metrics(ctx, result: dict, counters: dict) -> dict:
    """queries.<module>.* and query.<name>.* from the query spans,
    session.<silver>.* from the silver spans."""
    tracer = ctx.tracer
    selfs = tracer.self_seconds()
    out = {}
    for name in SILVERS:
        spans = tracer.closed(f"silver:{name}")
        out[f"session.{name}.build_s"] = sum(selfs[s["id"]] for s in spans)
    for name in TABLE_SILVERS:
        out[f"session.{name}.mb"] = result["silver_mb"][name]
    warm_passes = len(result["detail"]["warm_pass_s"])
    for mod in MODULES:
        spans = tracer.closed(f"query:{mod}:")
        for phase in ("cold", "warm"):
            out[f"queries.{mod}.{phase}_s"] = sum(
                selfs[s["id"]] for s in spans if s["name"].endswith(f":{phase}")
            ) / (warm_passes if phase == "warm" else 1)
        cnt = [counters.get(s["id"], {}) for s in spans]
        out[f"queries.{mod}.executor_cpu_ms"] = sum(c.get("executor_cpu_ms", 0) for c in cnt)
        out[f"queries.{mod}.shuffle_bytes"] = sum(c.get("shuffle_bytes", 0) for c in cnt)
        out[f"queries.{mod}.jobs"] = sum(c.get("jobs", 0) for c in cnt)
    for metric, (name, phase) in NAMED.items():
        spans = tracer.closed(f"query:{QUERIES[name]}:{name}:{phase}")
        vals = [selfs[s["id"]] for s in spans]
        out[metric] = statistics.median(vals) if vals else 0.0
    return out


def layer_names() -> list[str]:
    names = [f"session.{n}.build_s" for n in SILVERS]
    names += [f"session.{n}.mb" for n in TABLE_SILVERS]
    for mod in MODULES:
        names += [f"queries.{mod}.{m}" for m in
                  ("cold_s", "warm_s", "executor_cpu_ms", "shuffle_bytes", "jobs")]
    names += list(NAMED)
    return names
