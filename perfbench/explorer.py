"""Explorer traffic: one closed-loop client reading what the collector
wrote.

The client sends rounds of requests and waits for each reply before
sending the next.  Every round holds the same fixed mix — mostly point
lookups over the serving extract, then one call of each wrapper — in a
seed-shuffled order with seed-picked keys:

- ``lookup_tx``: a random tx hash, upper-cased three times in ten (the
  lookup is case-insensitive);
- ``lookup_account_page``: a random account's first page;
- ``hot_keyset_page``: the next page of a keyset walk over a hot account
  (the seed picks it among the three busiest), restarting at the end;
- the dashboard, governance, staking, market and treasury wrappers from
  serving/routes.py, with seeded keys.

Lookup answers are checked against expectations computed in plain Python
from the fixture rows; wrapper responses against the digests pinned in
``expected/api.json``.  The first call of each request class is set-up;
rounds then run until the run's seconds are used (at least one), and the
median round time is what the workload reports.
"""

from __future__ import annotations

import importlib
import json
import os
import random
import statistics
import time

from common import EXPECTED_DIR, digest

LIMIT = 10
LOOKUPS = {"lookup_tx": 8, "lookup_account_page": 6, "hot_keyset_page": 3}
WRAPPERS = [
    "endpoints.get_dashboard_general_info",
    "endpoints.get_proposal_votes",
    "endpoints.get_staking_account_view",
    "endpoints.get_market_price",
    "detail.get_tax_proceeds",
]
CLASSES = list(LOOKUPS) + WRAPPERS
ROUND = [c for c, k in LOOKUPS.items() for _ in range(k)] + WRAPPERS


def wrapper_keys() -> dict[str, list[tuple]]:
    """Wrapper -> the argument tuples the mix draws from."""
    from classic_fcd_spark.sources.fixtures import addr_str

    keys: dict[str, list[tuple]] = {w: [()] for w in WRAPPERS}
    keys["endpoints.get_proposal_votes"] = [(p,) for p in range(4)]
    keys["endpoints.get_staking_account_view"] = [(addr_str(i),) for i in range(8)]
    keys["endpoints.get_market_price"] = [(d,) for d in ("ukrw", "usdr", "uusd")]
    return keys


def call_wrapper(spark, cls: str, key: tuple):
    mod, fn = cls.split(".")
    return getattr(importlib.import_module(f"classic_fcd_spark.serving.{mod}"), fn)(spark, *key)


class Client:
    """Issues one request at a time and checks each answer."""

    def __init__(self, spark, ext: str, txs, rng: random.Random):
        from classic_fcd_spark.pipeline.medallion import account_tx_silver

        self.spark, self.ext, self.rng = spark, ext, rng
        self.txs = sorted((r["hash"], r["height"]) for r in txs.select("hash", "height").collect())
        self.pages: dict[str, list] = {}
        for r in account_tx_silver(txs).select("account", "height", "hash").collect():
            self.pages.setdefault(r["account"], []).append((r["height"], r["hash"]))
        for v in self.pages.values():
            v.sort(reverse=True)
        self.accounts = sorted(self.pages)
        busiest = sorted(self.accounts, key=lambda a: (-len(self.pages[a]), a))[:3]
        self.hot = rng.choice(busiest)
        self.hot_cursor = None
        with open(os.path.join(EXPECTED_DIR, "api.json")) as f:
            self.pinned = json.load(f)
        self.keys = wrapper_keys()

    def pick(self, cls: str) -> tuple:
        if cls == "lookup_tx":
            h, height = self.rng.choice(self.txs)
            return (h.upper() if self.rng.random() < 0.3 else h, h, height)
        if cls == "lookup_account_page":
            return (self.rng.choice(self.accounts),)
        if cls == "hot_keyset_page":
            return (self.hot_cursor,)
        return self.rng.choice(self.keys[cls])

    def call(self, cls: str, key: tuple):
        """Send one request and return the answer."""
        from classic_fcd_spark.serving.extract import lookup_account_page, lookup_tx

        if cls == "lookup_tx":
            return lookup_tx(self.spark, self.ext, key[0]).select("hash", "height").collect()
        if cls == "lookup_account_page":
            return lookup_account_page(self.spark, self.ext, key[0], limit=LIMIT)
        if cls == "hot_keyset_page":
            return lookup_account_page(self.spark, self.ext, self.hot, limit=LIMIT, offset=key[0])
        return call_wrapper(self.spark, cls, key)

    def check(self, cls: str, key: tuple, answer) -> bool:
        """True iff ``answer`` is the expected one; advances the hot walk."""
        if cls == "lookup_tx":
            return [(r["hash"], r["height"]) for r in answer] == [key[1:]]
        if cls in ("lookup_account_page", "hot_keyset_page"):
            got = [(r["height"], r["hash"]) for r in answer]
            if cls == "lookup_account_page":
                want = self.pages[key[0]]
            else:
                cursor = key[0]
                want = [k for k in self.pages[self.hot] if cursor is None or k < cursor]
                self.hot_cursor = got[LIMIT - 1] if len(got) > LIMIT else None
            return got == want[: LIMIT + 1]
        return digest(answer) == self.pinned[cls][json.dumps(list(key))]


def serve(ctx, ext: str, txs) -> dict:
    """Set up the client, make the first call of every class, then run
    rounds for ``ctx.seconds``.  ``round_s`` is the median round time, so
    it falls when serving gets faster, however many rounds fit."""
    tracer = ctx.tracer
    t0 = time.perf_counter()
    client = Client(ctx.spark, ext, txs, random.Random(ctx.seed))
    attempted = failed = 0
    lat: dict[str, list[float]] = {c: [] for c in CLASSES}

    def request(cls: str, phase: str) -> float:
        nonlocal attempted, failed
        key = client.pick(cls)
        attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span(f"req:{phase}:{cls}"):
                answer = client.call(cls, key)
            dt = time.perf_counter() - t
            ok, why = client.check(cls, key, answer), "wrong answer"
        except Exception as exc:  # noqa: BLE001 — a failed request is counted, not dropped
            dt = time.perf_counter() - t
            ok, why = False, f"{type(exc).__name__}: {str(exc)[:300]}"
        if not ok:
            failed += 1
            ctx.errors.append(f"{cls}{key}: {why}")
        return dt

    for cls in CLASSES:
        request(cls, "first")
    setup_s = time.perf_counter() - t0

    round_s: list[float] = []
    start = time.perf_counter()
    while not round_s or time.perf_counter() - start < ctx.seconds:
        order = list(ROUND)
        client.rng.shuffle(order)
        t = time.perf_counter()
        for cls in order:
            lat[cls].append(request(cls, "warm"))
        round_s.append(time.perf_counter() - t)
    warm = [x for xs in lat.values() for x in xs]
    return {
        "setup_s": setup_s,
        "round_s": statistics.median(round_s),
        "read_ms": [x * 1000 for x in warm],
        "read_per_s": len(warm) / sum(round_s),
        "attempted": attempted,
        "failed": failed,
        "detail": {
            "hot_account": client.hot,
            "explorer_round_s": round_s,
            "p50_ms_by_class": {c: statistics.median(v) * 1000 for c, v in lat.items() if v},
        },
    }


def _class_metric(cls: str) -> str:
    return f"serving.extract.{cls}.p50_ms" if cls in LOOKUPS else f"serving.{cls}.p50_ms"


def layer_metrics(tracer, counters: dict) -> dict:
    out = {}
    for cls in CLASSES:
        vals = [s["end"] - s["start"] for s in tracer.closed(f"req:warm:{cls}")]
        out[_class_metric(cls)] = statistics.median(vals) * 1000 if vals else 0.0
    warm = tracer.closed("req:warm:")
    n = max(1, len(warm))
    if warm:
        out["serving.read_p50_ms"] = statistics.median(s["end"] - s["start"] for s in warm) * 1000
    for key, metric in (("jobs", "serving.jobs_per_request"),
                        ("executor_cpu_ms", "serving.executor_cpu_ms_per_request")):
        out[metric] = sum(counters.get(s["id"], {}).get(key, 0) for s in warm) / n
    return out


def layer_names() -> list[str]:
    return [_class_metric(c) for c in CLASSES] + [
        "serving.read_p50_ms",
        "serving.jobs_per_request",
        "serving.executor_cpu_ms_per_request",
    ]
