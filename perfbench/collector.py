"""collector: one collector day, then explorer traffic over what it wrote.

Set-up stages the fixture day as a backlog of block-bundle drops (built
with ``build_block_bundle_feed``), each drop one parquet file holding
interleaved runs of heights.  The seed picks the order in which the drops
arrive (file modification times); either way the second drop brings
heights below those already ingested, so out-of-order blocks exercise the
reward rollup's late-block path.

``run_block_ingest_available_now`` then drains the backlog in a closed
loop, one drop per micro-batch (the next starts only after the previous
commits), with all nine sinks and ``GovDims`` attached.  The first
micro-batch is the cold one (first touch of every sink); the rest of the
day — the warm phase — is the steady micro-batches, ``run_daily_gold``
over the streamed tables (composed as in tests/test_e2e_day.py) and one
explorer round (the median of the warm rounds).

Checks: bronze holds exactly the feed's tx rows; the streamed minute
rollup equals ``tx_volume_minute_silver`` over the whole feed; the last
tx is served by ``lookup_tx``; the gold tables equal the fixture-bronze
batch twin (its hash is pinned in ``expected/collector.json``).

Finally the explorer client (explorer.py) reads the serving extract the
day just maintained, so its lookups also check that extract row by row.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import explorer
from common import EXPECTED_DIR, WORK, dir_mb, result_signature

N_DROPS = 2
# A drop holds every N_DROPS-th run of CHUNK_BLOCKS consecutive heights, so
# whichever drop arrives second is full of heights below the first one's
# top: every arrival order exercises the late-block paths, and the orders
# differ only by one chunk's offset.  (Contiguous height ranges made the
# steady micro-batch bimodal — in-order and reversed arrivals do
# different work — and the seed alone then moved the figures.)
CHUNK_BLOCKS = 50
ASOF = "2021-01-04"
GOLD_COLLECTORS = ("collect_dashboard", "collect_validator_returns",
                   "collect_richlist", "collect_unvested")


def stage_feed(spark, seed: int, staging: str, feed: str):
    """Write the day's drops, then move them into the feed directory with
    seed-ordered modification times (the file source takes the oldest
    first).  Returns the fixture tx DataFrame, blocks per drop and the
    arrival order."""
    from pyspark.sql import functions as F

    import classic_fcd_spark.streaming.block_ingest as bi
    from classic_fcd_spark.sources.fixtures import FIXTURE_N_BLOCKS, gen_blocks, gen_txs

    txs = gen_txs(spark)
    bundle = bi.build_block_bundle_feed(txs, gen_blocks(spark))
    chunk = (F.col("height") / CHUNK_BLOCKS).cast("long") % N_DROPS
    # one job writes every drop, one file each
    bundle.withColumn("drop", chunk).repartition("drop").write.partitionBy("drop").parquet(staging)
    drops = []
    for i in range(N_DROPS):
        out = os.path.join(staging, f"drop={i}")
        (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
        drops.append(os.path.join(out, part))
    order = list(range(N_DROPS))
    random.Random(seed).shuffle(order)
    os.makedirs(feed)
    base = time.time() - 3600
    for arrival, i in enumerate(order):
        dst = os.path.join(feed, f"drop{i}.parquet")
        shutil.move(drops[i], dst)
        os.utime(dst, (base + arrival, base + arrival))
    return txs, FIXTURE_N_BLOCKS // N_DROPS, order


def gold_inputs(spark, out: str) -> dict:
    """The ingest→gold seam of tests/test_e2e_day.py: day-grain gold from
    the streamed tables."""
    import classic_fcd_spark.streaming.block_ingest as bi
    from classic_fcd_spark.pipeline.medallion import dashboard_gold, minute_rewards_silver
    from classic_fcd_spark.queries.fcd import validator_returns_view
    from classic_fcd_spark.sources.fixtures import gen_validators

    txs_i = bi.read_bronze(spark, out)
    at_i = bi.read_account_tx(spark, out)
    blk_i = bi.read_rewards_bronze(spark, out)
    return {
        "dashboard_df": dashboard_gold(txs_i, at_i, minute_rewards_silver(blk_i)),
        "validator_returns_df": validator_returns_view(blk_i, gen_validators(spark)),
    }


def gold_signatures(spark, gold: str) -> dict:
    import classic_fcd_spark.pipeline.daily_gold as dg

    out = {}
    for t in (dg.DASHBOARD, dg.VALIDATOR_RETURNS, dg.RICHLIST, dg.UNVESTED):
        df = dg.read_gold(spark, gold, t)
        out[t] = result_signature(df.columns, df.collect())
    return out


def gov_dims(spark):
    import classic_fcd_spark.streaming.block_ingest as bi
    from classic_fcd_spark.sources import fixtures as fx

    return bi.GovDims(
        proposals=fx.gen_proposals(spark),
        votes=fx.gen_votes(spark),
        delegations=fx.gen_delegations(spark),
        validators=fx.gen_validators(spark),
        deposits=fx.gen_deposits(spark),
    )


def instrument(tracer) -> None:
    """Spans at the layer boundaries inside the drain and the gold pass
    (traced runs only).  The daily-gold collectors' own merges stay
    inside their collector's span."""
    import classic_fcd_spark.pipeline.daily_gold as dg
    import classic_fcd_spark.serving.extract as ex
    import classic_fcd_spark.sources.promote as promote
    import classic_fcd_spark.streaming.block_ingest as bi
    import classic_fcd_spark.streaming.minute_pipeline as mp

    for fn in ("merge_upsert", "merge_tx_lookup_extract", "merge_account_page_extract"):
        tracer.wrap(bi, fn, fn)
    tracer.wrap(bi, "ingest_block_batch", "batch")
    for mod in (ex, mp, promote):
        tracer.wrap(mod, "promote_partitions", "promote_partitions")
    for fn in GOLD_COLLECTORS:
        tracer.wrap(dg, fn, fn)


def run(ctx) -> dict:
    import classic_fcd_spark.pipeline.daily_gold as dg
    import classic_fcd_spark.streaming.block_ingest as bi
    from classic_fcd_spark.pipeline.medallion import tx_volume_minute_silver
    from classic_fcd_spark.serving.extract import lookup_tx

    spark, tracer = ctx.spark, ctx.tracer
    base = os.path.join(WORK, "collector")
    feed, ckpt, out, gold = (os.path.join(base, d) for d in ("feed", "ckpt", "out", "gold"))
    with open(os.path.join(EXPECTED_DIR, "collector.json")) as f:
        expected = json.load(f)

    t0 = time.perf_counter()
    txs, blocks_per_drop, order = stage_feed(spark, ctx.seed, os.path.join(base, "staging"), feed)
    gov = gov_dims(spark)
    setup_s = time.perf_counter() - t0
    instrument(tracer)

    ticks: list[float] = []
    start = time.perf_counter()
    with tracer.span("drain"):
        bi.run_block_ingest_available_now(
            spark, feed, ckpt, out, on_batch=lambda _b: ticks.append(time.perf_counter()),
            proposals_dim=gov,
        )
    batches = [b - a for a, b in zip([start] + ticks, ticks)]
    if len(batches) != N_DROPS:
        raise RuntimeError(f"{len(batches)} micro-batches for {N_DROPS} drops")
    t = time.perf_counter()
    with tracer.span("daily_gold"):
        dg.run_daily_gold(spark, gold, ASOF, **gold_inputs(spark, out))
    gold_s = time.perf_counter() - t

    checks = {"bronze_rows": bi.read_bronze(spark, out).count() == txs.count()}
    roll, twin = bi.read_rollup(spark, out), tx_volume_minute_silver(txs)
    checks["minute_rollup"] = result_signature(roll.columns, roll.collect()) == result_signature(
        twin.columns, twin.collect()
    )
    last = txs.orderBy("height", "hash").tail(1)[0]["hash"]
    served = lookup_tx(spark, os.path.join(out, bi.EXTRACT), last).select("hash").collect()
    checks["last_tx_served"] = [r["hash"] for r in served] == [last]
    checks["gold_equals_twin"] = gold_signatures(spark, gold) == expected["gold"]
    for name, ok in checks.items():
        if not ok:
            ctx.errors.append(f"check failed: {name}")

    reads = explorer.serve(ctx, os.path.join(out, bi.EXTRACT), txs)
    return {
        "setup_s": setup_s + reads["setup_s"],
        "cold_s": batches[0],
        "warm_s": sum(batches[1:]) + gold_s + reads["round_s"],
        "read_ms": reads["read_ms"],
        "read_per_s": reads["read_per_s"],
        "attempted": N_DROPS + len(checks) + reads["attempted"],
        "failed": sum(not ok for ok in checks.values()) + reads["failed"],
        "detail": {
            "drop_arrival_order": order,
            "blocks_per_drop": blocks_per_drop,
            "batch_s": batches,
            "daily_gold_s": gold_s,
            "explorer_setup_s": reads["setup_s"],
            **reads["detail"],
        },
        "data_dir": feed,
        "dirs": {"ckpt": ckpt, "out": out},
    }


def layer_metrics(ctx, result: dict, counters: dict) -> dict:
    tracer = ctx.tracer
    selfs = tracer.self_seconds()
    batch_spans = tracer.closed("batch")
    steady = batch_spans[1:]
    n = max(1, len(steady))
    steady_ids = {s["id"] for s in steady}

    def under_steady(name: str) -> float:
        total = 0.0
        for s in tracer.closed(name):
            sid = s["id"]
            while sid is not None and sid not in steady_ids:
                sid = tracer.spans[sid]["parent"]
            if sid is not None:
                total += selfs[s["id"]]
        return total / n

    def inclusive(key: str) -> float:
        tot = 0.0
        for s in steady:
            tot += sum(counters.get(i, {}).get(key, 0) for i in tracer.subtree(s["id"]))
        return tot / n

    dirs = result["dirs"]
    out = {
        "streaming.block_ingest.batch_self_s": sum(selfs[s["id"]] for s in steady) / n,
        "streaming.minute_pipeline.merge_upsert_s": under_steady("merge_upsert"),
        "streaming.jobs_per_batch": inclusive("jobs"),
        "streaming.tasks_per_batch": inclusive("tasks"),
        "streaming.executor_cpu_ms_per_batch": inclusive("executor_cpu_ms"),
        "streaming.checkpoint_mb": dir_mb(dirs["ckpt"]),
        "streaming.output_mb": dir_mb(dirs["out"]),
        "serving.extract.merge_tx_lookup_extract_s": under_steady("merge_tx_lookup_extract"),
        "serving.extract.merge_account_page_extract_s": under_steady("merge_account_page_extract"),
        "sources.promote.promote_partitions_s": sum(
            selfs[s["id"]] for s in tracer.closed("promote_partitions")
        ),
    }
    for fn in GOLD_COLLECTORS:
        out[f"pipeline.daily_gold.{fn}_s"] = sum(selfs[s["id"]] for s in tracer.closed(fn))
    out.update(explorer.layer_metrics(tracer, counters))
    return out


def layer_names() -> list[str]:
    return [
        "streaming.block_ingest.batch_self_s",
        "streaming.minute_pipeline.merge_upsert_s",
        "streaming.jobs_per_batch",
        "streaming.tasks_per_batch",
        "streaming.executor_cpu_ms_per_batch",
        "streaming.checkpoint_mb",
        "streaming.output_mb",
        "serving.extract.merge_tx_lookup_extract_s",
        "serving.extract.merge_account_page_extract_s",
        "sources.promote.promote_partitions_s",
    ] + [f"pipeline.daily_gold.{fn}_s" for fn in GOLD_COLLECTORS] + explorer.layer_names()
