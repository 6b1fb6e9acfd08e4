"""Regenerate the pinned expected outputs under ``expected/``.

    python3 perfbench/pin_expected.py [analytics|collector|api ...]

- analytics.json: per query, the [rows, xor, sum] signature of its result
  over the benchmark corpus.  The pin is the result of the query's DuckDB
  oracle (``oracle_sql_map``, or the module-level oracle SQL the engine's
  tests gate it with), and the Spark result must equal it in two runs.
- collector.json: signatures of the four gold tables written by the
  fixture-bronze batch twin (``run_daily_gold`` with its default inputs).
- api.json: per wrapper and key, the digest of its response.

Run it only when the engine's output is meant to change, and say so in
the change that re-pins.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import EXPECTED_DIR, WORK, prepare_environment, result_signature  # noqa: E402


def _write(name: str, obj) -> None:
    with open(os.path.join(EXPECTED_DIR, name), "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


def pin_analytics(spark) -> None:
    import duckdb

    import analytics
    import corpus
    from classic_fcd_spark.queries import oracle_sql_map
    from classic_fcd_spark.queries.similarity import EMBEDDING_SIMILAR_PAIRS_ORACLE_SQL

    data = corpus.write_corpus(analytics.corpus_dir())
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(data, f)}')")
    oracles = {
        "embedding_similar_pairs": EMBEDDING_SIMILAR_PAIRS_ORACLE_SQL,
        **oracle_sql_map(data),
    }
    fns = analytics.resolve()
    pins, problems = {}, []
    for name in analytics.QUERIES:
        got = []
        for _ in range(2):
            df = fns[name](spark, data)
            got.append(result_signature(df.columns, df.collect()))
        if got[0] != got[1]:
            problems.append(f"{name}: two Spark runs differ")
        if name not in oracles:
            problems.append(f"{name}: no DuckDB oracle")
            continue
        rel = con.sql(oracles[name])
        want = result_signature(rel.columns, rel.fetchall())
        if want != got[0]:
            problems.append(f"{name}: Spark {got[0]} != DuckDB oracle {want}")
        pins[name] = want
        print(f"{name}: oracle {want}")
    if problems:
        raise SystemExit("not pinned:\n" + "\n".join(problems))
    _write("analytics.json", pins)


def pin_collector(spark) -> None:
    import classic_fcd_spark.pipeline.daily_gold as dg
    import collector

    twin = os.path.join(WORK, "gold_twin")
    dg.run_daily_gold(spark, twin, collector.ASOF)
    _write("collector.json", {"gold": collector.gold_signatures(spark, twin)})


def pin_api(spark) -> None:
    import explorer
    from common import digest

    pins = {
        cls: {json.dumps(list(key)): digest(explorer.call_wrapper(spark, cls, key)) for key in keys}
        for cls, keys in explorer.wrapper_keys().items()
    }
    _write("api.json", pins)


def main() -> None:
    prepare_environment()
    from common import start_spark

    which = sys.argv[1:] or ["analytics", "collector", "api"]
    spark = start_spark("perfbench-pin")
    try:
        for w in which:
            globals()[f"pin_{w}"](spark)
    finally:
        spark.stop()
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
