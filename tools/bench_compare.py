"""Per-query wall-clock: Spark vs DuckDB (the BASELINE.md ≤2× gate).

Times each declared query on both engines at the given sf (default
sf0.1). Spark executes through the noop sink (full execution, no row
transfer, no pruning); DuckDB runs the oracle SQL and drains it.
Prints a table plus offenders.

Usage: python tools/bench_compare.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

from tools.check_parity import TABLES

SF_DIR = "/root/testdata/sf0.1"
RUNS = 3


def main() -> None:
    args = sys.argv[1:]
    sf_dir = SF_DIR
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]

    from kinesis_logs_reader_spark import registry as entrymod
    from kinesis_logs_reader_spark.session import build_session

    spark = build_session(
        master="local[32]",
        # match bench.py's local small-data profile exactly (AQE off,
        # 8 shuffle partitions, no shuffle compression) so the two
        # tools report the same numbers — see bench.py for rationale
        shuffle_partitions=8,
        extra_conf={
            "spark.shuffle.compress": "false",
            "spark.shuffle.spill.compress": "false",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.all_queries()
    oracles = entrymod.all_oracle_sql()
    selected = args or sorted(queries)

    def s_run(name):
        # noop sink: full execution (count() would let Catalyst prune)
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # warm both engines
    s_run("q17_global_agg")
    con.sql(oracles["q17_global_agg"]).fetchall()

    print(f"{'query':34s} {'spark':>8s} {'duckdb':>8s} {'ratio':>7s}")
    offenders = []
    for name in selected:
        s_best = min(_time(lambda: s_run(name)) for _ in range(RUNS))
        if name in oracles:
            d_best = min(
                _time(lambda: con.sql(oracles[name]).fetchall()) for _ in range(RUNS)
            )
            ratio = s_best / d_best if d_best > 0 else float("inf")
            flag = " <-- >2x" if ratio > 2 else ""
            if ratio > 2:
                offenders.append((name, s_best, d_best, ratio))
            print(f"{name:34s} {s_best:8.3f} {d_best:8.3f} {ratio:7.2f}{flag}")
        else:
            print(f"{name:34s} {s_best:8.3f} {'—':>8s} {'—':>7s}")
    if offenders:
        print("\n>2x offenders:")
        for name, s, d, r in offenders:
            print(f"  {name}: spark {s:.3f}s vs duckdb {d:.3f}s ({r:.1f}x)")
    spark.stop()


def _time(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
