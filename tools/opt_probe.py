"""Per-query optimization probe (r14): isolated timing + plan capture.

Times each named query through the noop sink under the SAME session
profile bench.py uses (local[$SPARK_GRAFT_CPUS], 8 shuffle partitions,
AQE off, UI off, shuffle compression off), best-of-N warm passes, and
optionally writes `.explain("formatted")` to plans/r14/<q>_<tag>.txt.

Usage:
  python tools/opt_probe.py [--tag before|after|none] [--runs 5] q131_table_profile ...
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="none")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from kinesis_logs_reader_spark.registry import all_queries
    from kinesis_logs_reader_spark.session import build_session

    spark = build_session(
        app_name="opt_probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=8,
        extra_conf={
            "spark.shuffle.compress": "false",
            "spark.shuffle.spill.compress": "false",
            "spark.sql.adaptive.enabled": "false",
            "spark.ui.enabled": "false",
            "spark.sql.ui.retainedExecutions": "8",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # floor probe for context
    for _ in range(2):
        spark.range(1).write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    spark.range(1).write.format("noop").mode("overwrite").save()
    print(f"floor_ms {1000 * (time.perf_counter() - t0):.0f}", flush=True)

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15"),
    )
    for name in args.queries:
        spark.sparkContext.setJobDescription(f"probe:{name}")
        df = queries[name](spark, args.sf)
        if args.tag != "none":
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        best = float("inf")
        times = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            times.append(dt)
            best = min(best, dt)
        print(
            f"{name}: best {best:.3f}s  runs "
            + " ".join(f"{t:.3f}" for t in times),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
