"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``ingest_stream``: a seeded backlog of gzipped CWL envelope blobs in
  eight uneven shard directories, drained by ``read_cwl_stream`` under
  ``Trigger.AvailableNow`` into a checkpointed parquet file sink, one
  blob per shard per trigger; one operation is one trigger.
- ``query_mix``: a fixed subset of ``registry.all_queries()`` at sf0.1,
  built and executed to the ``noop`` sink by one closed-loop client.

Every workload prints the same end-to-end metrics (``--trace 0``):

- ``setup_s``: from the start of this script to the first timed
  operation (package import, ``build_session``, the first job and the
  workload's warm-up), without the benchmark's own input generation;
- ``p50_ms``: median operation latency -- one stream trigger
  (``triggerExecution``) or one query (build + execute);
- ``throughput_per_s``: typed rows committed per second for
  ingest_stream (read call to stream termination, median over drains),
  queries per second for query_mix.

Operations that raise or whose output fails its check count in
``failed``. The line before the result records the host (cpus, a
DuckDB canary), the single-thread reference-loop rows/s on the same
blobs, the 1-row job floor, the latencies with their p90 and the
peak RSS. The p90 is not a gated metric: a 15 s run holds 8-24
operations, so no percentile above the median has ten samples beyond
it, and across runs it spread past any usable bound. ``--trace 1``
runs the same loop with spans on, measures every layer and reports the
per-layer metrics instead; the spans go to ``.perfbench_work/traces/``
for ``perfbench/summarize.py``.

Every session is ``build_session(master=f"local[{SPARK_GRAFT_CPUS}]")``
with no other conf: the benchmark measures the program's defaults.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import sparkprobe  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = {
    "ingest_stream": workloads.IngestStream,
    "query_mix": workloads.QueryMix,
}


def sandbox_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Program defaults only: drop the package's behaviour switches. The
    # table directory (SPARK_GRAFT_SF_DIR) and the core count stay.
    for key in ("SPARK_GRAFT_SCALE_MODE", "SPARK_GRAFT_NO_SPREAD", "SPARK_GRAFT_DUMP_CANON"):
        os.environ.pop(key, None)
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers under it, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = sparkprobe.process_tree(gateway.proc.pid) if gateway is not None else set()
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    sparkprobe.wait_gone(tree)


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fobj:
        spec = json.load(fobj)
    return {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="query table directory (default: the package's, $SPARK_GRAFT_SF_DIR or sf0.1)")
    ap.add_argument("--blobs", type=int, default=None, help="backlog size override (self-tests)")
    return ap.parse_args(argv)


def main(argv=None) -> dict:
    args = parse_args(argv)
    specs = metric_specs()
    out_dir = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sandbox_env(work)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        from kinesis_logs_reader_spark.sources.tables import DEFAULT_SF_DIR

        sf_dir = args.sf_dir or DEFAULT_SF_DIR
        for table in workloads.TABLES:
            if not os.path.exists(os.path.join(sf_dir, f"{table}.parquet")):
                raise SystemExit(f"missing query table {table} under {sf_dir}")
        with tracer.span("session.build"):
            t0 = time.perf_counter()
            from kinesis_logs_reader_spark.session import build_session

            spark = build_session(master=f"local[{cpus}]")
            spark.sparkContext.setLogLevel("ERROR")
            spark.range(1).write.format("noop").mode("overwrite").save()
            session_ready = time.perf_counter()
        rss = sparkprobe.RssSampler()
        rss.start()
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer, sf_dir, args.blobs)
        run.layer["session.build_s"] = session_ready - t0
        workload = WORKLOADS[args.workload]()
        with tracer.span("prepare"):
            workload.prepare(run)
        t0 = time.perf_counter()
        with tracer.span("warm"):
            workload.warm(run)
        setup_s = session_ready - T_START + time.perf_counter() - t0
        e2e = workload.measure(run)
        run.layer["session.peak_rss_mb"] = rss.stop()
        run.layer["exec.floor_ms"] = sparkprobe.floor_ms(spark)
        run.layer["host.cpus"] = cpus
        run.layer["host.duckdb_canary_s"] = workloads.canary_s(sf_dir)
        with tracer.span("verify.all"):
            workload.verify(run)
        if args.trace:
            workloads.sweep(run, workload.backlog, workload.truth)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e["setup_s"] = setup_s
    values = run.layer if args.trace else e2e
    missing = sorted(set(specs[args.trace]) - set(values))
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "samples": len(e2e["latencies_ms"]),
        "latencies_ms": e2e["latencies_ms"],
        "p90_ms": e2e["p90_ms"],
        "peak_rss_mb": {"all": run.layer["session.peak_rss_mb"], "jvm": rss.peak_jvm_bytes / (1 << 20)},
        "host": {"cpus": cpus, "duckdb_canary_s": run.layer["host.duckdb_canary_s"]},
        "baseline": {"reference_rows_per_s": run.layer["baseline.reference_rows_per_s"]},
        "exec.floor_ms": run.layer["exec.floor_ms"],
        "failures": run.ops.notes[:20],
    }
    result = {
        "correct": run.ops.failed == 0,
        "attempted": run.ops.attempted,
        "failed": run.ops.failed,
        "metrics": {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit in specs[args.trace].items()
        },
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    with open(os.path.join(out_dir, "results", f"{name}.json"), "w") as fobj:
        json.dump({"context": context, "e2e": e2e, "result": result}, fobj)
    if args.trace:
        os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
        tracer.dump(os.path.join(out_dir, "traces", f"{name}.json"), {**context, "p50_ms": e2e["p50_ms"], "layers": run.layer})
    print(json.dumps(context))
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
