"""Summarize traced benchmark runs.

    python3 perfbench/summarize.py [TRACE.json ...]

With no arguments it reads every trace under ``.perfbench_work/traces``.
For each trace it prints each span name's count, total and self time
(a span's duration minus the part its children cover), then the splits:

- the batch decode chain across scan, gunzip, parse, flatten, typed
  cast and parquet sink (from the prefix sweep every traced run makes);
- ingest_stream trigger time across the ``durationMs`` parts;
- query_mix time across build and execute, with the stages each query
  ran.

Tracing overhead is the traced run's median operation latency against
the median of the untraced runs of the same workload found under
``.perfbench_work/results``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
STREAM_PARTS = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
DECODE_LAYERS = (
    "envelope.scan_s", "gzip_udfs.gunzip_s", "envelope.parse_s",
    "envelope.flatten_s", "envelope.typed_s", "sink.write_s",
)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def self_times(spans: list[dict]) -> dict[str, list[float]]:
    """name -> [count, total s, self s]."""
    children = defaultdict(list)
    for span in spans:
        if span["parent"] is not None:
            children[span["parent"]].append(span)
    out: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
    for span in spans:
        dur = span["end"] - span["start"]
        kids = [(max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children[span["id"]]]
        row = out[span["name"]]
        row[0] += 1
        row[1] += dur
        row[2] += dur - covered([k for k in kids if k[1] > k[0]])
    return out


def untraced_p50(workload: str) -> float | None:
    values = []
    for path in glob.glob(os.path.join(WORK, "results", f"{workload}-seed*-trace0.json")):
        with open(path) as fobj:
            values.append(json.load(fobj)["e2e"]["p50_ms"])
    return statistics.median(values) if values else None


def split(meta: dict, spans: list[dict]) -> list[str]:
    layers = meta["layers"]
    total = sum(layers[k] for k in DECODE_LAYERS)
    lines = ["  batch decode chain:"]
    lines += [f"  {k:<22} {layers[k]:8.3f} s {100 * layers[k] / total:5.1f}%" for k in DECODE_LAYERS]
    triggers = [s["durationMs"] for s in spans if s["name"] == "stream.trigger"]
    if triggers:
        lines.append(f"  stream triggers ({len(triggers)}):")
        trig = sum(d.get("triggerExecution", 0) for d in triggers)
        parts = {p: sum(d.get(p, 0) for d in triggers) for p in STREAM_PARTS}
        parts["(other)"] = trig - sum(parts.values())
        lines += [f"  {p:<22} {ms:8.0f} ms {100 * ms / trig:5.1f}%" for p, ms in parts.items()]
    by_id = {s["id"]: s for s in spans}
    per_query = defaultdict(lambda: [0.0, 0.0, 0, 0])
    for span in spans:
        if span["name"] not in ("query.build", "query.execute"):
            continue
        row = per_query[by_id[span["parent"]]["query"]]
        if span["name"] == "query.build":
            row[0] += span["end"] - span["start"]
        else:
            row[1] += span["end"] - span["start"]
            row[2] += 1
            row[3] = span.get("stages", 0)
    if per_query:
        build = sum(r[0] for r in per_query.values())
        execute = sum(r[1] for r in per_query.values())
        lines.append(f"  queries: build {build:.3f} s ({100 * build / (build + execute):.1f}%), execute {execute:.3f} s")
        lines.append(f"  {'query':<34} {'build_ms':>9} {'exec_ms':>9} {'stages':>6}")
        for query, (b, e, n, stages) in sorted(per_query.items(), key=lambda kv: -kv[1][1]):
            lines.append(f"  {query:<34} {1e3 * b / n:9.1f} {1e3 * e / n:9.1f} {stages:6d}")
    return lines


def summarize(path: str) -> str:
    with open(path) as fobj:
        trace = json.load(fobj)
    meta, spans = trace["meta"], trace["spans"]
    lines = [f"== {os.path.basename(path)}: {meta['workload']} seed {meta['seed']}, {len(spans)} spans"]
    lines.append(f"  {'span':<34} {'count':>6} {'total_s':>9} {'self_s':>9}")
    for name, (count, total, own) in sorted(self_times(spans).items(), key=lambda kv: -kv[1][2]):
        lines.append(f"  {name:<34} {count:6d} {total:9.3f} {own:9.3f}")
    lines += split(meta, spans)
    lines.append("  layers:")
    lines += [f"  {k:<34} {v:14.3f}" for k, v in sorted(meta["layers"].items())]
    base = untraced_p50(meta["workload"])
    if base:
        lines.append(
            f"  tracing overhead: traced p50 {meta['p50_ms']:.1f} ms vs untraced {base:.1f} ms"
            f" ({100 * (meta['p50_ms'] / base - 1):+.1f}%)"
        )
    else:
        lines.append("  tracing overhead: no untraced result for this workload")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    paths = argv or sorted(glob.glob(os.path.join(WORK, "traces", "*.json")))
    if not paths:
        print("no traces; run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 1
    for path in paths:
        print(summarize(path))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
