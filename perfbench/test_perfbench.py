"""Self-tests of the benchmark at tiny size (sf0.001 tables, 16 blobs).

    python3 -m pytest perfbench -q

They check that every metric is printed by name with its unit, that a
tampered sink row and a tampered oracle hash each count as failed
operations, and that the benchmark refuses to run without the package.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from kinesis_logs_reader_spark.sources.tables import DEFAULT_SF_DIR  # noqa: E402

SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
TINY = ["--seed", "3", "--seconds", "1", "--sf-dir", SF_DIR, "--blobs", "16"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run_cli(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


@pytest.fixture
def restore_env():
    """``run.main`` points TMPDIR, PYTHONPATH and the JVM at its work dir."""
    saved = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(saved)


@pytest.mark.parametrize(
    "workload,trace",
    [(w["name"], 0) for w in SPEC["workloads"]] + [("query_mix", 1)],
)
def test_every_metric_printed_with_its_unit(workload, trace):
    out = _run_cli(["--workload", workload, "--trace", str(trace), *TINY])
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {name: m["unit"] for name, m in result["metrics"].items()} == want
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1


def _tamper_one_row(sink: str) -> None:
    for name in sorted(os.listdir(sink)):
        path = os.path.join(sink, name)
        if not name.endswith(".parquet"):
            continue
        con = duckdb.connect()
        try:
            n = con.sql(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
            if not n:
                continue
            con.execute(
                f"CREATE TABLE t AS SELECT * REPLACE (CASE WHEN row_number() OVER () = 1 "
                f"THEN bytes + 1 ELSE bytes END AS bytes) FROM read_parquet('{path}')"
            )
            con.execute(f"COPY t TO '{path}' (FORMAT parquet)")
        finally:
            con.close()
        return
    raise AssertionError(f"no rows in {sink}")


def test_tampered_sink_row_fails(monkeypatch, restore_env):
    import run
    import workloads

    real = workloads._drain

    def drain_then_tamper(run_, backlog):
        wall, sink, progress = real(run_, backlog)
        _tamper_one_row(sink)
        return wall, sink, progress

    monkeypatch.setattr(workloads, "_drain", drain_then_tamper)
    result = run.main(["--workload", "ingest_stream", *TINY])
    assert result["failed"] > 0 and not result["correct"]


def test_tampered_oracle_hash_fails(monkeypatch, restore_env):
    import run
    import workloads

    monkeypatch.setattr(workloads, "oracle_hash", lambda h: "0" * len(h))
    result = run.main(["--workload", "query_mix", *TINY])
    assert result["failed"] > 0 and not result["correct"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _run_cli(["--workload", "query_mix", *TINY], cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"metrics"' not in (out.stdout.strip().splitlines() or [""])[-1]
