"""The workloads, each driven through the package's public functions.

Every workload follows the same phases, which ``run.py`` times:

- ``prepare``: benchmark-only work (inputs, ground truth); not set-up;
- ``warm``: the program's first operation, untimed, counted in set-up;
- ``measure``: the closed-loop timed region, one client;
- ``verify``: output checks, which set ``failed``.

Traced runs then call ``sweep`` for the per-layer readings.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from datetime import datetime

import duckdb

import gen
import sparkprobe
from sparkprobe import quantile

SHARDS = 8
# Blobs in the traced run's batch decode sweep (about 20k rows).
LAYER_BLOBS = 96
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
# DuckDB canary: three oracles (a join, TPC-H Q1, a hash fingerprint)
# whose time tracks the host's speed and load, not the program's.
CANARY = ("q05_join_inner", "q13_tpch_q1", "q45_fingerprint")

# query_mix runs this fixed subset, the same for every seed, because a
# full 228-query pass (139 s warm on 4 cores) does not fit one run.
# Eight fast queries (joins, windows, aggregates, text operators, one
# Python UDTF) whose warm latencies sit close together (0.45-0.60 s on
# 4 cores), so the median falls inside that cluster and does not hang
# on one query; and three stage-bound ones of 1.5-1.8 s that set the
# tail and most of the pass time. All return at most a few hundred
# rows, with oracles DuckDB answers in under 0.1 s.
QUERY_MIX = (
    "q142_interval_join",
    "q106_udtf_chunks",
    "q212_customer_distribution",
    "q85_event_transitions",
    "q148_template_mining",
    "q138_heaps_law",
    "q70_returned_items",
    "q113_blocklist_filter",
    "q189_kmv_overlap",
    "q131b_table_profile_sketch",
    "q131_table_profile",
)


class Failures:
    """Operations attempted and failed; a failed output check counts as failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, note: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(note)


class Run:
    """State shared by the phases of one benchmark run."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer,
                 sf_dir: str, blobs: int | None = None):
        self.spark = spark
        self.blobs = blobs
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.sf_dir = sf_dir
        self.ops = Failures()
        self.layer: dict[str, float] = {}
        self._n = 0

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n:04d}")


def closed_loop(seconds: float, step) -> None:
    """One client calls ``step`` back to back for about ``seconds``: it
    stops once another call, as long as the last one, would end more
    than halfway past the deadline. Whole calls only, at least one, so
    the number of calls does not flip when a call sits near
    ``seconds / k``."""
    t_end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        step()
        now = time.perf_counter()
        if now + (now - t0) / 2 >= t_end:
            return


# --------------------------------------------------------------- checks


def duck(sf_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES if sf_dir else ():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def sink_matches(sink_glob: str, truth: gen.Truth) -> tuple[bool, str]:
    """A parquet sink read back with DuckDB against the generator's truth."""
    con = duck()
    try:
        rel = con.sql(f"SELECT * FROM read_parquet('{sink_glob}')")
        if sorted(rel.columns) != sorted(gen.COLUMNS):
            return False, f"columns {sorted(rel.columns)}"
        cols = ", ".join(f'"{c}"' for c in gen.COLUMNS)
        rows = con.sql(f"SELECT {cols} FROM read_parquet('{sink_glob}')").fetchall()
    finally:
        con.close()
    if len(rows) != truth.rows:
        return False, f"rows {len(rows)} != {truth.rows}"
    if gen.row_hash(rows) != truth.row_hash:
        return False, "row hash differs"
    return True, ""


def oracle_problems(spark_cols, spark_rows, oracle_rel) -> list[str]:
    """The parity rule of the repository's parity gate: no int128 oracle
    column, equal row counts and column sets, equal order-insensitive hash."""
    from kinesis_logs_reader_spark.functions.canon import table_hash

    ocols = [d[0] for d in oracle_rel.description]
    otypes = [str(t) for t in oracle_rel.types]
    orows = oracle_rel.fetchall()
    problems = [f"oracle int128 column {c}" for c, t in zip(ocols, otypes) if t in ("HUGEINT", "UHUGEINT")]
    if len(spark_rows) != len(orows):
        problems.append(f"rows spark={len(spark_rows)} oracle={len(orows)}")
    if sorted(spark_cols) != sorted(ocols):
        problems.append("column sets differ")
    if not problems and oracle_hash(table_hash(ocols, orows)) != table_hash(spark_cols, spark_rows):
        problems.append("value hash differs")
    return problems


def oracle_hash(h: str) -> str:
    """Identity; the self-tests replace it to tamper with an oracle hash."""
    return h


# ------------------------------------------------------------- baseline


def canary_s(sf_dir: str) -> float:
    """One DuckDB pass over the canary oracles."""
    from kinesis_logs_reader_spark.registry import all_oracle_sql

    oracles = all_oracle_sql()
    con = duck(sf_dir)
    try:
        t0 = time.perf_counter()
        for name in CANARY:
            con.sql(oracles[name]).fetchall()
        return time.perf_counter() - t0
    finally:
        con.close()


# --------------------------------------------------------------- ingest


def _drain(run: Run, backlog: str) -> tuple[float, str, list]:
    """One ``Trigger.AvailableNow`` drain of the backlog into a fresh
    checkpointed parquet file sink; one blob per shard per trigger."""
    from kinesis_logs_reader_spark.sources.envelope import read_cwl_stream

    sink, ckpt = run.path("stream-sink"), run.path("stream-ckpt")
    with run.tracer.op("stream.drain"):
        t0 = time.perf_counter()
        with run.tracer.span("ingest.read"):
            df = read_cwl_stream(run.spark, backlog, typed=True, max_files_per_trigger=SHARDS)
        with run.tracer.span("ingest.write") as write_id:
            query = (
                df.writeStream.format("parquet")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start(sink)
            )
            query.awaitTermination()
        wall = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        progress = list(query.recentProgress)
        # Rebuild one span per trigger on the perf_counter clock.
        offset = time.time() - time.perf_counter()
        for p in progress if run.tracer.enabled else ():
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() - offset
            run.tracer.add(
                "stream.trigger", start, start + p.durationMs.get("triggerExecution", 0) / 1e3,
                parent=write_id, batch=p.batchId, input_rows=p.numInputRows, durationMs=dict(p.durationMs),
            )
    return wall, sink, progress


def prepare_backlog(run: Run, blobs: int) -> tuple[str, gen.Truth]:
    """The run's seeded backlog, its ground truth and the reference-loop
    baseline on the same blobs."""
    backlog = os.path.join(run.work, "backlog")
    gen.generate(backlog, gen.Spec(blobs=blobs, shards=SHARDS), run.seed)
    run.layer["baseline.reference_rows_per_s"] = gen.reference_loop_rows_per_s(backlog)
    return backlog, gen.truth(backlog)


class IngestStream:
    """One closed-loop client runs ``Trigger.AvailableNow`` drains of the
    seeded backlog, each into a fresh checkpoint and parquet file sink.
    One operation is one trigger."""

    # Eight triggers per drain at one blob per shard per trigger, so a
    # 15 s run fits two or three drains.
    blobs = 8 * SHARDS

    def prepare(self, run: Run) -> None:
        self.backlog, self.truth = prepare_backlog(run, run.blobs or self.blobs)

    def warm(self, run: Run) -> None:
        # One untimed drain into its own sink: the first drain of a
        # session runs about 25% slower than the next ones.
        _drain(run, self.backlog)

    def measure(self, run: Run) -> dict:
        self.drains: list[tuple[str, list] | None] = []
        walls, triggers = [], []

        def step():
            try:
                wall, sink, progress = _drain(run, self.backlog)
            except Exception as exc:
                self.drains.append(None)
                run.ops.notes.append(f"drain: {exc}")
                return
            self.drains.append((sink, progress))
            walls.append(wall)
            triggers.extend(sparkprobe.progress_durations(progress))

        closed_loop(run.seconds, step)
        trig_ms = [d["triggerExecution"] for d in triggers]
        if run.tracer.enabled:
            stream_layers(run, triggers, len(walls), self.truth)
        return {
            "p50_ms": statistics.median(trig_ms),
            "p90_ms": quantile(trig_ms, 0.9),
            "throughput_per_s": self.truth.rows / statistics.median(walls),
            "latencies_ms": trig_ms,
        }

    def verify(self, run: Run) -> None:
        for drain in self.drains:
            if drain is None:
                run.ops.record(False, "drain raised")
                continue
            sink, progress = drain
            with run.tracer.span("verify", sink=os.path.basename(sink)):
                ok, why = sink_matches(f"{sink}/*.parquet", self.truth)
                # Every blob admitted exactly once across the triggers,
                # in consecutive batches.
                blobs_in = sum(p.numInputRows for p in progress)
                batches = [p.batchId for p in progress if p.numInputRows > 0]
                if ok and blobs_in != self.truth.blobs:
                    ok, why = False, f"blobs admitted {blobs_in} != {self.truth.blobs}"
                if ok and batches != list(range(batches[0], batches[0] + len(batches))):
                    ok, why = False, f"batch ids not consecutive: {batches}"
            run.ops.record(ok, f"{sink}: {why}")


# ---------------------------------------------------------------- query


class QueryMix:
    """One closed-loop client runs whole passes over ``QUERY_MIX``, each
    pass in a seed-shuffled order. One operation builds the DataFrame
    and executes it to the ``noop`` sink."""

    # Only for the baseline and the traced layer sweep.
    blobs = 4 * SHARDS

    def prepare(self, run: Run) -> None:
        self.prepare_queries()
        self.backlog, self.truth = prepare_backlog(run, run.blobs or self.blobs)

    def prepare_queries(self) -> None:
        from kinesis_logs_reader_spark.registry import all_oracle_sql, all_queries

        queries = all_queries()
        self.queries = {name: queries[name] for name in QUERY_MIX}
        self.oracles = all_oracle_sql()

    def warm(self, run: Run) -> None:
        # The untimed collect pass, which verify() checks, then one noop
        # pass: after the collect pass alone the first few noop saves
        # run up to twice as slow as later ones.
        self.results = {}
        for name, fn in self.queries.items():
            with run.tracer.op("query.collect", query=name):
                try:
                    df = fn(run.spark, run.sf_dir)
                    self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
                except Exception as exc:
                    self.results[name] = exc
        for name, fn in self.queries.items():
            if not isinstance(self.results[name], Exception):
                query_op(run, name, fn, None)

    def measure(self, run: Run) -> dict:
        probe = _QueryProbe(run) if run.tracer.enabled else None
        rng = random.Random(run.seed)
        lat, passes = [], []

        def one_pass():
            order = list(QUERY_MIX)
            rng.shuffle(order)
            t_pass = time.perf_counter()
            for name in order:
                try:
                    lat.append(query_op(run, name, self.queries[name], probe))
                    run.ops.record(True)
                except Exception as exc:
                    run.ops.record(False, f"{name}: {exc}")
            passes.append(time.perf_counter() - t_pass)

        closed_loop(run.seconds, one_pass)
        if probe is not None:
            probe.report(len(passes))
        run.layer["query.mix_s"] = statistics.median(passes)
        return {
            "p50_ms": statistics.median(lat) * 1e3,
            "p90_ms": quantile(lat, 0.9) * 1e3,
            "throughput_per_s": len(lat) / sum(passes),
            "latencies_ms": [round(x * 1e3, 1) for x in lat],
        }

    def verify(self, run: Run) -> None:
        con = duck(run.sf_dir)
        try:
            for name in QUERY_MIX:
                with run.tracer.span("verify", query=name):
                    got = self.results[name]
                    if isinstance(got, Exception):
                        problems = [f"spark error: {got}"]
                    else:
                        try:
                            problems = oracle_problems(*got, con.sql(self.oracles[name]))
                        except duckdb.Error as exc:
                            problems = [f"oracle error: {exc}"]
                run.ops.record(not problems, f"{name}: {'; '.join(problems)}")
        finally:
            con.close()


def query_op(run: Run, name: str, fn, probe: "_QueryProbe | None") -> float:
    """Build one query's DataFrame and execute it to ``noop``; seconds."""
    with run.tracer.op("query", query=name):
        if probe:
            probe.group("build")
        t0 = time.perf_counter()
        with run.tracer.span("query.build"):
            df = fn(run.spark, run.sf_dir)
        t1 = time.perf_counter()
        if probe:
            probe.group("execute")
        with run.tracer.span("query.execute"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    if probe:
        probe.collect(name, t1 - t0, t2 - t1)
    return t2 - t0


class _QueryProbe:
    """Traced runs only: job groups around build and execute, then the
    status tracker and SQL status store readings for each query."""

    def __init__(self, run: Run):
        self.run = run
        self.sc = run.spark.sparkContext
        self.sql = sparkprobe.SqlStore(run.spark)
        self.n = 0
        self.builds: list[float] = []
        self.build_jobs: set[str] = set()
        self.totals = {k: 0.0 for k in ("exec.s", "exec.jobs", "exec.stages", "exec.tasks")}
        self.totals.update({k: 0.0 for k, _ in sparkprobe.SQL_METRICS.values()})

    def group(self, phase: str) -> None:
        self.sc.setJobGroup(f"perfbench-{phase}-{self.n}", phase)

    def collect(self, name: str, build_s: float, exec_s: float) -> None:
        """Read the query's counts, add them to the totals and to its
        ``query.execute`` span (the last one recorded)."""
        self.sc._jsc.clearJobGroup()
        sparkprobe.wait_for_listeners(self.run.spark)
        build = sparkprobe.job_group_counts(self.run.spark, f"perfbench-build-{self.n}")
        jobs, stages, tasks = sparkprobe.job_group_counts(self.run.spark, f"perfbench-execute-{self.n}")
        self.n += 1
        sql = self.sql.harvest()
        self.builds.append(build_s)
        if build[0]:
            self.build_jobs.add(name)
        for key, value in (("exec.s", exec_s), ("exec.jobs", jobs), ("exec.stages", stages), ("exec.tasks", tasks), *sql.items()):
            self.totals[key] += value
        execute = next(s for s in reversed(self.run.tracer.spans) if s["name"] == "query.execute")
        execute.update(build_jobs=build[0], jobs=jobs, stages=stages, tasks=tasks, **sql)

    def report(self, passes: int) -> None:
        layer = self.run.layer
        layer["operators.build_s"] = statistics.median(self.builds)
        layer["operators.build_sum_s"] = sum(self.builds) / passes
        layer["operators.build_jobs"] = len(self.build_jobs)
        for key, value in self.totals.items():
            layer[key] = value / passes


# ----------------------------------------------------------- layer sweep


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def envelope_layers(run: Run, backlog: str, truth: gen.Truth, reps: int = 2) -> None:
    """The decode chain split by successive prefixes, each saved to
    ``noop``: scan, + gunzip, + from_json, + filter/explode/project,
    + cast, then the parquet sink. A layer's time is the difference of
    the medians of two neighbouring prefixes; it can read below zero
    where the longer prefix lets Spark skip work the shorter one does
    (the typed projection never materializes the ``fields`` map)."""
    from pyspark.sql import functions as F

    from kinesis_logs_reader_spark.functions.gzip_udfs import gunzip_text
    from kinesis_logs_reader_spark.sources.envelope import (
        ENVELOPE_SCHEMA,
        decode_envelope,
        read_cwl_batch,
        typed_flow_logs,
    )

    spark = run.spark

    def raw():
        return (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.gz")
            .option("recursiveFileLookup", "true")
            .load(backlog)
            .select(F.col("content").alias("data"))
        )

    def sink_s() -> float:
        t0 = time.perf_counter()
        with run.tracer.span("ingest.read"):
            df = read_cwl_batch(spark, backlog, typed=True)
        with run.tracer.span("ingest.write"):
            df.write.parquet(run.path("layer-sink"))
        return time.perf_counter() - t0

    plan = []
    steps = [
        ("envelope.scan_s", lambda: _noop_s(raw())),
        ("gzip_udfs.gunzip_s", lambda: _noop_s(raw().select(gunzip_text("data")))),
        ("envelope.parse_s", lambda: _noop_s(raw().select(F.from_json(gunzip_text("data"), ENVELOPE_SCHEMA)))),
        ("envelope.flatten_s", lambda: _noop_s(decode_envelope(raw()))),
        ("envelope.typed_s", lambda: _noop_s(typed_flow_logs(decode_envelope(raw())))),
        ("sink.write_s", sink_s),
    ]
    times: dict[str, list[float]] = {name: [] for name, _ in steps}
    with run.tracer.op("layers.envelope"):
        for _ in range(reps):
            t0 = time.perf_counter()
            read_cwl_batch(spark, backlog, typed=True)
            plan.append(time.perf_counter() - t0)
            for name, step in steps:
                with run.tracer.span(f"prefix.{name}"):
                    times[name].append(step())
        env = raw().select(F.from_json(gunzip_text("data"), ENVELOPE_SCHEMA).alias("e"))
        counts = env.agg(
            F.count("*").alias("blobs"),
            F.sum((F.col("e.messageType") == "CONTROL_MESSAGE").cast("int")).alias("control"),
        ).first()
        rows_out = read_cwl_batch(spark, backlog, typed=True).count()
    prev = 0.0
    for name, _ in steps:
        med = statistics.median(times[name])
        run.layer[name] = med - prev
        prev = med
    run.layer["envelope.batch_rows_per_s"] = truth.rows / prev
    run.layer["envelope.plan_s"] = statistics.median(plan)
    run.layer["envelope.blobs_in"] = counts["blobs"]
    run.layer["envelope.control_dropped"] = counts["control"]
    run.layer["envelope.rows_out"] = rows_out
    got = (counts["blobs"], counts["control"], rows_out)
    want = (truth.blobs, truth.control, truth.rows)
    run.ops.record(got == want, f"envelope counts {got} != {want}")


def datasource_layers(run: Run, backlog: str, truth: gen.Truth, reps: int = 2) -> None:
    """The ``cwl_envelope`` Python data source on the same blobs."""
    from kinesis_logs_reader_spark.sources import python_datasource

    python_datasource.register(run.spark)
    times = []
    with run.tracer.op("layers.python_datasource"):
        for _ in range(reps):
            times.append(_noop_s(run.spark.read.format("cwl_envelope").load(backlog)))
        rows = run.spark.read.format("cwl_envelope").load(backlog).count()
    run.ops.record(rows == truth.rows, f"cwl_envelope rows {rows} != {truth.rows}")
    run.layer["python_datasource.read_s"] = statistics.median(times)
    run.layer["python_datasource.rows_per_s"] = truth.rows / statistics.median(times)


def stream_layers(run: Run, triggers: list[dict], drains: int, truth: gen.Truth) -> None:
    """Per-trigger medians of the ``durationMs`` parts of the drains;
    ``summarize.py`` splits the summed trigger time across the parts."""
    for part, key in (
        ("latestOffset", "stream.latest_offset_ms"),
        ("getBatch", "stream.get_batch_ms"),
        ("queryPlanning", "stream.query_planning_ms"),
        ("addBatch", "stream.add_batch_ms"),
        ("walCommit", "stream.wal_commit_ms"),
        ("commitOffsets", "stream.commit_offsets_ms"),
    ):
        run.layer[key] = statistics.median(d.get(part, 0) for d in triggers)
    run.layer["stream.triggers"] = len(triggers) / drains
    run.layer["stream.rows_per_trigger"] = truth.rows * drains / len(triggers)


def sweep(run: Run, backlog: str, truth: gen.Truth) -> None:
    """Traced runs only: every layer the workload's own loop did not
    read is measured here, so each traced run reports every per-layer
    metric. The batch decode chain gets a backlog of its own, large
    enough that one read is one decode-bound job."""
    batch = os.path.join(run.work, "layers-backlog")
    gen.generate(batch, gen.Spec(blobs=run.blobs or LAYER_BLOBS, shards=SHARDS), run.seed)
    batch_truth = gen.truth(batch)
    envelope_layers(run, batch, batch_truth)
    datasource_layers(run, batch, batch_truth)
    if "stream.triggers" not in run.layer:
        _, _, progress = _drain(run, backlog)
        stream_layers(run, sparkprobe.progress_durations(progress), 1, truth)
    if "operators.build_s" not in run.layer:
        mix = QueryMix()
        mix.prepare_queries()
        probe = _QueryProbe(run)
        t0 = time.perf_counter()
        for name in QUERY_MIX:
            query_op(run, name, mix.queries[name], probe)
        run.layer["query.mix_s"] = time.perf_counter() - t0
        probe.report(1)
