"""Round-15 optimization pins: q179's spread keep and q172's revert."""

from __future__ import annotations

import re

import duckdb

from kinesis_logs_reader_spark.functions.canon import table_hash
from kinesis_logs_reader_spark.registry import all_oracle_sql
from tools.check_parity import TABLES

SF_DIR = "/root/testdata/sf0.01"

_ROUND_ROBIN_EXCHANGE = re.compile(r"\bExchange RoundRobinPartitioning\(")


def _round_robin_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1 for line in plan.splitlines() if _ROUND_ROBIN_EXCHANGE.search(line)
    )


def test_q179_heavy_branch_spread_dom_branch_not(spark):
    """q179's digest chain (tokenize + md5 of sorted distinct tokens)
    rides the gated round-robin exchange (the r15 A/B keep: -9%); the
    dominant-lang branch reads the raw scan without it. Exactly ONE
    round-robin exchange in the plan — a second one would mean the
    cheap (source, lang) branch regained the exchange the r14 doctrine
    says is pure latency there. The spread plan's values match the
    DuckDB oracle at sf0.01, where the spread gate fires."""
    from kinesis_logs_reader_spark.operators.curation import q179_data_card

    df = q179_data_card(spark, SF_DIR)
    assert _round_robin_exchanges(df) == 1

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')"
            )
        rel = con.sql(all_oracle_sql()["q179_data_card"])
        dcols = [d[0] for d in rel.description]
        drows = rel.fetchall()
    finally:
        con.close()
    srows = [tuple(r) for r in df.collect()]
    assert len(srows) == len(drows)
    assert table_hash(df.columns, srows) == table_hash(dcols, drows)


def test_q172_stays_unspread(spark):
    """q172's novelty-key chain measured-negative under the exchange
    (+9%, combining groupBy(key) min overlaps the scan) — pin the
    revert so a blanket spread rollout can't silently re-add it."""
    from kinesis_logs_reader_spark.operators.dedup import q172_novelty_curve

    df = q172_novelty_curve(spark, SF_DIR)
    assert _round_robin_exchanges(df) == 0
