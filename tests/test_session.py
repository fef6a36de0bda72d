"""build_session's single conf merge: defaults, runtime conf, extra_conf."""

from __future__ import annotations

from kinesis_logs_reader_spark.session import _RUNTIME_CONF, build_session


def test_build_session_on_running_session_extra_conf_wins(spark):
    """On an already-running session, build_session re-asserts its conf
    once: the extra_conf override wins over _RUNTIME_CONF, and the other
    runtime keys hold their values (a drifted one is put back)."""
    key = "spark.sql.adaptive.skewJoin.enabled"
    drifted = "spark.sql.session.timeZone"
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.conf.set(drifted, "America/New_York")
    try:
        same = build_session(
            app_name="tests",
            shuffle_partitions=partitions,
            extra_conf={key: "false"},
        )
        assert same is spark
        assert spark.conf.get(key) == "false"
        for k, v in _RUNTIME_CONF.items():
            if k != key:
                assert spark.conf.get(k) == v, k
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(partitions)
    finally:
        spark.conf.set(key, _RUNTIME_CONF[key])
        spark.conf.set(drifted, _RUNTIME_CONF[drifted])
