"""Session conf precedence."""

from __future__ import annotations

from transaq_clickhouse_exporter_spark.session import session_confs


def test_extra_conf_env_overrides_fixed_confs(monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF",
        "spark.sql.shuffle.partitions=3; spark.sql.session.timeZone=Europe/Moscow",
    )
    confs = session_confs(4, shuffle_partitions=8)
    assert confs["spark.sql.shuffle.partitions"] == "3"
    assert confs["spark.sql.session.timeZone"] == "Europe/Moscow"
    # extra= still applies last
    confs = session_confs(4, extra={"spark.sql.shuffle.partitions": "5"})
    assert confs["spark.sql.shuffle.partitions"] == "5"


def test_fixed_confs_without_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    confs = session_confs(4, tz="UTC")
    assert confs["spark.sql.shuffle.partitions"] == "4"
    assert confs["spark.ui.enabled"] == "false"
