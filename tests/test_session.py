"""Session conf table contract: runtime confs are applied once per
session and never re-applied by a later ``get_spark()``, and a conf
that does not apply is reported, not swallowed."""

from __future__ import annotations

import warnings

import pytest

from jsmr_spark.session import ensure_engine_confs, get_spark


def test_second_get_spark_keeps_shuffle_partitions(spark, monkeypatch):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(int(before) + 3))
    assert get_spark("jsmr_tests") is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


class _ImmutableConf:
    """A driver-owned session's conf where nothing can be set."""

    def get(self, key, default=None):
        return "local[2]" if key == "spark.master" else default

    def set(self, key, value):
        raise RuntimeError(f"[CANNOT_MODIFY_CONFIG] {key}")


class _FakeSession:
    conf = _ImmutableConf()


def test_ensure_engine_confs_warns_naming_unapplied_keys():
    fake = _FakeSession()
    with pytest.warns(RuntimeWarning) as record:
        ensure_engine_confs(fake)
    assert len(record) == 1
    msg = str(record[0].message)
    for key in ("spark.sql.session.timeZone", "spark.sql.files.maxPartitionBytes"):
        assert key in msg, msg
    # once per session: the memo makes a second call a no-op
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ensure_engine_confs(fake)
