"""The checkpoint replica policy: ``checkpoint``, ``persisted``, parse.

``SPARK_GRAFT_CHECKPOINT_REPLICAS`` lets the engine's local-checkpoint
blocks be upgraded to MEMORY_AND_DISK_2 for in-flight executor-loss
survival. ``session.checkpoint`` applies it on every call, on any
session, so this pins: a pass-through when the variable is unset, the
replicated level on request — including on a session the engine did not
build (``configure_session``) — no patch on pyspark's own
``DataFrame.localCheckpoint``, any integer >= 2 (not just the literal
"2") honoured, and a loud warning instead of silently staying off on
malformed values.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.storagelevel import StorageLevel

from etl_process_spark import session as S


def _dataframe_cls():
    from pyspark.sql.classic.dataframe import DataFrame

    return DataFrame


@pytest.fixture
def requested(monkeypatch):
    """Record the (eager, storageLevel) each ``localCheckpoint`` call
    asks for, then run the real one."""
    DataFrame = _dataframe_cls()
    orig = DataFrame.localCheckpoint
    calls = []

    def spy(self, eager=True, storageLevel=None):
        calls.append((eager, storageLevel))
        return orig(self, eager, storageLevel=storageLevel)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return calls


def test_parse_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_REPLICAS", raising=False)
    assert S._ckpt_replicas() == 1


@pytest.mark.parametrize("raw,want", [("1", 1), ("2", 2), ("0", 0)])
def test_parse_integers(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_REPLICAS", raw)
    assert S._ckpt_replicas() == want


def test_parse_over_two_warns_but_enables(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_REPLICAS", "3")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        n = S._ckpt_replicas()
    assert n >= 2, "replication must stay ON for replicas > 2"
    assert any("MEMORY_AND_DISK_2" in str(x.message) for x in w)


def test_parse_malformed_warns_and_disables(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_REPLICAS", "true")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert S._ckpt_replicas() == 1
    assert any("not an integer" in str(x.message) for x in w)


def test_localcheckpoint_is_unpatched(spark, requested):
    # the session leaves pyspark's DataFrame alone: the policy lives in
    # checkpoint(), which forwards eager as given
    DataFrame = _dataframe_cls()
    assert not hasattr(DataFrame, "_graft_ckpt_wrapped")
    assert not hasattr(S, "_install_ckpt_replication")
    df = S.checkpoint(spark.range(10), eager=False)
    assert requested == [(False, S._ckpt_storage_level())]
    assert df.count() == 10


def test_checkpoint_passthrough_when_unset(spark, monkeypatch, requested):
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_REPLICAS", raising=False)
    df = S.checkpoint(spark.range(100))
    assert requested == [(True, None)]
    assert df.rdd.getStorageLevel().replication == 1
    assert df.count() == 100
    df.unpersist(True)


def test_checkpoint_replicates_when_set(spark, monkeypatch, requested):
    # local[4] has one block manager, so a second replica cannot LAND
    # anywhere (Spark degrades the reported level to replication=1) —
    # the contract is the REQUESTED level; the multi-host placement
    # itself is proven by the minicluster rehearsal
    # (EXECUTORLOSS_DETERMINISM.json replicated_leg). The query must
    # still run correctly through the degraded path.
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_REPLICAS", "2")
    df = S.checkpoint(spark.range(100))
    assert requested == [(True, StorageLevel.MEMORY_AND_DISK_2)]
    assert df.count() == 100
    df.unpersist(True)


def test_checkpoint_replicates_on_configure_session_path(monkeypatch, requested):
    # the entry-point contract hands the engine a session built outside
    # it (__spark_entry__ -> configure_session): get_spark never runs,
    # and the policy must hold all the same
    from pyspark.sql import SparkSession

    spark = S.configure_session(SparkSession.builder.getOrCreate())
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_REPLICAS", "2")
    df = S.checkpoint(spark.range(100))
    assert requested == [(True, StorageLevel.MEMORY_AND_DISK_2)]
    assert df.count() == 100
    df.unpersist(True)


def test_persisted_releases_on_exit(spark):
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError):
        with S.persisted(spark.range(50)) as df:
            assert df.count() == 50
            assert not cm.isEmpty()
            raise RuntimeError("the block fails")
    assert cm.isEmpty()


def test_wrapper_level_decision(monkeypatch):
    from pyspark.storagelevel import StorageLevel

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_REPLICAS", raising=False)
    assert S._ckpt_storage_level() is None
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_REPLICAS", "1")
    assert S._ckpt_storage_level() is None
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_REPLICAS", "2")
    assert S._ckpt_storage_level() == StorageLevel.MEMORY_AND_DISK_2
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_REPLICAS", "3")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        assert S._ckpt_storage_level() == StorageLevel.MEMORY_AND_DISK_2
