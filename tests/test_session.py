"""Session conf that depends on the master: which streaming checkpoint
manager the session layer picks.

A local master checkpoints to the local filesystem, where Spark's
default FileContext manager forks a `readlink` per rename when Hadoop
runs without libhadoop; the session layer swaps in Spark's
FileSystem-based manager there (session.py, "Scale posture"). A
cluster master must keep Spark's default, so the conf is left unset.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from machine_telemetry_etl_ml_pipeline_spark.session import (
    LOCAL_CHECKPOINT_MANAGER,
    get_spark,
    tune_session,
)

KEY, FS_MANAGER = LOCAL_CHECKPOINT_MANAGER


def _manager_class(spark, path: str) -> str:
    """The checkpoint manager Spark builds for ``path`` from the
    session's Hadoop conf -- what a streaming query starting now gets."""
    jvm = spark.sparkContext._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), hadoop_conf
    )
    return mgr.getClass().getName()


@pytest.mark.parametrize("apply", ["get_spark", "tune_session"])
def test_local_session_uses_filesystem_manager(spark, tmp_path, apply):
    """Both entry points set the manager on a local session. The test
    session already exists, so ``get_spark`` returns it with the
    builder's conf applied; the conf is unset first so only the call
    under test can put it back."""
    try:
        spark.conf.unset(KEY)
        assert spark.conf.get(KEY, None) is None
        s = get_spark("tests", master="local[2]") if apply == "get_spark" else tune_session(spark)
        assert s.conf.get(KEY, None) == FS_MANAGER
        assert _manager_class(s, str(tmp_path)) == FS_MANAGER
    finally:
        spark.conf.set(KEY, FS_MANAGER)


class _RecordingConf(dict):
    def set(self, key: str, value: str) -> None:
        self[key] = value


@pytest.mark.parametrize("master", ["yarn", "spark://host:7077", "k8s://https://host:6443"])
def test_cluster_master_keeps_default_manager(master):
    session = SimpleNamespace(sparkContext=SimpleNamespace(master=master), conf=_RecordingConf())
    tune_session(session)
    assert session.conf["spark.sql.session.timeZone"] == "UTC"  # the session was tuned
    assert KEY not in session.conf
