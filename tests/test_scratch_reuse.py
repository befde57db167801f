"""Streaming-entry scratch dirs are process-keyed, not per-invocation
(VERDICT r13 "Next round" #8): N bench runs hold ONE live scratch tree
per site, and reuse starts from an EMPTY tree so a reused checkpoint
can never resume a previous invocation's offsets."""

from __future__ import annotations

import os

from kcidb_spark.queries import REGISTRY
from kcidb_spark.queries.streaming_exec import _SCRATCH_ROOT, _scratch_dir
from tests.conftest import SF_SMOKE


def test_scratch_dir_is_stable_and_cleared():
    p1 = _scratch_dir("pin_site")
    with open(os.path.join(p1, "stale"), "w") as fh:
        fh.write("x")
    p2 = _scratch_dir("pin_site")
    assert p1 == p2
    assert os.listdir(p2) == []  # cleared on reuse


def test_streaming_entry_does_not_grow_scratch(spark):
    sf = "/root/testdata/sf0.001"
    q = REGISTRY["t12_stream_dedup"].spark
    n1 = q(spark, sf).count()
    root = _SCRATCH_ROOT[0]
    dirs1 = sorted(os.listdir(root))
    n2 = q(spark, sf).count()
    assert n1 == n2
    assert sorted(os.listdir(root)) == dirs1  # no per-invocation growth


def test_t16_stages_its_source_once_per_session(spark, tmp_path, monkeypatch):
    """t16's sentineled source (the events plus two sentinel batches)
    is staged once per (session, sf_dir): a second call drains the same
    staged files to the same rows, and no drain removes the stage."""
    import shutil

    from kcidb_spark.queries import streaming_exec

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), sf / "events.parquet")
    staged, stage = [], streaming_exec._stage_arrivals

    def counted(watch, files):
        staged.append(watch)
        stage(watch, files)

    monkeypatch.setattr(streaming_exec, "_stage_arrivals", counted)
    q = REGISTRY["t16_stream_outer_join"].spark
    n1 = q(spark, str(sf)).count()
    n2 = q(spark, str(sf)).count()
    assert n1 == n2 > 0
    assert len(staged) == 1
    assert sorted(os.listdir(staged[0])) == [
        "0000_data_0.parquet", "0001_sentinel_0.parquet",
        "0002_sentinel_1.parquet"]
