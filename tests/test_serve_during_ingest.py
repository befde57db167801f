"""t21 serve-during-ingest: the committed-batch manifest's isolation.

VERDICT r11 "Next round" #1: t19 (serve) and t20 (ingest) were each
certified alone, but nothing pinned what a probe observes WHILE an
ingest batch overwrites its ``batch_id=N`` subtree — a parquet
directory overwrite is not atomic, so an unmanifested reader can list
a half-replaced subtree.  These tests drive the transaction bodies
(streaming_exec.ingest_vec_batch_txn / probe_tiered_topk) through
every crash window the manifest closes:

* a probe racing an UNPUBLISHED subtree serves the old watermark's
  exact results — even when the subtree's on-disk content is a
  corrupt parquet file (pruned directories are never opened);
* replay after a crash-before-manifest converges to the clean run;
* the watermark only advances (a replayed old batch cannot retreat
  visibility).

The end-to-end interleaved pipeline itself is oracle-certified via
the registry (t21_stream_serve_during_ingest, hash vs DuckDB in
test_oracle_parity.py and the driver gate).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from kcidb_spark.queries.streaming_exec import (
    ingest_vec_batch_txn,
    probe_tiered_topk,
    read_serve_watermark,
)

#: 2-D toy corpus: centroid 0 at (1, 0), centroid 1 at (0, 1); batch
#: of a vector = its id's tens digit, so visibility sets are obvious.
CENTS = [(0, [1.0, 0.0], 1.0), (1, [0.0, 1.0], 1.0)]


def _vecs(spark, ids_and_points):
    return spark.createDataFrame(
        [Row(vec_id=i, v=[float(x), float(y)]) for i, (x, y) in ids_and_points],
        "vec_id long, v array<double>",
    )


def _probe(spark, store, qs=((100, (1.0, 0.1)),), k=5):
    df = probe_tiered_topk(_vecs(spark, qs), store, CENTS, k)
    return sorted(
        (r["probe_round"], r["q_id"], r["n_id"], r["sim"])
        for r in df.collect()
    )


def test_probe_never_sees_unpublished_subtree(spark, tmp_path):
    store = str(tmp_path / "store")
    b0 = _vecs(spark, [(10, (0.9, 0.1)), (11, (0.1, 0.9))])
    ingest_vec_batch_txn(b0, store, 0, CENTS)
    assert read_serve_watermark(store) == 0
    before = _probe(spark, store)
    assert {r[2] for r in before} == {10, 11} and all(
        r[0] == 0 for r in before
    )

    # Batch 1's subtree lands on disk but the manifest never advances
    # (crash between subtree commit and publish).
    b1 = _vecs(spark, [(20, (0.95, 0.05))])
    ingest_vec_batch_txn(b1, store, 1, CENTS, fail_before_manifest=True)
    assert read_serve_watermark(store) == 0
    assert os.path.isdir(str(tmp_path / "store" / "data" / "batch_id=1"))
    assert _probe(spark, store) == before

    # Worse: the in-flight subtree is HALF-REPLACED garbage — a probe
    # must not even open it.  Plant a corrupt parquet file.
    junk = tmp_path / "store" / "data" / "batch_id=1" / "c_id=0"
    junk.mkdir(parents=True, exist_ok=True)
    (junk / "part-junk.parquet").write_bytes(b"NOT A PARQUET FILE")
    assert _probe(spark, store) == before

    # Replay of batch 1 overwrites its own subtree (junk included)
    # and publishes; the probe now serves the two-batch snapshot.
    ingest_vec_batch_txn(b1, store, 1, CENTS)
    assert read_serve_watermark(store) == 1
    after = _probe(spark, store)
    assert {r[2] for r in after} == {10, 11, 20} and all(
        r[0] == 1 for r in after
    )


def test_crash_replay_converges_to_clean_run(spark, tmp_path):
    batches = [
        [(10, (0.9, 0.2)), (11, (0.2, 0.9))],
        [(20, (0.8, 0.3))],
        [(30, (0.3, 0.8)), (31, (0.99, 0.01))],
    ]
    clean = str(tmp_path / "clean")
    for i, b in enumerate(batches):
        ingest_vec_batch_txn(_vecs(spark, b), clean, i, CENTS)
    want = _probe(spark, clean)

    crashy = str(tmp_path / "crashy")
    ingest_vec_batch_txn(_vecs(spark, batches[0]), crashy, 0, CENTS)
    # Batch 1 crashes before manifest, twice; then succeeds.
    for _ in range(2):
        ingest_vec_batch_txn(
            _vecs(spark, batches[1]), crashy, 1, CENTS,
            fail_before_manifest=True,
        )
    ingest_vec_batch_txn(_vecs(spark, batches[1]), crashy, 1, CENTS)
    # Batch 2 commits, then spuriously REPLAYS (at-least-once source).
    ingest_vec_batch_txn(_vecs(spark, batches[2]), crashy, 2, CENTS)
    ingest_vec_batch_txn(_vecs(spark, batches[2]), crashy, 2, CENTS)
    assert read_serve_watermark(crashy) == 2
    assert _probe(spark, crashy) == want


def test_watermark_is_monotone_under_old_batch_replay(spark, tmp_path):
    store = str(tmp_path / "store")
    ingest_vec_batch_txn(_vecs(spark, [(10, (1.0, 0.0))]), store, 0, CENTS)
    ingest_vec_batch_txn(_vecs(spark, [(20, (0.0, 1.0))]), store, 1, CENTS)
    assert read_serve_watermark(store) == 1
    # A late replay of batch 0 must not retreat visibility to 0.
    ingest_vec_batch_txn(_vecs(spark, [(10, (1.0, 0.0))]), store, 0, CENTS)
    assert read_serve_watermark(store) == 1


def test_probe_on_empty_store_serves_nothing(spark, tmp_path):
    """Before ANY commit: watermark −1, zero candidates, no error —
    the cold-start read path (the data dir may not even exist)."""
    store = str(tmp_path / "store")
    os.makedirs(os.path.join(store, "data"))
    rows = _probe(spark, store)
    assert rows == []
    assert read_serve_watermark(store) == -1


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """The 100 TB contract in the PLAN: the probe's store scan must
    carry PARTITION filters on BOTH partition columns — batch_id
    bounded by the manifest watermark and c_id restricted to the
    probed clusters — so uncommitted batches and unprobed clusters
    are pruned at the directory listing, before any file I/O."""
    import re

    store = str(tmp_path / "store")
    b0 = _vecs(
        spark,
        [(10 + i, (0.9 - 0.01 * i, 0.1 + 0.01 * i)) for i in range(6)],
    )
    ingest_vec_batch_txn(b0, store, 0, CENTS)
    ingest_vec_batch_txn(
        _vecs(spark, [(30, (0.5, 0.5))]), store, 1, CENTS,
        fail_before_manifest=True,
    )
    df = probe_tiered_topk(
        _vecs(spark, [(100, (1.0, 0.1))]), store, CENTS, 3, nprobe=1
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    m_b = re.search(r"PartitionFilters: \[[^\]]*batch_id#\d+[^\]]*\]", plan)
    assert m_b, plan[:2000]
    pf = m_b.group(0)
    assert "c_id" in pf and "<=" in pf, pf


# ---------------------------------------------------------------------------
# t22: the tiered (compacting) store — crash windows and invariance
# ---------------------------------------------------------------------------


def _tprobe(spark, store, qs=((100, (1.0, 0.1)),), k=5):
    return sorted(
        (r["probe_round"], r["q_id"], r["n_id"], r["sim"])
        for r in probe_tiered_topk(_vecs(spark, qs), store, CENTS, k).collect()
    )


def test_compaction_is_invisible_to_probes(spark, tmp_path):
    """The t22 theorem at unit scale: identical probe rows before the
    compaction, while its generation dir is written-but-unpublished
    (crash window), and after the manifest swap — then a tail batch
    lands and the tiered read serves generation ∪ tail."""
    from kcidb_spark.queries.streaming_exec import (
        compact_store_txn,
        read_serve_manifest,
    )

    store = str(tmp_path / "store")
    ingest_vec_batch_txn(
        _vecs(spark, [(10, (0.9, 0.1)), (11, (0.1, 0.9))]), store, 0, CENTS
    )
    ingest_vec_batch_txn(
        _vecs(spark, [(20, (0.95, 0.05))]), store, 1, CENTS
    )
    before = _tprobe(spark, store)
    assert {r[2] for r in before} == {10, 11, 20}

    # Crash: generation written, manifest NOT swapped.
    compact_store_txn(spark, store, 1, fail_before_manifest=True)
    assert read_serve_manifest(store)["compacted_upto"] == -1
    assert _tprobe(spark, store) == before

    # Replay completes; rows identical, layout now the generation.
    compact_store_txn(spark, store, 1)
    man = read_serve_manifest(store)
    assert man["compacted_upto"] == 1 and man["compacted_dir"] == "gen_1"
    assert _tprobe(spark, store) == before

    # A tail batch after the compaction: generation ∪ tail served.
    ingest_vec_batch_txn(
        _vecs(spark, [(30, (0.97, 0.02))]), store, 2, CENTS
    )
    after = _tprobe(spark, store)
    assert {r[2] for r in after} == {10, 11, 20, 30}
    assert all(r[0] == 2 for r in after)


def test_second_generation_folds_first(spark, tmp_path):
    """Generations chain: compacting again after more batches folds
    the PREVIOUS generation (src_batch preserved — the NEWEST copy
    keeps its own batch across generations: last-write-wins, the
    same winner probes resolve to — ADVICE r12)."""
    from pyspark.sql import functions as F

    from kcidb_spark.queries.streaming_exec import (
        compact_store_txn,
        read_serve_manifest,
    )

    store = str(tmp_path / "store")
    # vec 10 arrives in batch 0 AND re-arrives in batch 2 (re-crawl).
    ingest_vec_batch_txn(_vecs(spark, [(10, (0.9, 0.1))]), store, 0, CENTS)
    ingest_vec_batch_txn(_vecs(spark, [(20, (0.1, 0.9))]), store, 1, CENTS)
    compact_store_txn(spark, store, 1)
    ingest_vec_batch_txn(
        _vecs(spark, [(10, (0.9, 0.1)), (30, (0.8, 0.2))]), store, 2, CENTS
    )
    compact_store_txn(spark, store, 2)
    man = read_serve_manifest(store)
    assert man["compacted_dir"] == "gen_2"
    rows = {
        (r["vec_id"], r["src_batch"])
        for r in spark.read.schema(
            "vec_id long, v array<double>, nrm double,"
            " src_batch bigint, c_id bigint"
        )
        .parquet(f"{store}/gen_2")
        .select("vec_id", "src_batch")
        .collect()
    }
    # Newest copy of 10 is its batch-2 re-ingest: last write wins
    # through two generations (the batch-0 copy is superseded).
    assert rows == {(10, 2), (20, 1), (30, 2)}
    assert _tprobe(spark, store) and all(
        r[0] == 2 for r in _tprobe(spark, store)
    )


def test_gc_deletes_only_unreferenced_and_probes_unchanged(spark, tmp_path):
    """The lifecycle's last step: after a compaction, GC removes the
    folded batch subtrees and superseded generations — and NOTHING
    the manifest still references — leaving every probe result
    byte-identical.  A second GC is a no-op (idempotent, like every
    transaction in this store)."""
    import os as _os

    from kcidb_spark.queries.streaming_exec import (
        compact_store_txn,
        serve_store_gc,
    )

    store = str(tmp_path / "store")
    ingest_vec_batch_txn(
        _vecs(spark, [(10, (0.9, 0.1)), (11, (0.1, 0.9))]), store, 0, CENTS
    )
    ingest_vec_batch_txn(
        _vecs(spark, [(20, (0.95, 0.05))]), store, 1, CENTS
    )
    compact_store_txn(spark, store, 1)
    ingest_vec_batch_txn(
        _vecs(spark, [(30, (0.97, 0.02))]), store, 2, CENTS
    )
    compact_store_txn(spark, store, 2)       # gen_2 supersedes gen_1
    ingest_vec_batch_txn(
        _vecs(spark, [(40, (0.2, 0.8))]), store, 3, CENTS
    )
    before = _tprobe(spark, store)
    assert {r[2] for r in before} == {10, 11, 20, 30, 40}

    deleted = serve_store_gc(store)
    names = {_os.path.basename(p) for p in deleted}
    # Folded batches 0-2 and the superseded gen_1 go; the current
    # generation and the live tail batch stay.
    assert names == {"batch_id=0", "batch_id=1", "batch_id=2", "gen_1"}
    assert _os.path.isdir(_os.path.join(store, "gen_2"))
    assert _os.path.isdir(_os.path.join(store, "data", "batch_id=3"))
    assert _tprobe(spark, store) == before
    assert serve_store_gc(store) == []        # idempotent


def test_t21_stream_restart_mid_run(spark, tmp_path):
    """The t21 pipeline across a RESTART: drain I0,P0,I1 with
    availableNow, go down, let P1,I2,P2 arrive, drain again from the
    SAME checkpoint.  The source ledger must hand the second drain
    only the new files with CONTINUING epoch ids (the parity dispatch
    depends on it), and the union of probe outputs must equal the
    sequential no-stream reference — ingest exactly-once and
    watermark visibility surviving the restart end-to-end through the
    real engine."""
    import glob
    import os as _os
    import shutil
    import time

    batches = [
        [(10, (0.9, 0.1)), (11, (0.1, 0.9))],
        [(20, (0.95, 0.05))],
        [(30, (0.3, 0.8))],
    ]
    queries = [(100, (1.0, 0.1)), (101, (0.1, 1.0))]
    watch = tmp_path / "in"
    watch.mkdir()
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    now = time.time()

    def stage(df, name, order):
        sdir = str(tmp_path / f"st_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(sdir)
        part = glob.glob(sdir + "/part-*.parquet")[0]
        dst = str(watch / f"{order:02d}_{name}.parquet")
        shutil.copyfile(part, dst)
        ts = now - 600 + 10 * order
        _os.utime(dst, (ts, ts))

    def handle(batch_df, epoch_id):
        if epoch_id % 2 == 0:
            ingest_vec_batch_txn(batch_df, store, epoch_id // 2, CENTS)
        else:
            probe_tiered_topk(
                batch_df, store, CENTS, 5
            ).write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    def drain():
        q = (
            spark.readStream.schema("vec_id long, v array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(watch))
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    qdf = _vecs(spark, queries)
    stage(_vecs(spark, batches[0]), "i0", 0)
    stage(qdf, "p0", 1)
    stage(_vecs(spark, batches[1]), "i1", 2)
    drain()
    # Query is DOWN; the next interleaving wave arrives.
    stage(qdf, "p1", 3)
    stage(_vecs(spark, batches[2]), "i2", 4)
    stage(qdf, "p2", 5)
    drain()

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("probe_round", "q_id", "n_id", "sim")
        .collect()
    )
    ref_store = str(tmp_path / "ref")
    expected = []
    for i, b in enumerate(batches):
        ingest_vec_batch_txn(_vecs(spark, b), ref_store, i, CENTS)
        expected += [
            tuple(r)
            for r in probe_tiered_topk(qdf, ref_store, CENTS, 5)
            .select("probe_round", "q_id", "n_id", "sim")
            .collect()
        ]
    assert got == sorted(expected)
    assert {r[0] for r in got} == {0, 1, 2}


# ---------------------------------------------------------------------------
# Deletion (tombstones): the last lifecycle verb
# ---------------------------------------------------------------------------


def test_delete_compact_gc_lifecycle(spark, tmp_path):
    """LSM tombstone semantics end-to-end: a delete hides copies
    ingested at or before its batch; a LATER re-ingest is a new
    version and stays visible (no discontinuity at the fold);
    compaction drops the hidden copies; GC reclaims the spent
    tombstone; probes are byte-identical across compaction and GC."""
    import os as _os

    from kcidb_spark.queries.streaming_exec import (
        compact_store_txn,
        delete_vec_batch_txn,
        serve_store_gc,
    )

    store = str(tmp_path / "store")
    ingest_vec_batch_txn(
        _vecs(spark, [(10, (0.9, 0.1)), (11, (0.1, 0.9))]), store, 0, CENTS
    )
    # Delete vec 10 at batch 1 (tombstone rides the same watermark).
    delete_vec_batch_txn(
        spark, _vecs(spark, [(10, (0.0, 0.0))]).select("vec_id"), store, 1
    )
    hidden = _tprobe(spark, store)
    assert {r[2] for r in hidden} == {11} and all(r[0] == 1 for r in hidden)

    # Re-ingest vec 10 at batch 2: a NEW version, visible again.
    ingest_vec_batch_txn(
        _vecs(spark, [(10, (0.9, 0.1))]), store, 2, CENTS
    )
    back = _tprobe(spark, store)
    assert {r[2] for r in back} == {10, 11}

    # Compaction folding batches ≤ 2 (tombstone included): the batch-0
    # copy of vec 10 is dropped, the batch-2 copy survives; probe
    # rows identical (modulo probe_round, which is unchanged here).
    compact_store_txn(spark, store, 2)
    assert _tprobe(spark, store) == back
    gen_rows = {
        (r["vec_id"], r["src_batch"])
        for r in spark.read.schema(
            "vec_id long, v array<double>, nrm double,"
            " src_batch bigint, c_id bigint"
        ).parquet(f"{store}/gen_2").select("vec_id", "src_batch").collect()
    }
    assert gen_rows == {(10, 2), (11, 0)}

    # GC reclaims the folded batches AND the spent tombstone.
    deleted = serve_store_gc(store)
    names = {_os.path.basename(p) for p in deleted}
    assert "batch_id=1" in names  # the tombstone subtree
    assert not _os.path.isdir(_os.path.join(store, "tombstones", "batch_id=1"))
    assert _tprobe(spark, store) == back


def test_flat_probe_tombstone_ordering(spark, tmp_path):
    """The flat (t21) probe under the same ordering semantics, plus
    the crash window: an unpublished tombstone is invisible."""
    from kcidb_spark.queries.streaming_exec import delete_vec_batch_txn

    store = str(tmp_path / "store")
    ingest_vec_batch_txn(
        _vecs(spark, [(10, (0.9, 0.1)), (11, (0.1, 0.9))]), store, 0, CENTS
    )
    before = _probe(spark, store)
    # Tombstone written but crash before the watermark advance.
    delete_vec_batch_txn(
        spark, _vecs(spark, [(10, (0.0, 0.0))]).select("vec_id"),
        store, 1, fail_before_manifest=True,
    )
    assert _probe(spark, store) == before
    # Replay publishes; vec 10 disappears.
    delete_vec_batch_txn(
        spark, _vecs(spark, [(10, (0.0, 0.0))]).select("vec_id"), store, 1
    )
    after = _probe(spark, store)
    assert {r[2] for r in after} == {11}
    # Re-ingest at batch 2: visible again (ordering, not erase-forever).
    ingest_vec_batch_txn(_vecs(spark, [(10, (0.9, 0.1))]), store, 2, CENTS)
    assert {r[2] for r in _probe(spark, store)} == {10, 11}


def test_as_of_probe_replays_history_and_future_raises(spark, tmp_path):
    """Time travel on the flat store: a probe at as_of=N equals the
    live probe taken when N was the watermark (including tombstone
    visibility at its own position); probing past the committed
    watermark raises."""
    import pytest as _pytest

    from kcidb_spark.queries.streaming_exec import delete_vec_batch_txn

    store = str(tmp_path / "store")
    live = []
    ingest_vec_batch_txn(
        _vecs(spark, [(10, (0.9, 0.1)), (11, (0.1, 0.9))]), store, 0, CENTS
    )
    live.append(_probe(spark, store))
    delete_vec_batch_txn(
        spark, _vecs(spark, [(10, (0.0, 0.0))]).select("vec_id"), store, 1
    )
    live.append(_probe(spark, store))
    ingest_vec_batch_txn(_vecs(spark, [(10, (0.9, 0.1))]), store, 2, CENTS)
    live.append(_probe(spark, store))

    def as_of(n):
        return sorted(
            (r["probe_round"], r["q_id"], r["n_id"], r["sim"])
            for r in probe_tiered_topk(
                _vecs(spark, ((100, (1.0, 0.1)),)), store, CENTS, 5,
                as_of=n,
            ).collect()
        )

    assert as_of(0) == live[0]
    assert as_of(1) == live[1]
    assert as_of(2) == live[2]
    with _pytest.raises(ValueError, match="watermark"):
        as_of(3)


# ---------------------------------------------------------------------------
# r13: re-ingest VERSION semantics (ADVICE r12 medium) and the unified
# visibility manifest (VERDICT r12 "Next round" #3)
# ---------------------------------------------------------------------------


def test_reingest_changed_vector_serves_newest_once(spark, tmp_path):
    """An id re-ingested with a DIFFERENT vector (no intervening
    tombstone) must consume ONE candidate slot and serve its NEWEST
    copy — and compaction must keep that same winner, so folding the
    store never changes what a probe returns (the ADVICE r12 shape:
    first-wins compaction under all-copies probes silently flipped
    the served version)."""
    from kcidb_spark.queries.streaming_exec import compact_store_txn

    store = str(tmp_path / "store")
    # vec 10 at (0.9, 0.1) in batch 0, re-crawled as (0.5, 0.1) in
    # batch 2 — same nearest centroid (c=0), different similarity.
    ingest_vec_batch_txn(
        _vecs(spark, [(10, (0.9, 0.1)), (11, (0.1, 0.9))]), store, 0, CENTS
    )
    ingest_vec_batch_txn(_vecs(spark, [(20, (0.95, 0.05))]), store, 1, CENTS)
    ingest_vec_batch_txn(_vecs(spark, [(10, (0.5, 0.1))]), store, 2, CENTS)

    rows = _probe(spark, store)
    n10 = [r for r in rows if r[2] == 10]
    assert len(n10) == 1, rows                 # one slot, not one per copy
    expected_new = round(
        (1.0 * 0.5 + 0.1 * 0.1)
        / ((1.0**2 + 0.1**2) ** 0.5 * (0.5**2 + 0.1**2) ** 0.5),
        4,
    )
    assert n10[0][3] == pytest.approx(expected_new)   # the batch-2 copy

    # Compaction keeps the SAME winner: probes byte-identical.
    compact_store_txn(spark, store, 2)
    assert _tprobe(spark, store) == rows


def test_visibility_manifest_is_layout_agnostic(spark, tmp_path):
    """One manifest: every ingest and delete transaction advances the
    same single ``_manifest.json`` (no second visibility file is ever
    written), and the probe serves each publish."""
    from kcidb_spark.queries.streaming_exec import (
        delete_vec_batch_txn,
        read_serve_manifest,
    )

    store = str(tmp_path / "store")
    ingest_vec_batch_txn(                       # first publish
        _vecs(spark, [(10, (0.9, 0.1)), (11, (0.1, 0.9))]), store, 0, CENTS
    )
    ingest_vec_batch_txn(                       # second publish
        _vecs(spark, [(20, (0.95, 0.05))]), store, 1, CENTS
    )
    # Both publishes advanced ONE file; the probe sees both batches.
    assert not os.path.exists(os.path.join(store, "_watermark"))
    assert read_serve_manifest(store)["wm"] == 1
    assert {r[2] for r in _probe(spark, store)} == {10, 11, 20}
    assert {r[2] for r in _tprobe(spark, store)} == {10, 11, 20}

    # A delete rides the same manifest.
    delete_vec_batch_txn(
        spark, _vecs(spark, [(20, (0.0, 0.0))]).select("vec_id"), store, 2
    )
    assert read_serve_manifest(store)["wm"] == 2
    assert {r[2] for r in _probe(spark, store)} == {10, 11}
    assert {r[2] for r in _tprobe(spark, store)} == {10, 11}


def test_tiered_as_of_respects_the_compaction_horizon(spark, tmp_path):
    """Time travel on the TIERED store: valid at or after the
    compacted point (the generation plus a shortened tail), raises
    before it (superseded copies are folded away) and beyond the
    committed watermark."""
    import pytest as _pytest

    from kcidb_spark.queries.streaming_exec import compact_store_txn

    def tp(as_of=None):
        return sorted(
            (r["probe_round"], r["q_id"], r["n_id"], r["sim"])
            for r in probe_tiered_topk(
                _vecs(spark, ((100, (1.0, 0.1)),)), store, CENTS, 5,
                as_of=as_of,
            ).collect()
        )

    store = str(tmp_path / "store")
    ingest_vec_batch_txn(_vecs(spark, [(10, (0.9, 0.1))]), store, 0, CENTS)
    ingest_vec_batch_txn(_vecs(spark, [(20, (0.95, 0.05))]), store, 1, CENTS)
    live_at_1 = tp()
    compact_store_txn(spark, store, 1)
    ingest_vec_batch_txn(_vecs(spark, [(30, (0.97, 0.02))]), store, 2, CENTS)

    assert {r[2] for r in tp()} == {10, 20, 30}
    # as_of == the compacted point: generation only, equals the live
    # probe taken at that moment (modulo the probe_round stamp).
    assert [r[1:] for r in tp(as_of=1)] == [r[1:] for r in live_at_1]
    with _pytest.raises(ValueError, match="compacted point"):
        tp(as_of=0)
    with _pytest.raises(ValueError, match="watermark"):
        tp(as_of=5)
