"""OPQ serving store (VERDICT r14 "Next round" #2) — the learned
rotation as a MANIFEST model parameter:

* FIXED-ROTATION CONTROL: an OPQ store whose manifest rotation is the
  fixed Givens matrix probes EQUAL to a plain PQ store fed the same
  externally-rotated grid — the rotation seam adds nothing to the
  certified serving machinery;
* in-store learned distortion ≤ fixed (keep-best wired through);
* retrain re-solves rotation + both quantizers under ONE swap —
  crash-window probe invariance, atomic rotation/model flip, replay;
* probes never read the cold unrotated tier (plan-asserted).
"""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from kcidb_spark.operators.opq import givens_rotation
from kcidb_spark.queries.streaming_exec import (
    _opq_quantize,
    _pqc_static_model,
    _T21_RANGES,
    ingest_pq_batch_txn,
    init_pq_store,
    probe_pq_topk,
    read_serve_manifest,
    retrain_pq_store_txn,
)

SUBS, SUBDIM = 2, 1
D = SUBS * SUBDIM


def _xvecs(spark, ids_and_points):
    return spark.createDataFrame(
        [
            Row(vec_id=i, x=[float(a), float(b)])
            for i, (a, b) in ids_and_points
        ],
        "vec_id long, x array<double>",
    )


#: Toy corpus in [-1, 1]^2: two clusters near the axes.
XPOINTS = {
    0: (0.9, 0.1), 1: (0.1, 0.9), 2: (0.95, 0.05),
    3: (0.05, 0.95), 4: (0.8, 0.2), 6: (0.15, 0.85),
}


def _toy_store(spark, store, rot):
    vq = _opq_quantize(_xvecs(spark, XPOINTS.items()), rot)
    cents = sorted(
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in vq.filter(F.col("vec_id") < 2).collect()
    )
    books = sorted(
        (int(s), int(r["vec_id"]), [int(r["q"][s])])
        for r in vq.filter(F.col("vec_id") < 2).collect()
        for s in range(SUBS)
    )
    init_pq_store(store, cents, books, SUBS, SUBDIM, rot=rot)
    items = sorted(XPOINTS.items())
    ingest_pq_batch_txn(_xvecs(spark, items[:3]), store, 0)
    ingest_pq_batch_txn(_xvecs(spark, items[3:]), store, 1)
    return store


def _probe(spark, store, qs=((100, (0.93, 0.07)),), k=6, as_of=None):
    return sorted(
        (r["probe_round"], r["q_id"], r["n_id"], r["adc_micro"], r["rk"])
        for r in probe_pq_topk(
            _xvecs(spark, qs), store, k, as_of=as_of
        ).collect()
    )


def test_opq_fixed_rotation_control_equals_pq_store(spark, tmp_path):
    """The seam theorem: OPQ store with rotation R ≡ PQ store fed
    externally R-rotated vectors — same grid, same codes, same ADC
    ranks, byte-equal probe results (real sf0.001 embeddings)."""
    from kcidb_spark.queries.advanced import (
        _IVF_K,
        _IVF_QUERIES,
        _KM_NPROBE,
    )
    from kcidb_spark.tables import table

    rot = givens_rotation(64)
    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    vecs = emb.select(
        "vec_id", F.expr("cast(embedding as array<double>)").alias("x")
    )
    vq = _opq_quantize(vecs, rot).persist()
    try:
        cents, books = _pqc_static_model(spark, vq)
        pfx = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)

        pq = str(tmp_path / "pq")
        from kcidb_spark.queries.advanced import (
            _PQK_SUBDIM,
            _PQK_SUBS,
        )

        init_pq_store(pq, cents, books, _PQK_SUBS, _PQK_SUBDIM)
        opq = str(tmp_path / "opq")
        init_pq_store(opq, cents, books, _PQK_SUBS, _PQK_SUBDIM, rot=rot)
        for i, chars in enumerate(_T21_RANGES):
            ingest_pq_batch_txn(
                vq.filter(pfx.isin(*list(chars))), pq, i
            )
            ingest_pq_batch_txn(
                vecs.filter(pfx.isin(*list(chars))), opq, i
            )
        want = sorted(
            map(tuple, probe_pq_topk(
                vq.filter(F.col("vec_id") < _IVF_QUERIES),
                pq, _IVF_K, nprobe=_KM_NPROBE,
            ).collect())
        )
        got = sorted(
            map(tuple, probe_pq_topk(
                vecs.filter(F.col("vec_id") < _IVF_QUERIES),
                opq, _IVF_K, nprobe=_KM_NPROBE,
            ).collect())
        )
        assert want and got == want
    finally:
        vq.unpersist()


def test_opq_store_learned_distortion_le_fixed(spark):
    """In-store keep-best: the manifest rotation the opq_store_serve
    entry publishes has measured sample distortion ≤ the Givens
    init's (history[0] is the init's own distortion; keep-best can
    only improve on it)."""
    from kcidb_spark.queries.advanced import _opq_trained
    from kcidb_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.expr("cast(embedding as array<double>)").alias("x"),
    )
    rot, _books, hist = _opq_trained(spark, "/root/testdata/sf0.001", vecs)
    assert len(hist) >= 2
    assert min(hist) <= hist[0]
    # The trained matrix is orthogonal (R·Rᵀ = I) — probing with it
    # preserves distances up to quantization.
    import numpy as np

    r = np.array(rot)
    assert np.allclose(r @ r.T, np.eye(r.shape[0]), atol=1e-8)


def test_opq_probe_never_reads_unrotated_tier(spark, tmp_path):
    store = _toy_store(
        spark, str(tmp_path / "store"), givens_rotation(D)
    )
    df = probe_pq_topk(_xvecs(spark, [(100, (0.9, 0.1))]), store, 4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert f"{os.sep}rawx" not in plan


def test_opq_retrain_swaps_rotation_model_and_layout_atomically(
    spark, tmp_path
):
    store = _toy_store(
        spark, str(tmp_path / "store"), givens_rotation(D)
    )
    before = _probe(spark, store)
    rot_before = read_serve_manifest(store)["pq_rot"]

    # Crash before the publish: generation dir exists, probes serve
    # the OLD rotation + model + codes byte-identically.
    retrain_pq_store_txn(spark, store, 2, 2, 2, iters=2,
                         fail_before_manifest=True)
    assert os.path.isdir(os.path.join(store, "gen_opq_1", "codes"))
    assert os.path.isdir(os.path.join(store, "gen_opq_1", "rawx"))
    assert _probe(spark, store) == before
    man = read_serve_manifest(store)
    assert man.get("compacted_upto", -1) == -1
    assert man["centroid_gen"] == 0
    assert man["pq_rot"] == rot_before

    # Replay completes: rotation, model generation, and fold point
    # advance TOGETHER; the probe serves the re-encoded generation
    # under the re-solved rotation.
    retrain_pq_store_txn(spark, store, 2, 2, 2, iters=2)
    man = read_serve_manifest(store)
    assert man["centroid_gen"] == 1
    assert man["compacted_upto"] == 1
    assert man["compacted_dir"] == "gen_opq_1"
    after = _probe(spark, store)
    assert {r[2] for r in after} <= set(XPOINTS)
    # The x-cluster query still ranks the x-cluster members first.
    by_rank = [r[2] for r in sorted(after, key=lambda r: r[4])]
    assert set(by_rank[:3]) == {0, 2, 4}


def test_opq_tail_ingest_after_retrain_uses_new_rotation(spark, tmp_path):
    """A batch ingested AFTER the retrain is rotated + encoded under
    the NEW manifest (rotation and model from one snapshot) and
    served alongside the generation; deletes hide members through the
    shared tombstone discipline."""
    from kcidb_spark.queries.streaming_exec import delete_vec_batch_txn

    store = _toy_store(
        spark, str(tmp_path / "store"), givens_rotation(D)
    )
    retrain_pq_store_txn(spark, store, 2, 2, 2, iters=2)
    ingest_pq_batch_txn(_xvecs(spark, [(7, (0.85, 0.15))]), store, 2)
    rows = _probe(spark, store, k=7)
    assert 7 in {r[2] for r in rows}
    ids = spark.createDataFrame([Row(vec_id=0)], "vec_id long")
    delete_vec_batch_txn(spark, ids, store, 3)
    assert 0 not in {r[2] for r in _probe(spark, store, k=7)}


def test_opq_compact_gc_retrain_keeps_the_cold_tier(spark, tmp_path):
    """The fold folds the cold tier the model names: a rotated store's
    compaction carries ``rawx`` into the generation, so GC of the
    folded batches leaves the retrain its re-solve source; the probe
    is unchanged across compaction and GC."""
    from kcidb_spark.queries.streaming_exec import (
        compact_pq_store_txn,
        serve_store_gc,
    )

    store = _toy_store(
        spark, str(tmp_path / "store"), givens_rotation(D)
    )
    before = _probe(spark, store)
    compact_pq_store_txn(spark, store, 1)
    assert _probe(spark, store) == before
    serve_store_gc(store)
    assert _probe(spark, store) == before
    assert not os.path.exists(os.path.join(store, "rawx", "batch_id=0"))
    assert os.path.isdir(os.path.join(store, "gen_pqc_1", "rawx"))
    retrain_pq_store_txn(spark, store, 2, 2, 2, iters=2)
    man = read_serve_manifest(store)
    assert man["centroid_gen"] == 1
    assert man["compacted_dir"] == "gen_opq_1"
    assert {r[2] for r in _probe(spark, store)} == set(XPOINTS)


def test_rotated_probe_reads_one_manifest_snapshot(
    spark, tmp_path, monkeypatch
):
    """Rotation, model, codes and generation come from ONE manifest
    read, so a retrain publishing mid-probe cannot pair the old
    rotation with the new model."""
    from kcidb_spark.queries import streaming_exec as se
    from kcidb_spark.serve import lsm

    store = _toy_store(
        spark, str(tmp_path / "store"), givens_rotation(D)
    )
    reads = []
    real = lsm.read_serve_manifest

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(se, "read_serve_manifest", counting)
    monkeypatch.setattr(lsm, "read_serve_manifest", counting)
    rows = _probe(spark, store)
    assert rows and len(reads) == 1
