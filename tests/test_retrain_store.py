"""Retrain — the serving store's last lifecycle verb (VERDICT r12 #1).

Pins the two properties the registry oracle cannot see:

* PROBE INVARIANCE MID-SWAP: a retrain that crashes before its
  manifest publish leaves every probe byte-identical (old generation,
  OLD centroids — the atomic swap covers the routing table, not just
  the data layout);
* TRAINING IS NOT WORSE: Lloyd initialized at the generation-0
  centroids monotonically decreases sample distortion, so the
  retrained quantizer's sample distortion is ≤ the static one's
  (the test_ann_recall.py precedent, applied to the online verb).

Plus the tail/replay mechanics: a batch ingested AFTER the retrain is
routed by the NEW centroids and served alongside the generation; a
second retrain folds that tail into the next generation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from kcidb_spark.queries.streaming_exec import (
    ingest_q_batch_txn,
    init_q_store,
    probe_q_topk,
    read_serve_manifest,
    retrain_store_txn,
)

#: Generation-0 routing table: the 2-D axes, scaled to integers.
INIT_CENTS = [(0, [100, 0]), (1, [0, 100])]


def _qvecs(spark, ids_and_points):
    return spark.createDataFrame(
        [Row(vec_id=i, q=[int(x), int(y)]) for i, (x, y) in ids_and_points],
        "vec_id long, q array<bigint>",
    )


def _probe(spark, store, qs=((100, (100, 10)),), k=4):
    return sorted(
        (r["q_id"], r["n_id"], r["d2"])
        for r in probe_q_topk(_qvecs(spark, qs), store, k).collect()
    )


def _build(spark, store):
    init_q_store(store, INIT_CENTS)
    ingest_q_batch_txn(
        _qvecs(spark, [(0, (90, 10)), (1, (10, 90)), (3, (5, 95))]),
        store, 0,
    )
    ingest_q_batch_txn(
        _qvecs(spark, [(2, (95, 5)), (4, (80, 20))]), store, 1
    )


def _sample_distortion(points, cents):
    """Σ over the retrain sample of min squared-L2 to the centroid
    set — the quantity Lloyd monotonically decreases."""
    sample = {
        i: p for i, p in points.items() if i % 3 == 0 or i < 2
    }
    return sum(
        min(
            (px - cx) ** 2 + (py - cy) ** 2
            for _, (cx, cy) in cents
        )
        for px, py in sample.values()
    )


POINTS = {0: (90, 10), 1: (10, 90), 2: (95, 5), 3: (5, 95), 4: (80, 20)}


def test_retrain_swap_is_atomic_and_trains_no_worse(spark, tmp_path):
    store = str(tmp_path / "store")
    _build(spark, store)
    before = _probe(spark, store)
    assert before, "pre-retrain probe must serve"

    # Crash window: generation written, manifest NOT swapped — probes
    # still serve generation 0 with the OLD routing table.
    retrain_store_txn(spark, store, 2, 2, fail_before_manifest=True)
    man = read_serve_manifest(store)
    assert man.get("centroid_gen", 0) == 0
    assert man.get("compacted_dir") is None
    assert _probe(spark, store) == before

    # Replay completes: one atomic publish flips generation AND
    # centroids together.
    retrain_store_txn(spark, store, 2, 2)
    man = read_serve_manifest(store)
    assert man["centroid_gen"] == 1
    assert man["compacted_dir"] == "gen_retrain_1"
    trained = [(c, tuple(q)) for c, q in man["centroids"]]

    # Lloyd init == generation-0 centroids → sample distortion is
    # monotone: trained ≤ static.
    assert _sample_distortion(POINTS, trained) <= _sample_distortion(
        POINTS, INIT_CENTS
    )

    # Post-swap probes rank the SAME members (re-encoded, not lost),
    # with exact d2 — membership is retrain-invariant even though
    # routing changed.
    after = _probe(spark, store, k=10)
    assert {r[1] for r in after} == set(POINTS)


def test_tail_after_retrain_routes_by_new_centroids(spark, tmp_path):
    store = str(tmp_path / "store")
    _build(spark, store)
    retrain_store_txn(spark, store, 2, 2)
    man = read_serve_manifest(store)
    trained = {c: tuple(q) for c, q in man["centroids"]}

    # A tail batch lands AFTER the swap: ingest reads the manifest's
    # (new) centroids, so its partition matches the new routing.
    ingest_q_batch_txn(_qvecs(spark, [(6, (20, 80))]), store, 2)
    rows = spark.read.schema(
        "vec_id long, q array<bigint>, c_id bigint, batch_id bigint"
    ).parquet(f"{store}/data").filter("batch_id = 2").collect()
    (r6,) = rows
    expected_c = min(
        trained,
        key=lambda c: (
            (20 - trained[c][0]) ** 2 + (80 - trained[c][1]) ** 2,
            c,
        ),
    )
    assert r6["c_id"] == expected_c

    # Probes serve generation ∪ tail.
    served = {r[1] for r in _probe(spark, store, k=10)}
    assert served == set(POINTS) | {6}

    # A SECOND retrain folds the tail into the next generation.
    retrain_store_txn(spark, store, 2, 2)
    man = read_serve_manifest(store)
    assert man["centroid_gen"] == 2
    assert man["compacted_dir"] == "gen_retrain_2"
    assert {r[1] for r in _probe(spark, store, k=10)} == set(POINTS) | {6}


def test_retrain_replay_is_idempotent(spark, tmp_path):
    store = str(tmp_path / "store")
    _build(spark, store)
    retrain_store_txn(spark, store, 2, 2)
    first = (_probe(spark, store, k=10), read_serve_manifest(store))
    # Replay of the same transaction (same wm): overwrites its own
    # generation dir, re-publishes the same visibility fact — except
    # centroid_gen, a pure lineage counter.
    retrain_store_txn(spark, store, 2, 2)
    man = read_serve_manifest(store)
    assert _probe(spark, store, k=10) == first[0]
    assert man["compacted_dir"] == first[1]["compacted_dir"]
    assert man["centroids"] == first[1]["centroids"]
    assert man["wm"] == first[1]["wm"]


def test_retrain_folds_tombstones_and_probe_hides_them(spark, tmp_path):
    """Deletes compose with retraining: a tombstoned id is excluded
    from the retrain's training sample AND from the re-encoded
    generation (the fold spends the tombstone), and probes hide it
    both before and after the swap."""
    from kcidb_spark.queries.streaming_exec import delete_vec_batch_txn

    store = str(tmp_path / "store")
    _build(spark, store)
    delete_vec_batch_txn(
        spark,
        spark.createDataFrame([(4,)], "vec_id long"),
        store,
        2,
    )
    # Pre-retrain probe hides the tombstoned id.
    assert 4 not in {r[1] for r in _probe(spark, store, k=10)}

    retrain_store_txn(spark, store, 2, 2)
    # The generation no longer carries it at all.
    gen_ids = {
        r["vec_id"]
        for r in spark.read.schema(
            "vec_id long, q array<bigint>, src_batch bigint, c_id bigint"
        ).parquet(f"{tmp_path}/store/gen_retrain_2").collect()
    }
    assert gen_ids == set(POINTS) - {4}
    assert 4 not in {r[1] for r in _probe(spark, store, k=10)}

    # A post-retrain RE-INGEST of the id is a new version (LSM
    # ordering): visible again, routed by the trained centroids.
    ingest_q_batch_txn(_qvecs(spark, [(4, (80, 20))]), store, 3)
    assert 4 in {r[1] for r in _probe(spark, store, k=10)}


def test_retrain_recovers_recall_on_drifted_corpus(spark, tmp_path):
    """The verb's reason to exist: the corpus drifts away from the
    generation-0 centroids (two true clusters, BOTH on the same side
    of the static routing boundary), so static routing at nprobe=1
    splits true neighborhoods across partitions and recall@k against
    the exact brute force degrades; retraining (Lloyd from the static
    init, on the standard sample) adapts the routing to the drifted
    density and recall must be ≥ pre-retrain — strictly greater in
    this construction."""
    store = str(tmp_path / "store")
    # Drifted corpus: cluster A around (60..69, 60..69) diag-ish,
    # cluster B around (5..14, 5..14) — neither near the static
    # centroids (100,0)/(0,100); the static boundary x=y cuts BOTH
    # clusters in half.
    pts = {}
    for i in range(10):
        pts[i] = (60 + i, 69 - i)          # cluster A straddles x=y
    for i in range(10, 20):
        pts[i] = (5 + (i - 10), 14 - (i - 10))   # cluster B straddles too
    init_q_store(store, INIT_CENTS)
    ingest_q_batch_txn(
        _qvecs(spark, [(i, pts[i]) for i in sorted(pts) if i < 12]),
        store, 0,
    )
    ingest_q_batch_txn(
        _qvecs(spark, [(i, pts[i]) for i in sorted(pts) if i >= 12]),
        store, 1,
    )

    k = 3
    queries = {100: (65, 64), 101: (9, 10)}   # one per true cluster

    def exact_topk(qp):
        d2 = sorted(
            ((px - qp[0]) ** 2 + (py - qp[1]) ** 2, i)
            for i, (px, py) in pts.items()
        )
        return {i for _, i in d2[:k]}

    def recall():
        got = {}
        rows = probe_q_topk(
            _qvecs(spark, tuple(queries.items())), store, k, nprobe=1
        ).collect()
        for r in rows:
            got.setdefault(r["q_id"], set()).add(r["n_id"])
        return sum(
            len(got.get(q, set()) & exact_topk(qp)) / k
            for q, qp in queries.items()
        ) / len(queries)

    pre = recall()
    retrain_store_txn(spark, store, 2, 2)
    post = recall()
    assert post >= pre
    assert post > pre, (pre, post)    # this construction must improve
    assert post == 1.0, (pre, post)   # adapted routing finds all


def test_gc_reclaims_superseded_retrain_generations(spark, tmp_path):
    """serve_store_gc must recognize `gen_retrain_<N>` directories:
    before the r13 review fix its `gen_\\d+` pattern skipped them,
    leaking one re-encoded corpus copy per retrain."""
    import os as _os

    from kcidb_spark.queries.streaming_exec import serve_store_gc

    store = str(tmp_path / "store")
    _build(spark, store)
    retrain_store_txn(spark, store, 2, 2)          # gen_retrain_1
    ingest_q_batch_txn(_qvecs(spark, [(6, (20, 80))]), store, 2)
    retrain_store_txn(spark, store, 2, 2)          # gen_retrain_2
    before = _probe(spark, store, k=10)

    deleted = serve_store_gc(store)
    names = {_os.path.basename(p) for p in deleted}
    assert "gen_retrain_1" in names
    assert _os.path.isdir(_os.path.join(store, "gen_retrain_2"))
    assert _probe(spark, store, k=10) == before
    assert serve_store_gc(store) == []


def test_probe_reads_one_manifest_snapshot(spark, tmp_path, monkeypatch):
    """Centroids and members come from ONE manifest read, so a retrain
    publishing mid-probe cannot pair the old routing table with the
    new generation's c_id layout."""
    from kcidb_spark.queries import streaming_exec as se
    from kcidb_spark.serve import lsm

    store = str(tmp_path / "store")
    _build(spark, store)
    retrain_store_txn(spark, store, 2, 2)
    reads = []
    real = lsm.read_serve_manifest

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(se, "read_serve_manifest", counting)
    monkeypatch.setattr(lsm, "read_serve_manifest", counting)
    rows = _probe(spark, store)
    assert rows and len(reads) == 1
