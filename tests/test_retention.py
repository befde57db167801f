"""Retention-horizon time travel (VERDICT r13 "Next round" #9).

``set_store_retention(store, N)`` makes pre-fold snapshots live for N
watermarks after a compaction/retrain supersedes them: probes resolve
``as_of`` reads BEFORE the fold point through retained manifest
snapshots (raising only past the horizon), and GC protects the
generation dirs and raw batch subtrees those snapshots still
reference.  The invariant under test everywhere: an ``as_of=W`` probe
through history is byte-identical to the live probe taken when the
watermark WAS W — across compaction, across GC, across a rebucket
migration (pb travels with the snapshot), and across a PQ retrain
(model and layout travel together).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from kcidb_spark.queries.streaming_exec import (
    compact_postings_txn,
    compact_store_txn,
    ingest_postings_batch_txn,
    ingest_pq_batch_txn,
    ingest_vec_batch_txn,
    init_pq_store,
    postings_store_gc,
    probe_pq_topk,
    probe_postings_bm25,
    probe_tiered_topk,
    read_serve_manifest,
    rebucket_postings_txn,
    serve_store_gc,
    set_store_retention,
)

CENTS = [(0, [1.0, 0.0], 1.0), (1, [0.0, 1.0], 1.0)]


def _vecs(spark, ids_and_points):
    return spark.createDataFrame(
        [Row(vec_id=i, v=list(map(float, p))) for i, p in ids_and_points],
        "vec_id long, v array<double>",
    )


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows],
        "doc_id long, text string",
    )


def _tp(spark, store, as_of=None):
    return sorted(
        (r["q_id"], r["n_id"], r["sim"])
        for r in probe_tiered_topk(
            _vecs(spark, ((100, (1.0, 0.1)),)), store, CENTS, 5,
            as_of=as_of,
        ).collect()
    )


def test_tiered_as_of_crosses_fold_within_horizon(spark, tmp_path):
    store = str(tmp_path / "store")
    set_store_retention(store, 10)
    ingest_vec_batch_txn(_vecs(spark, [(10, (0.9, 0.1))]), store, 0, CENTS)
    live_at_0 = _tp(spark, store)
    ingest_vec_batch_txn(_vecs(spark, [(20, (0.95, 0.05))]), store, 1, CENTS)
    live_at_1 = _tp(spark, store)
    compact_store_txn(spark, store, 1)
    ingest_vec_batch_txn(_vecs(spark, [(30, (0.97, 0.02))]), store, 2, CENTS)

    # Pre-fold snapshots replay exactly (the r13 layout raised here).
    assert _tp(spark, store, as_of=0) == live_at_0
    assert _tp(spark, store, as_of=1) == live_at_1
    man = read_serve_manifest(store)
    assert len(man["history"]) == 1  # genesis snapshot
    assert man["history"][0]["superseded_wm"] == 1

    # GC must NOT reclaim the folded batches a live snapshot reads.
    deleted = serve_store_gc(store)
    assert deleted == []
    assert _tp(spark, store, as_of=0) == live_at_0

    # A second fold pins gen_1 (the now-superseded generation) too:
    # as_of=2 serves from gen_1 ∪ nothing, identical across GC.
    live_at_2 = _tp(spark, store)
    compact_store_txn(spark, store, 2)
    ingest_vec_batch_txn(_vecs(spark, [(40, (0.99, 0.01))]), store, 3, CENTS)
    serve_store_gc(store)
    assert _tp(spark, store, as_of=2) == live_at_2
    assert _tp(spark, store, as_of=0) == live_at_0


def test_tiered_raise_only_past_horizon_then_gc_reclaims(spark, tmp_path):
    store = str(tmp_path / "store")
    set_store_retention(store, 3)
    ingest_vec_batch_txn(_vecs(spark, [(10, (0.9, 0.1))]), store, 0, CENTS)
    live_at_0 = _tp(spark, store)
    ingest_vec_batch_txn(_vecs(spark, [(20, (0.95, 0.05))]), store, 1, CENTS)
    compact_store_txn(spark, store, 1)  # genesis superseded at wm=1

    # Within horizon (wm=1, 1 > 1-3): serves.
    assert _tp(spark, store, as_of=0) == live_at_0
    # Advance the watermark past the horizon: 1 <= 4-3.
    for b in (2, 3, 4):
        ingest_vec_batch_txn(
            _vecs(spark, [(20 + b, (0.9, 0.1))]), store, b, CENTS
        )
    with pytest.raises(ValueError, match="retention horizon"):
        _tp(spark, store, as_of=0)
    # The NEXT fold trims the expired snapshot; GC then reclaims the
    # batches it pinned (pure deleter: manifest untouched by GC).
    compact_store_txn(spark, store, 4)
    man = read_serve_manifest(store)
    assert all(h["superseded_wm"] > 4 - 3 for h in man["history"])
    deleted = serve_store_gc(store)
    assert any("batch_id=0" in p for p in deleted)
    with pytest.raises(ValueError, match="retention horizon|retained snapshot"):
        _tp(spark, store, as_of=0)


def test_retain_zero_keeps_the_refusal_contract(spark, tmp_path):
    store = str(tmp_path / "store")
    ingest_vec_batch_txn(_vecs(spark, [(10, (0.9, 0.1))]), store, 0, CENTS)
    ingest_vec_batch_txn(_vecs(spark, [(20, (0.95, 0.05))]), store, 1, CENTS)
    compact_store_txn(spark, store, 1)
    man = read_serve_manifest(store)
    assert "history" not in man
    with pytest.raises(ValueError, match="compacted point"):
        _tp(spark, store, as_of=0)


Q = ((100, "apple banana"),)


def _pp(spark, store, as_of=None):
    return sorted(
        (r["q_id"], r["n_id"], r["score_micro"], r["rk"])
        for r in probe_postings_bm25(
            _docs(spark, Q), store, 10, as_of=as_of
        ).collect()
    )


def test_postings_as_of_crosses_fold_and_rebucket(spark, tmp_path):
    store = str(tmp_path / "store")
    set_store_retention(store, 10)
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple pie"), (2, "banana split")]), store, 0
    )
    live_at_0 = _pp(spark, store)
    ingest_postings_batch_txn(
        _docs(spark, [(3, "apple banana smoothie")]), store, 1
    )
    live_at_1 = _pp(spark, store)
    compact_postings_txn(spark, store, 1)
    ingest_postings_batch_txn(
        _docs(spark, [(4, "apple banana bread")]), store, 2
    )
    # Pre-fold statistics AND candidates replay (df/N/S at wm=0).
    assert _pp(spark, store, as_of=0) == live_at_0
    assert _pp(spark, store, as_of=1) == live_at_1
    assert postings_store_gc(store) == []
    assert _pp(spark, store, as_of=0) == live_at_0

    # Rebucket migration: the snapshot carries the OLD pb, so a
    # pre-migration as_of routes query terms by the old count against
    # the old layout — byte-identical across the migration.
    live_at_2 = _pp(spark, store)
    rebucket_postings_txn(spark, store, 16)
    assert int(read_serve_manifest(store)["pb"]) == 16
    assert _pp(spark, store, as_of=2) == live_at_2
    assert _pp(spark, store, as_of=0) == live_at_0
    postings_store_gc(store)
    assert _pp(spark, store, as_of=2) == live_at_2


SUBS, SUBDIM = 2, 1
INIT_CENTS = [(0, [100, 0]), (1, [0, 100])]
INIT_BOOKS = [
    (0, 0, [100]), (0, 1, [0]),
    (1, 0, [0]), (1, 1, [100]),
]


def _qvecs(spark, ids_and_points):
    return spark.createDataFrame(
        [Row(vec_id=i, q=list(map(int, p))) for i, p in ids_and_points],
        "vec_id long, q array<bigint>",
    )


def test_pq_as_of_crosses_retrain_with_old_model(spark, tmp_path):
    from kcidb_spark.queries.streaming_exec import retrain_pq_store_txn

    store = str(tmp_path / "store")
    init_pq_store(store, INIT_CENTS, INIT_BOOKS, SUBS, SUBDIM)
    set_store_retention(store, 10)

    def pq(as_of=None):
        return sorted(
            (r["q_id"], r["n_id"], r["adc_micro"], r["rk"])
            for r in probe_pq_topk(
                _qvecs(spark, [(100, (100, 10))]), store, 4, as_of=as_of
            ).collect()
        )

    # Ids 0..1 present: the certified integer trainers initialize
    # from vec_id < k (retrain_pq_store_txn raises otherwise).
    ingest_pq_batch_txn(_qvecs(spark, [(0, (90, 10)), (1, (10, 90))]), store, 0)
    live_at_0 = pq()
    ingest_pq_batch_txn(_qvecs(spark, [(12, (95, 5))]), store, 1)
    live_at_1 = pq()
    # Retrain swaps BOTH quantizers and the fold point in one publish.
    retrain_pq_store_txn(spark, store, 2, 2, 2)
    post_retrain_at_1 = pq()
    ingest_pq_batch_txn(_qvecs(spark, [(13, (85, 15))]), store, 2)

    # STRICTLY pre-fold reads resolve through history: OLD codes
    # decoded with the OLD model — identical to the live probe taken
    # before the swap.
    assert pq(as_of=0) == live_at_0
    # AT the fold point the live layout serves: same candidate
    # visibility as wm=1, scored under the NEW model (as_of replays
    # visibility; the watermark does not order same-wm model swaps).
    assert pq(as_of=1) == post_retrain_at_1
    assert {t[1] for t in pq(as_of=1)} == {t[1] for t in live_at_1}
    assert pq(as_of=1) != live_at_1  # the re-encode moved the scores
    assert serve_store_gc(store) == []
    assert pq(as_of=0) == live_at_0


def test_hybrid_as_of_crosses_both_modalities_folds(spark, tmp_path):
    """ONE hybrid store, BOTH modalities, a fold on EACH side, with
    retention: a pre-fold as_of replays both legs exactly — the
    lexical leg with its historical df/N/S AND the vector leg with
    its historical visibility — even though both folds (and further
    ingests) have since rewritten the layouts.  Also pins the
    conservative refusal: the snapshot serving as_of must have BOTH
    fold points ≤ as_of (a trimmed true snapshot raises rather than
    mixing layouts across modalities)."""
    from kcidb_spark.queries.streaming_exec import (
        _store_pb,
        publish_visibility,
    )

    store = str(tmp_path / "hyb")
    set_store_retention(store, 10)

    def ingest(bid, docs_rows, vec_rows):
        ingest_postings_batch_txn(
            _docs(spark, docs_rows), store, bid, fail_before_manifest=True
        )
        ingest_vec_batch_txn(
            _vecs(spark, vec_rows), store, bid, CENTS,
            fail_before_manifest=True,
        )
        publish_visibility(store, wm=bid, pb=_store_pb(store))

    def vprobe(as_of=None):
        return sorted(
            (r["q_id"], r["n_id"], r["sim"])
            for r in probe_tiered_topk(
                _vecs(spark, ((100, (1.0, 0.1)),)), store, CENTS, 5,
                as_of=as_of,
            ).collect()
        )

    ingest(0, [(1, "apple pie"), (2, "banana split")],
           [(10, (0.9, 0.1))])
    lex_at_0, vec_at_0 = _pp(spark, store), vprobe()
    ingest(1, [(3, "apple banana smoothie")], [(20, (0.95, 0.05))])
    lex_at_1, vec_at_1 = _pp(spark, store), vprobe()

    # Fold each side at a different moment.
    compact_postings_txn(spark, store, 1)
    ingest(2, [(4, "apple banana bread")], [(30, (0.97, 0.02))])
    # (the vector side of this store is the FLAT layout — its fold
    # analog is the postings one; a second postings fold exercises
    # the multi-snapshot path)
    compact_postings_txn(spark, store, 2)
    ingest(3, [(5, "banana apple tart")], [(40, (0.99, 0.01))])

    assert _pp(spark, store, as_of=0) == lex_at_0
    assert _pp(spark, store, as_of=1) == lex_at_1
    assert vprobe(as_of=0) == vec_at_0
    assert vprobe(as_of=1) == vec_at_1
    assert postings_store_gc(store) == []
    assert _pp(spark, store, as_of=1) == lex_at_1


def test_history_as_of_probe_stays_partition_pruned(spark, tmp_path):
    """The retention rebind changes WHICH directories the probe
    reads, never HOW: the pre-fold as_of plan still carries the
    partition predicates (batch_id window over the raw tail, c_id IN
    (probed) on both tiers) — no extra scan, no unpruned directory
    listing (the design claim in SCALE.md's retention note)."""
    import re

    store = str(tmp_path / "store")
    set_store_retention(store, 10)
    ingest_vec_batch_txn(_vecs(spark, [(10, (0.9, 0.1))]), store, 0, CENTS)
    ingest_vec_batch_txn(_vecs(spark, [(20, (0.95, 0.05))]), store, 1, CENTS)
    compact_store_txn(spark, store, 1)
    ingest_vec_batch_txn(_vecs(spark, [(30, (0.97, 0.02))]), store, 2, CENTS)

    plan = (
        probe_tiered_topk(
            _vecs(spark, ((100, (1.0, 0.1)),)), store, CENTS, 5, as_of=0
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pruned = [
        m.group(0)
        for m in re.finditer(r"PartitionFilters: \[[^\]]*\]", plan)
    ]
    # Raw-tail scan: batch window bounded at the as_of watermark.
    assert any("batch_id" in p and "<= 0" in p for p in pruned), pruned
    # Every member scan prunes to the probed clusters.
    assert any("c_id" in p and " IN " in p for p in pruned), pruned


def test_postings_as_of_between_two_rebuckets_and_horizon(spark, tmp_path):
    """VERDICT r14 "Next round" #9 — the sharp corners of rebucket ×
    retention: an ``as_of`` BETWEEN two rebucket folds replays the
    FIRST migration's pb + layout (not the original, not the newest);
    each probe is byte-identical to the live probe at that watermark;
    and once the horizon passes, the pre-rebucket read REFUSES rather
    than serving a half-reclaimed layout."""
    store = str(tmp_path / "store")
    set_store_retention(store, 3)
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple pie"), (2, "banana split")]), store, 0
    )
    ingest_postings_batch_txn(
        _docs(spark, [(3, "apple banana smoothie")]), store, 1
    )
    live_at_1 = _pp(spark, store)

    rebucket_postings_txn(spark, store, 16)   # fold #1 at wm=1
    ingest_postings_batch_txn(
        _docs(spark, [(4, "apple banana bread")]), store, 2
    )
    live_at_2 = _pp(spark, store)             # pb=16 live layout

    rebucket_postings_txn(spark, store, 32)   # fold #2 at wm=2
    assert int(read_serve_manifest(store)["pb"]) == 32

    # as_of=1 predates fold #1 → the ORIGINAL pb via its snapshot;
    # as_of=2 sits between the folds → pb=16 via fold #2's snapshot.
    assert _pp(spark, store, as_of=1) == live_at_1
    assert _pp(spark, store, as_of=2) == live_at_2
    # GC under retention keeps both replays intact.
    postings_store_gc(store)
    assert _pp(spark, store, as_of=1) == live_at_1
    assert _pp(spark, store, as_of=2) == live_at_2

    # Advance the watermark past the horizon (retain=3): the pre-fold
    # snapshots expire at the NEXT fold's publish, after which the
    # pre-rebucket read refuses instead of guessing.
    for bid in (3, 4, 5, 6):
        ingest_postings_batch_txn(
            _docs(spark, [(10 + bid, "plain filler text")]), store, bid
        )
    compact_postings_txn(spark, store, 6)     # trims expired history
    postings_store_gc(store)
    with pytest.raises(ValueError, match="horizon|predates"):
        _pp(spark, store, as_of=1)
    # The live probe keeps serving across the expiry.
    assert _pp(spark, store) == _pp(spark, store)
