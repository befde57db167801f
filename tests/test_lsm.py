"""The serving store's shared LSM layer (kcidb_spark/serve/lsm.py)
against a pure-Python model, plus the driver-side guards of the float
probe and the BM25 query-term collect.

The model of a float store: every ingest, re-ingest and delete
transaction takes the next batch id; an id's visible copy is its
newest ingested copy that no tombstone at or after that copy's batch
hides.  Compaction and GC change the layout, never the visible set.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import uuid
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from kcidb_spark.queries import streaming_exec as se

#: 2-D toy geometry: two centroids on the axes; with nprobe=2 every
#: probe reads both clusters, so the probe's members are the whole
#: visible store.
CENTS = [(0, [1.0, 0.0], 1.0), (1, [0.0, 1.0], 1.0)]
POINTS = [(0.9, 0.1), (0.1, 0.9), (0.7, 0.3), (0.3, 0.7), (0.55, 0.45)]
QUERY = (1000, (1.0, 0.2))


def _vecs(spark, rows):
    return spark.createDataFrame(
        [Row(vec_id=i, v=[float(x), float(y)]) for i, (x, y) in rows],
        "vec_id long, v array<double>",
    )


def _sim(q, v) -> float:
    """The probe's similarity in Python: round(dot / (|q|·|v|), 4),
    half-up on the double's shortest decimal form, as Spark rounds."""
    dot = 0.0 + q[0] * v[0] + q[1] * v[1]
    nq = math.sqrt(0.0 + q[0] * q[0] + q[1] * q[1])
    nv = math.sqrt(0.0 + v[0] * v[0] + v[1] * v[1])
    return float(
        Decimal(repr(dot / (nq * nv))).quantize(
            Decimal("0.0001"), ROUND_HALF_UP
        )
    )


def _probe(spark, store) -> list:
    return sorted(
        tuple(r)
        for r in se.probe_tiered_topk(
            _vecs(spark, [QUERY]), store, CENTS, 100, nprobe=2
        )
        .select("probe_round", "n_id", "sim")
        .collect()
    )


ingest = st.tuples(
    st.just("ingest"),
    st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(POINTS)),
        min_size=1, max_size=3, unique_by=lambda t: t[0],
    ),
)
delete = st.tuples(
    st.just("delete"),
    st.lists(st.integers(0, 5), min_size=1, max_size=2, unique=True),
)
maintain = st.tuples(st.sampled_from(["compact", "gc"]), st.just(None))
ops = st.lists(st.one_of(ingest, delete, maintain), min_size=1, max_size=4)


@given(ops=ops)
@settings(
    max_examples=12,  # each example is a few real Spark transactions
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_probe_matches_model_and_survives_compact_gc(
    spark, tmp_path_factory, ops
):
    store = str(tmp_path_factory.mktemp("lsm") / uuid.uuid4().hex)
    copies: dict[int, list] = {}   # id -> [(batch, point)]
    tombs: dict[int, int] = {}     # id -> newest tombstone batch
    wm = -1
    for kind, arg in ops:
        if kind == "ingest":
            wm += 1
            se.ingest_vec_batch_txn(_vecs(spark, arg), store, wm, CENTS)
            for i, p in arg:
                copies.setdefault(i, []).append((wm, p))
        elif kind == "delete":
            wm += 1
            se.delete_vec_batch_txn(
                spark,
                spark.createDataFrame([(i,) for i in arg], "vec_id long"),
                store, wm,
            )
            for i in arg:
                tombs[i] = wm
        elif kind == "compact" and wm >= 0:
            se.compact_store_txn(spark, store, wm)
        elif kind == "gc" and wm >= 0:
            se.serve_store_gc(store)
    expected = []
    for i, cs in copies.items():
        b, p = max(cs)
        if tombs.get(i, -1) < b:
            expected.append((wm, i, _sim(QUERY[1], p)))
    got = _probe(spark, store) if wm >= 0 else []
    assert got == sorted(expected)
    if wm >= 0:
        se.compact_store_txn(spark, store, wm)
        se.serve_store_gc(store)
        assert _probe(spark, store) == got
        # Everything at or below the fold point was reclaimed.
        assert not os.path.exists(
            os.path.join(store, "tombstones", "batch_id=0")
        )
        assert not os.path.exists(os.path.join(store, "data", "batch_id=0"))
    shutil.rmtree(store, ignore_errors=True)


# ---------------------------------------------------------------------------
# Driver-side guards: they raise before any Spark job runs.
# ---------------------------------------------------------------------------


def _no_job_raises(spark, fn, match):
    sc = spark.sparkContext
    group = f"guard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "guard check")
    try:
        with pytest.raises(ValueError, match=match):
            fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize(
    "bad",
    [
        (1, [0.0, 0.0], 0.0),
        (1, [0.0, 1.0], float("nan")),
        (1, [float("inf"), 1.0], float("inf")),
        (1, [float("nan"), 1.0], 1.0),
    ],
)
def test_route_float_probe_rejects_degenerate_centroids(spark, bad):
    batch = _vecs(spark, [QUERY])
    _no_job_raises(
        spark,
        lambda: se._route_float_probe(batch, [CENTS[0], bad], 2),
        "NaN similarities",
    )


def test_route_float_probe_bounds_the_inlined_model(spark):
    dim = 64
    per = se._ROUTE_MODEL_CAP // dim
    cents = [(c, [1.0] * dim, 8.0) for c in range(per + 1)]
    batch = spark.createDataFrame(
        [Row(vec_id=1, v=[1.0] * dim)], "vec_id long, v array<double>"
    )
    _no_job_raises(
        spark,
        lambda: se._route_float_probe(batch, cents, 2),
        "len\\(cents\\) × dim",
    )


def test_bm25_query_term_collect_is_capped(spark, sf_dir, monkeypatch):
    import kcidb_spark.localrel as localrel
    from kcidb_spark.cache import release_persisted
    from kcidb_spark.queries.ranking import bm25_topk

    monkeypatch.setattr(localrel, "_PROBE_COLLECT_CAP", 1)
    try:
        with pytest.raises(ValueError, match="_bm25_base"):
            bm25_topk(spark, sf_dir)
    finally:
        release_persisted()


# ---------------------------------------------------------------------------
# OPQ fixed rotation: the store's rotate-then-quantize grid IS the
# certified rotated grid, row for row.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_opq_fixed_rotation_grid_is_the_certified_grid(spark, sf):
    from pyspark.sql import functions as F

    from kcidb_spark.operators.opq import givens_rotation
    from kcidb_spark.queries.advanced import _PQK_SUBDIM, _PQK_SUBS
    from kcidb_spark.tables import table

    if not os.path.isdir(sf):
        pytest.skip(f"{sf} not present")
    assert _PQK_SUBS * _PQK_SUBDIM == 64
    vecs = table(spark, sf, "embeddings").select(
        "vec_id", F.expr("cast(embedding as array<double>)").alias("x")
    )
    store = se._opq_quantize(vecs, givens_rotation(64)).select("vec_id", "q")
    certified = se._pqc_vecs_rot_q(spark, sf).select("vec_id", "q")
    assert store.count() == certified.count() > 0
    assert store.exceptAll(certified).isEmpty()
    assert certified.exceptAll(store).isEmpty()


def test_tiers_of_an_empty_store_is_typed_and_empty(spark):
    from kcidb_spark.serve import lsm

    root = tempfile.mkdtemp()
    try:
        df = lsm.tiers(
            spark, root, "data", se._T21_SCHEMA, ("vec_id", "c_id"), -1, 5
        )
        assert df.columns == ["vec_id", "c_id", "m_batch"]
        assert df.isEmpty()
    finally:
        shutil.rmtree(root, ignore_errors=True)
