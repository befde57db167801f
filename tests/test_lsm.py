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


# ---------------------------------------------------------------------------
# Same-upto replay of every fold: a fold re-run after its publish reads
# the generation it rewrites and must leave it, and probes, unchanged.
# ---------------------------------------------------------------------------


def _fold_store(spark, store, kind):
    """(fold, probe, generation subtrees) of a small store of ``kind``
    with two ingest batches (the second re-ingests id 0) and a delete
    at batch 2."""
    from kcidb_spark.operators.opq import givens_rotation

    ids = spark.createDataFrame([(1,)], "vec_id long")
    if kind == "float":
        se.ingest_vec_batch_txn(
            _vecs(spark, enumerate(POINTS[:3])), store, 0, CENTS
        )
        se.ingest_vec_batch_txn(
            _vecs(spark, [(3, POINTS[3]), (0, POINTS[4])]), store, 1, CENTS
        )
        se.delete_vec_batch_txn(spark, ids, store, 2)
        return (
            lambda: se.compact_store_txn(spark, store, 2),
            lambda: _probe(spark, store),
            ["gen_2"],
        )
    cents = [(0, [100, 0]), (1, [0, 100])]
    books = [(0, 0, [100]), (0, 1, [0]), (1, 0, [0]), (1, 1, [100])]
    if kind == "pq":
        se.init_pq_store(store, cents, books, 2, 1)
        schema, cold = "vec_id long, q array<bigint>", "raw"
        pts = [(0, [90, 10]), (1, [10, 90]), (2, [80, 20]), (3, [30, 70])]
        query = [(100, [95, 5])]
    else:
        se.init_pq_store(store, cents, books, 2, 1, rot=givens_rotation(2))
        schema, cold = "vec_id long, x array<double>", "rawx"
        pts = [(0, [0.9, 0.1]), (1, [0.1, 0.9]), (2, [0.8, 0.2]),
               (3, [0.3, 0.7])]
        query = [(100, [0.95, 0.05])]
    se.ingest_pq_batch_txn(spark.createDataFrame(pts[:2], schema), store, 0)
    se.ingest_pq_batch_txn(
        spark.createDataFrame(pts[2:] + [(0, pts[3][1])], schema), store, 1
    )
    se.delete_vec_batch_txn(spark, ids, store, 2)

    def probe():
        return sorted(
            tuple(r)
            for r in se.probe_pq_topk(
                spark.createDataFrame(query, schema), store, 10
            ).collect()
        )

    return (
        lambda: se.compact_pq_store_txn(spark, store, 2),
        probe,
        [os.path.join("gen_pqc_2", "codes"), os.path.join("gen_pqc_2", cold)],
    )


@pytest.mark.parametrize("kind", ["float", "pq", "rotated"])
def test_fold_replay_at_the_same_upto_is_idempotent(spark, tmp_path, kind):
    store = str(tmp_path / kind)
    fold, probe, gens = _fold_store(spark, store, kind)

    def gen_rows():
        return [
            sorted(str(r) for r in spark.read.parquet(
                os.path.join(store, g)
            ).collect())
            for g in gens
        ]

    fold()
    rows, probed = gen_rows(), probe()
    assert probed and all(rows)
    fold()                                    # replay, same upto
    assert gen_rows() == rows
    assert probe() == probed


# ---------------------------------------------------------------------------
# Structure: the serving store's writes and publishes go through lsm.
# ---------------------------------------------------------------------------

#: Functions outside the serving store that write their own batch
#: subtrees: the t17 dedup store (no manifest, read back whole).
_NOT_SERVING = {
    "ingest_dedup_batch", "ingest_dedup_batch_txn",
    "t17_stream_incremental_dedup",
}


def _package_sources():
    import kcidb_spark

    root = os.path.dirname(kcidb_spark.__file__)
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    yield os.path.relpath(path, root), fh.read()


def _strings(fn):
    """String constants of a function, docstrings excluded."""
    import ast

    docs = set()
    for node in ast.walk(fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(
                body[0].value, ast.Constant
            ):
                docs.add(id(body[0].value))
    for node in ast.walk(fn):
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and id(node) not in docs):
            yield node.value


def test_store_writes_and_publishes_go_through_lsm():
    import ast

    bad = []
    for rel, src in _package_sources():
        if "fail_before_manifest=True" in src:
            bad.append(f"{rel}: fail_before_manifest=True")
        if rel == os.path.join("serve", "lsm.py"):
            continue
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name == "publish_visibility":
                    bad.append(f"{rel}:{node.lineno}: publish_visibility")
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or fn.name in _NOT_SERVING:
                continue
            for s in _strings(fn):
                if s in ("tombstones", "ptombstones") or "batch_id=" in s:
                    bad.append(f"{rel}: {fn.name} formats {s!r}")
    assert bad == []


#: streaming_exec's drain harness: the only functions that start or
#: await a stream (``_drain``) or set arrival-file mtimes
#: (``_stage_arrivals``).
_DRAIN_CALLS = {
    "_drain": {"start", "awaitTermination"},
    "_stage_arrivals": {"utime"},
}


def test_streams_drain_only_through_the_harness():
    import ast

    from kcidb_spark.queries import streaming_exec

    with open(streaming_exec.__file__) as fh:
        tree = ast.parse(fh.read())
    watched = set().union(*_DRAIN_CALLS.values())
    found, bad = {}, []
    for fn in tree.body:
        for node in ast.walk(fn):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in watched):
                continue
            name = getattr(fn, "name", None)
            if node.func.attr in _DRAIN_CALLS.get(name, ()):
                found.setdefault(name, set()).add(node.func.attr)
            else:
                bad.append(f"{name}:{node.lineno}: .{node.func.attr}()")
    assert bad == []
    assert found == _DRAIN_CALLS
