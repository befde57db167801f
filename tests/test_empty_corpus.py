"""Empty-corpus sweep: EVERY registry query must execute (not crash)
on zero-row inputs with its schema intact.

Production reality at any scale: a partition-pruned read, a fresh
deployment, or a filter that matches nothing hands every operator an
empty frame — quantile boundaries, broadcast 1-row totals, LSH
band joins, streaming drains, iterative fixpoints all hit their
degenerate case.  A query that NPEs or emits a different schema on
empty input corrupts downstream unions and sinks silently.
"""

from __future__ import annotations

import pytest

from kcidb_spark.cache import release_persisted
from kcidb_spark.queries.registry import REGISTRY
from kcidb_spark.tables import TABLES


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    """Zero-row copies of every synthetic table as single parquet
    FILES with the source's exact physical schema (pyarrow round-trip
    preserves events' TIMESTAMP(NANOS) so the layout sniff still
    dispatches, and DuckDB's read_parquet sees plain files, as it
    does for the real testdata)."""
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(schema.empty_table(), str(out / f"{t}.parquet"))
    return str(out)


def test_every_query_survives_empty_corpus(spark, empty_sf):
    failures = []
    for name, q in sorted(REGISTRY.items()):
        try:
            df = q.spark(spark, empty_sf)
            df.write.mode("overwrite").format("noop").save()
        except Exception as ex:  # noqa: BLE001 — collecting the sweep
            failures.append(f"{name}: {str(ex).splitlines()[0][:160]}")
        finally:
            release_persisted()
    assert not failures, "\n".join(failures)
    _assert_drains_recorded()


def _assert_drains_recorded():
    """Every stream entry's drain recorded its progress under its
    registry name; the file-fed drains ran one micro-batch per staged
    arrival file, even when every file is empty."""
    from kcidb_spark.queries.advanced import _IVF_QUERIES
    from kcidb_spark.queries.streaming_exec import LAST_PROGRESS

    stateful = (
        "t11_stream_tumbling", "t12_stream_dedup",
        "t13_stream_stream_join", "t14_stream_dedup_watermarked",
        "t15_stream_status_transitions", "t16_stream_outer_join",
        "t18_stream_join_rocksdb",
    )
    batches = {
        "t17_stream_incremental_dedup": 4,
        "t19_stream_ann_probe": _IVF_QUERIES,
        "t20_stream_ivf_ingest": 4,
        "t21_stream_serve_during_ingest": 6,
        "t22_stream_compact_while_serving": 6,
        "t23_stream_postings_serve": 6,
        "t24_stream_retrain_while_serving": 6,
        "t25_stream_hybrid_serve": 6,
        "t26_stream_pq_serve": 6,
    }
    assert all(LAST_PROGRESS.get(n) for n in stateful), sorted(LAST_PROGRESS)
    assert {n: len(LAST_PROGRESS.get(n, ())) for n in batches} == batches


def test_empty_corpus_schema_matches_declaration(spark, empty_sf):
    """Schema pin for the ORACLE-LESS queries (r7 verdict #7): the
    rows-only trainers/sketches have no cross-engine column check, so
    their registration must DECLARE an output schema (register()
    enforces this) and the empty-input result must match it exactly —
    names, types, and order.  Together with
    test_empty_corpus_schema_matches_oracle this makes the zero-row
    schema assertion total over the registry."""
    from pyspark.sql.types import StructType

    failures = []
    covered = 0
    for name, q in sorted(REGISTRY.items()):
        if q.oracle is not None:
            continue
        covered += 1
        try:
            declared = StructType.fromDDL(q.schema)
            got = q.spark(spark, empty_sf).schema
            # Names + types + order; nullability flags are
            # planner-dependent, not part of the contract.
            if [(f.name, f.dataType) for f in got] != [
                (f.name, f.dataType) for f in declared
            ]:
                failures.append(
                    f"{name}: got {got.simpleString()}"
                    f" declared {declared.simpleString()}"
                )
        except Exception as ex:  # noqa: BLE001 — collecting the sweep
            failures.append(f"{name}: {str(ex).splitlines()[0][:160]}")
        finally:
            release_persisted()
    assert covered >= 4  # the rows-only quartet at minimum
    assert not failures, "\n".join(failures)


def test_declared_schema_matches_real_input(spark):
    """The declared DDL must describe the REAL output too, not just
    the degenerate empty case — otherwise the pin could drift from
    production shape while staying self-consistent on zero rows."""
    from pyspark.sql.types import StructType

    failures = []
    for name, q in sorted(REGISTRY.items()):
        if q.schema is None:
            continue
        try:
            declared = StructType.fromDDL(q.schema)
            got = q.spark(spark, "/root/testdata/sf0.001").schema
            if [(f.name, f.dataType) for f in got] != [
                (f.name, f.dataType) for f in declared
            ]:
                failures.append(
                    f"{name}: got {got.simpleString()}"
                    f" declared {declared.simpleString()}"
                )
        except Exception as ex:  # noqa: BLE001 — collecting the sweep
            failures.append(f"{name}: {str(ex).splitlines()[0][:160]}")
        finally:
            release_persisted()
    assert not failures, "\n".join(failures)


def test_empty_corpus_schema_matches_oracle(spark, empty_sf):
    """Schema parity on EMPTY input (r6 verdict #8): the classic
    empty-relation divergence is a query whose column set is derived
    from data (pivots, inferred types) — it executes fine on zero rows
    but emits different columns than the oracle, which the value-hash
    gate can't see (both sides hash nothing).  Assert the column sets
    the two engines produce on an all-empty corpus are identical for
    every oracle-bearing query."""
    from tests.oracle_harness import duck_connection

    con = duck_connection(empty_sf)
    failures = []
    for name, q in sorted(REGISTRY.items()):
        if q.oracle is None:
            continue
        try:
            duck_cols = sorted(con.execute(q.oracle).df().columns)
            sp_cols = sorted(q.spark(spark, empty_sf).columns)
            if duck_cols != sp_cols:
                failures.append(f"{name}: spark={sp_cols} duck={duck_cols}")
        except Exception as ex:  # noqa: BLE001 — collecting the sweep
            failures.append(f"{name}: {str(ex).splitlines()[0][:160]}")
        finally:
            release_persisted()
    assert not failures, "\n".join(failures)
