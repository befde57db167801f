"""Relational closure queries over the kcidb object graph.

Reference behavior: kcidb-query / Client.query(ids, parents, children)
(kcidb/db/abstract.py:192-242; SQL closure generation
postgresql/v04_00.py:656-761; semantics proven by
kcidb/test_db.py:2535-2722):

* seed id sets per object type;
* ``parents=True``: add all ancestors of matched objects (bottom-up,
  parent ids derived from the child rows' FK columns);
* ``children=True``: add all descendants of everything matched so far
  (top-down) — parents run BEFORE children, no re-iteration;
* result: full rows of every matched object per table.

The graph is static and shallow, so the closure is an unrolled
sequence of semi-joins — one pass up, one pass down — not recursion.
Id sets are typically tiny → Spark broadcasts them; with huge id sets
AQE falls back to shuffle semi-joins.  Either way no row ever fans
out (semi-joins only), which is what makes this safe at 100 TB.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kcidb_spark.localrel import local_df
from kcidb_spark.schema.graph import (
    ID_FIELDS,
    TABLES,
    TOPO_DOWN,
    TOPO_UP,
    children_of,
    parents_of,
)

_KEY_TYPES = {"id": T.StringType(), "version": T.LongType()}


def _ids_df(spark: SparkSession, table: str, ids: Iterable) -> DataFrame:
    """Materialize an id list as a DataFrame keyed by ID_FIELDS — an
    Arrow-backed local relation, so no consuming action starts Python
    workers to re-read the seed rows."""
    fields = ID_FIELDS[table]
    schema = T.StructType(
        [T.StructField(f, _KEY_TYPES.get(f, T.StringType()), False) for f in fields]
    )
    rows = []
    for i in ids:
        if not isinstance(i, (tuple, list)):
            i = (i,)
        if len(i) != len(fields):
            raise ValueError(f"{table} id {i!r} does not match fields {fields}")
        rows.append(tuple(i))
    return local_df(spark, rows, schema)


def _union(a: DataFrame | None, b: DataFrame) -> DataFrame:
    return b if a is None else a.unionByName(b)


def closure(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    ids: dict[str, Iterable] | None = None,
    parents: bool = False,
    children: bool = False,
) -> dict[str, DataFrame]:
    """Compute the closure; returns matched full-row DataFrames per
    table (omitting tables with no matches is the caller's concern —
    every table gets a DataFrame, possibly empty)."""
    ids = ids or {}
    unknown = set(ids) - set(TABLES)
    if unknown:
        raise ValueError(f"unknown object types: {sorted(unknown)}")

    id_dfs: dict[str, DataFrame | None] = {
        t: (_ids_df(spark, t, ids[t]) if t in ids else None) for t in TABLES
    }

    def matched_rows(t: str) -> DataFrame | None:
        if id_dfs[t] is None:
            return None
        return tables[t].join(
            F.broadcast(id_dfs[t].distinct()), on=list(ID_FIELDS[t]), how="left_semi"
        )

    if parents:
        # Bottom-up: deriving parent ids from child FK columns
        # (reference add_parents, postgresql/v04_00.py:682-710).
        for t in TOPO_UP:
            rows = matched_rows(t)
            if rows is None:
                continue
            for edge in parents_of(t):
                fk_cols = [F.col(c) for c in edge.child_fk]
                cond = fk_cols[0].isNotNull()
                for c in fk_cols[1:]:
                    cond = cond & c.isNotNull()
                parent_ids = rows.filter(cond).select(
                    *[
                        F.col(fk).alias(pk)
                        for fk, pk in zip(edge.child_fk, edge.parent_key)
                    ]
                ).distinct()
                id_dfs[edge.parent] = _union(id_dfs[edge.parent], parent_ids)

    if children:
        # Top-down over everything matched so far (incl. added parents)
        # (reference add_children, postgresql/v04_00.py:712-740).
        for t in TOPO_DOWN:
            if id_dfs[t] is None:
                continue
            for edge in children_of(t):
                parent_keyed = id_dfs[t].distinct().select(
                    *[
                        F.col(pk).alias(fk)
                        for fk, pk in zip(edge.child_fk, edge.parent_key)
                    ]
                )
                child_ids = (
                    tables[edge.child]
                    .join(F.broadcast(parent_keyed), on=list(edge.child_fk), how="left_semi")
                    .select(*ID_FIELDS[edge.child])
                )
                id_dfs[edge.child] = _union(id_dfs[edge.child], child_ids)

    out: dict[str, DataFrame] = {}
    for t in TABLES:
        rows = matched_rows(t)
        if rows is None:
            rows = tables[t].where(F.lit(False))  # empty ≠ everything
        out[t] = rows
    return out


def query_store(
    store,
    ids: dict[str, Iterable] | None = None,
    parents: bool = False,
    children: bool = False,
    with_metadata: bool = False,
) -> dict[str, Any]:
    """Closure query against a Store, returning ONE I/O JSON report
    (the kcidb-query CLI shape, kcidb/__init__.py:371-392)."""
    from kcidb_spark.schema.io import IO_VERSION

    tables = {t: store.table(t, with_metadata=True) for t in TABLES}
    result = closure(store.spark, tables, ids, parents=parents, children=children)
    out: dict[str, Any] = {"version": dict(IO_VERSION)}
    for t in TABLES:
        df = result[t]
        if not with_metadata:
            df = df.drop("_timestamp")
        objs = store._rows_to_objs(t, df)
        if objs:
            out[t] = objs
    return out


def query_store_iter(
    store,
    ids: dict[str, Iterable] | None = None,
    parents: bool = False,
    children: bool = False,
    with_metadata: bool = False,
    objects_per_report: int | None = None,
):
    """Paginated closure query: a generator of validated I/O reports of
    at most ``objects_per_report`` objects each (reference O4 —
    query pagination, kcidb/db/__init__.py:313-388).  Objects stream
    via toLocalIterator, so driver memory is bounded by one chunk."""
    from kcidb_spark.schema.io import IO_VERSION, validate

    if objects_per_report is not None and objects_per_report <= 0:
        raise ValueError("objects_per_report must be positive or None")
    tables = {t: store.table(t, with_metadata=True) for t in TABLES}
    result = closure(store.spark, tables, ids, parents=parents, children=children)
    report: dict[str, Any] = {"version": dict(IO_VERSION)}
    n = emitted = 0
    for t in TABLES:
        df = result[t]
        if not with_metadata:
            df = df.drop("_timestamp")
        for obj in store._iter_objs(t, df):
            report.setdefault(t, []).append(obj)
            n += 1
            if objects_per_report is not None and n >= objects_per_report:
                yield validate(report)
                report = {"version": dict(IO_VERSION)}
                n = 0
                emitted += 1
    if n or not emitted:
        yield validate(report)
