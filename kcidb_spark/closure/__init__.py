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

Request-scale contract.  The graph is static and shallow, so the
closure is a key walk on the driver: one pass up, one pass down.  Key
sets are tuples of ``ID_FIELDS``; a fetch is the store's dedup view
filtered by a key IN-list (:func:`kcidb_spark.store.key_rows`), which
reaches the parquet scan beneath the dedup aggregate.

* Parents (``TOPO_UP``): fetch the rows of the table's key set; every
  FK tuple with no NULL part joins the parent's key set.
* Children (``TOPO_DOWN``), for each table with a non-empty parent key
  set: one scan of the raw table for the OR of ``fk IN parent keys``,
  projected to the id fields, names the candidates; their dedup rows
  are fetched, and a candidate joins the key set when its deduped FK is
  in a parent key set.  The scan misses nothing: a deduped FK is the
  latest non-NULL raw value, so every qualifying child has a raw row
  in it.  The re-check drops a child whose newest FK moved to another
  parent.

Children derive from parent key sets, not fetched rows, so a seed
absent from the store still reaches its orphan children.  No row is
fetched twice in one call, and the driver holds the closure's rows.
Every key set is held to the request-scale cap
(``localrel._check_request_scale``): a closure past it fails loudly.
"""

from __future__ import annotations

import functools
import operator
from typing import Any, Iterable

from kcidb_spark.functions import iso_utc_timestamps
from kcidb_spark.localrel import _check_request_scale
from kcidb_spark.schema.graph import (
    ID_FIELDS,
    TABLES,
    TOPO_DOWN,
    TOPO_UP,
    parents_of,
)
from kcidb_spark.store import key_in, key_rows


def _seed_keys(table: str, ids: Iterable) -> set[tuple]:
    fields = ID_FIELDS[table]
    keys = set()
    for i in ids:
        if not isinstance(i, (tuple, list)):
            i = (i,)
        if len(i) != len(fields):
            raise ValueError(f"{table} id {i!r} does not match fields {fields}")
        keys.add(tuple(i))
    return keys


def _fetch(store, table: str, keys: set[tuple]) -> dict[tuple, dict]:
    """The dedup rows of ``keys`` that the store holds, keyed by their
    ``ID_FIELDS`` tuple; timestamps leave the engine as ISO strings."""
    fields = ID_FIELDS[table]
    df = iso_utc_timestamps(store.spark, key_rows(store, table, keys))
    rows = (r.asDict(recursive=True) for r in df.collect())
    return {tuple(d[f] for f in fields): d for d in rows}


def _candidates(store, table: str, edges, keys) -> set[tuple]:
    """Keys of the raw rows of ``table`` whose FK along any of
    ``edges`` is in that parent's key set: one filtered scan."""
    cond = functools.reduce(
        operator.or_, [key_in(e.child_fk, keys[e.parent]) for e in edges]
    )
    rows = store.raw(table).where(cond).select(*ID_FIELDS[table]).collect()
    _check_request_scale(rows, f"closure: {table} candidates")
    return {tuple(r) for r in rows}


def _walk(
    store, ids: dict[str, Iterable], parents: bool, children: bool
) -> dict[str, list[dict]]:
    """The closure's dedup rows per table, each table's in key order."""
    unknown = set(ids) - set(TABLES)
    if unknown:
        raise ValueError(f"unknown object types: {sorted(unknown)}")
    keys = {t: _seed_keys(t, ids.get(t, ())) for t in TABLES}
    rows: dict[str, dict[tuple, dict]] = {t: {} for t in TABLES}
    fetched: dict[str, set[tuple]] = {t: set() for t in TABLES}

    def fetch(t: str, want: set[tuple]) -> None:
        new = want - fetched[t]
        if new:
            fetched[t] |= new
            _check_request_scale(fetched[t], f"closure: {t} keys")
            rows[t].update(_fetch(store, t, new))

    def fk(t: str, key: tuple, edge) -> tuple | None:
        row = rows[t].get(key)
        return None if row is None else tuple(row[c] for c in edge.child_fk)

    if parents:
        # Bottom-up: parent ids from the child rows' FK columns
        # (reference add_parents, postgresql/v04_00.py:682-710).
        for t in TOPO_UP:
            fetch(t, keys[t])
            for edge in parents_of(t):
                for key in keys[t]:
                    parent = fk(t, key, edge)
                    if parent is not None and None not in parent:
                        keys[edge.parent].add(parent)

    if children:
        # Top-down over everything matched so far, added parents
        # included (reference add_children, postgresql/v04_00.py:712-740).
        for t in TOPO_DOWN:
            edges = [e for e in parents_of(t) if keys[e.parent]]
            if not edges:
                continue
            candidates = _candidates(store, t, edges, keys)
            fetch(t, candidates | keys[t])
            keys[t] |= {
                key for key in candidates
                if any(fk(t, key, e) in keys[e.parent] for e in edges)
            }

    for t in TABLES:
        fetch(t, keys[t])
    return {t: [rows[t][k] for k in sorted(keys[t]) if k in rows[t]]
            for t in TABLES}


def _objects(store, ids, parents, children, with_metadata):
    """``(table, I/O objects)`` of the closure, in ``TABLES`` order.  A
    mux store answers from its first member, as its dumps do."""
    from kcidb_spark.store.drivers import MuxStore

    if isinstance(store, MuxStore):
        store = store.members[0]
    for t, rows in _walk(store, ids or {}, parents, children).items():
        if not with_metadata:
            rows = [{k: v for k, v in r.items() if k != "_timestamp"}
                    for r in rows]
        yield t, [store._row_obj(t, r) for r in rows]


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

    out: dict[str, Any] = {"version": dict(IO_VERSION)}
    for t, objs in _objects(store, ids, parents, children, with_metadata):
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
    query pagination, kcidb/db/__init__.py:313-388).  The walk holds
    the closure's rows on the driver, bounded by the request-scale key
    cap, while it pages them; only the reports are cut to size."""
    from kcidb_spark.schema.io import IO_VERSION, validate

    if objects_per_report is not None and objects_per_report <= 0:
        raise ValueError("objects_per_report must be positive or None")
    report: dict[str, Any] = {"version": dict(IO_VERSION)}
    n = emitted = 0
    for t, objs in _objects(store, ids, parents, children, with_metadata):
        for obj in objs:
            report.setdefault(t, []).append(obj)
            n += 1
            if objects_per_report is not None and n >= objects_per_report:
                yield validate(report)
                report = {"version": dict(IO_VERSION)}
                n = 0
                emitted += 1
    if n or not emitted:
        yield validate(report)
