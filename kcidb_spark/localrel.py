"""Request-scale literal DataFrames without the Python-RDD scan.

``SparkSession.createDataFrame(rows, schema)`` parallelizes the rows
into ``defaultParallelism`` pickled partitions: every action that
consumes the frame (each broadcast build, each probe epoch's plan)
launches one Python-worker task per core just to re-deserialize a
handful of literal rows — measured ~0.3-0.6 s per action on
``local[32]`` for a 50-row frame, multiplied by the ~3 consuming
actions of a serve epoch (guide §4: the JVM↔Python boundary is the
cost, not the rows).

:func:`local_df` builds the same rows as an Arrow-backed frame when
the session has Arrow enabled (one driver-side conversion, JVM-only
decode per task — measured ~60-100 ms/action including the build) and
falls back to the stock ``createDataFrame(rows, schema)`` path
otherwise, so values, schema and NULL semantics are byte-identical in
every configuration:

* values cross as Arrow doubles/longs/strings — the same IEEE bits
  and UTF-8 bytes the row path ships (verified bit-identical in
  tests/test_localrel.py);
* any value shape with coercion risk (None — pandas would fold it
  into NaN for numeric columns; float NaN — Arrow's ``nan_as_null``
  would fold it into NULL; nested structs, datetimes, Decimals) takes
  the stock path instead.

For rows of nested records (a report's objects: structs, lists,
timestamps) :func:`local_records_df` builds a ``pyarrow.Table``
directly against the Arrow form of the Spark schema; pandas, and the
None/NaN coercions it brings, stay out of that path.

Scale note: these frames are request-scale BY CONTRACT — probe
batches, model tables, routing pairs, closure seeds, ORM id sets and
the objects of one ``Store.load`` report (the inline submit path
restricts the store by its ids with an IN-list, no frame at all).
Callers with corpus-sized data must never route through a driver-held
list in the first place.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _plain_value(v) -> bool:
    """True when Arrow/pandas round-trips the value with no coercion:
    non-NaN floats, ints (int64-range), str, bytes, bool, and flat
    lists of those.  None anywhere → False (pandas folds None to NaN
    in numeric columns; NaN folds to NULL under Arrow)."""
    if isinstance(v, bool) or isinstance(v, str) or isinstance(v, bytes):
        return True
    if isinstance(v, int):
        return -(1 << 63) <= v < (1 << 63)
    if isinstance(v, float):
        return v == v  # not NaN (±inf round-trips fine)
    if isinstance(v, (list, tuple)):
        return all(_plain_value(x) for x in v)
    return False


#: schema string → field names (schema strings here are literals at
#: call sites, so the cache is tiny and never stale).
_NAMES_CACHE: dict = {}


def local_df(sess: SparkSession, rows, schema: str) -> DataFrame:
    """``sess.createDataFrame(rows, schema)`` with the Arrow fast
    path when it is provably value-faithful.  ``rows``: an iterable of
    tuples/Rows whose field ORDER matches ``schema``."""
    rows = [tuple(r) for r in rows]
    if not rows:
        return sess.createDataFrame([], schema)
    try:
        use_arrow = (
            sess.conf.get("spark.sql.execution.arrow.pyspark.enabled")
            == "true"
        )
    except Exception:  # noqa: BLE001 — unknown session conf surface
        use_arrow = False
    if use_arrow and all(_plain_value(v) for r in rows for v in r):
        try:
            import pandas as pd

            if isinstance(schema, str):
                names = _NAMES_CACHE.get(schema)
                if names is None:
                    names = sess.createDataFrame([], schema).schema.names
                    _NAMES_CACHE[schema] = names
            else:
                names = schema.names  # StructType
            pdf = pd.DataFrame(
                {n: [r[i] for r in rows] for i, n in enumerate(names)},
                columns=names,
            )
            return sess.createDataFrame(pdf, schema)
        except Exception:  # noqa: BLE001 — fall back, never degrade
            pass
    return sess.createDataFrame(rows, schema)


def _utc_faithful(v) -> bool:
    """True unless ``v`` holds a datetime Arrow would misread: a naive
    one (the row path reads it as driver-local time, Arrow as UTC) or
    one with a non-zero UTC offset (``Table.from_pylist`` keeps its
    wall clock and drops the offset)."""
    if isinstance(v, datetime.datetime):
        return v.utcoffset() == datetime.timedelta(0)
    if isinstance(v, dict):
        return all(_utc_faithful(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return all(_utc_faithful(x) for x in v)
    return True


def local_records_df(
    sess: SparkSession, rows: list[dict], schema: T.StructType
) -> DataFrame:
    """``sess.createDataFrame(rows, schema)`` for dict rows of nested
    records, built as a ``pyarrow.Table`` in the Arrow form of
    ``schema`` (a LocalRelation: no Python RDD behind any action).
    Datetimes must be UTC-offset to take this path; anything else, and
    any conversion error, takes the stock path."""
    if all(_utc_faithful(r) for r in rows):
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
            return sess.createDataFrame(table, schema)
        except Exception:  # noqa: BLE001 — fall back, never degrade
            pass
    return sess.createDataFrame(rows, schema)
