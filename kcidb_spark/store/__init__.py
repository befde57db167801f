"""Parquet-backed kcidb store: append-only load + dedup-at-read view.

Follows the reference's BigQuery model (SURVEY.md §1.4) — the one
already designed for columnar analytics at scale:

* ``load`` validates and APPENDS rows (no upsert, no row locks — loads
  are commutative and idempotent under the dedup view, which is what
  makes re-delivery safe: bigquery/v04_00.py:636-644);
* the dedup view groups by primary key and takes, per column, the
  value from the latest row where that column is non-NULL — the
  deterministic refinement of the reference's field-wise
  COALESCE/ANY_VALUE merge (kcidb/db/sql/schema.py:264-286; the
  reference's alternating priority is explicitly nondeterministic,
  tests only require "non-NULL wins, _timestamp = greatest");
* ``_timestamp`` resolves with MAX (GREATEST conflict function,
  postgresql/v04_02.py:14-18).

At 100 TB: the raw tables would be date-partitioned on _timestamp
(purge = partition drop, dump windows = partition pruning) and the
dedup view materialized incrementally; the logical plan here is
identical.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kcidb_spark.schema import (
    ID_FIELDS,
    TABLES,
    schema_for,
    validate,
)
from kcidb_spark.functions import iso_utc_timestamps
from kcidb_spark.localrel import local_records_df
from kcidb_spark.schema.types import SCHEMAS
from kcidb_spark.schema.validation import JSON_FIELDS as _JSON_FIELDS


def _pack_value(value, path, json_paths):
    if path in json_paths:
        return None if value is None else json.dumps(value, sort_keys=True)
    if isinstance(value, str) and path and path[-1].endswith("time"):
        return _as_utc(datetime.datetime.fromisoformat(value))
    if isinstance(value, dict):
        return {k: _pack_value(v, path + (k,), json_paths) for k, v in value.items()}
    if isinstance(value, list):
        return [_pack_value(v, path, json_paths) for v in value]
    return value


def _as_utc(value: datetime.datetime) -> datetime.datetime:
    """The same instant at offset zero (naive values stay naive) — the
    form the Arrow load path takes (``localrel.local_records_df``)."""
    if value.tzinfo is None:
        return value
    return value.astimezone(datetime.timezone.utc)


def pack_rows(table: str, objs: list[dict], ts: datetime.datetime) -> list[dict]:
    """I/O objects of ``table`` → raw-table row dicts: JSON members as
    canonical strings, ISO times as UTC datetimes, ``_timestamp`` = the
    object's own (a report from ``dump(with_metadata=True)`` carries it
    as an ISO string, so the round-trip preserves load times) or ``ts``."""
    json_paths = _JSON_FIELDS[table]
    rows = []
    for obj in objs:
        row = {k: _pack_value(v, (k,), json_paths) for k, v in obj.items()}
        own_ts = obj.get("_timestamp", ts)
        if isinstance(own_ts, str):
            own_ts = _as_utc(datetime.datetime.fromisoformat(own_ts))
        row["_timestamp"] = own_ts
        rows.append(row)
    return rows


def _unpack_value(value, path, json_paths):
    """Row value → JSON value, dropping NULLs and empty containers
    (reference NULL-drop unpack, kcidb/db/sql/schema.py:466-495)."""
    if value is None:
        return None
    if path in json_paths:
        return json.loads(value)
    if isinstance(value, datetime.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=datetime.timezone.utc)
        return value.isoformat(timespec="microseconds")
    if isinstance(value, dict):
        out = {
            k: u
            for k, v in value.items()
            if (u := _unpack_value(v, path + (k,), json_paths)) is not None
        }
        return out or None
    if isinstance(value, list):
        out = [u for v in value if (u := _unpack_value(v, path, json_paths)) is not None]
        return out or None
    return value


def _unpack_raw_value(value, path, json_paths):
    """Row value → JSON value for RAW-copy paths (the archive sink):
    unlike :func:`_unpack_value` it PRESERVES empty containers and
    struct-of-NULLs (as ``{}``/``[]``) instead of collapsing them to
    NULL.  The distinction matters for raw fidelity: the dedup view
    resolves each column to the latest NON-NULL load, so a later load
    that superseded a value with an empty container must stay an empty
    container in the archive — dropping it to NULL would resurrect the
    older value in the archive's view."""
    if value is None:
        return None
    if path in json_paths:
        return json.loads(value)
    if isinstance(value, datetime.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=datetime.timezone.utc)
        return value.isoformat(timespec="microseconds")
    if isinstance(value, dict):
        # NULL members are dropped (absent ≡ NULL member for a Spark
        # struct) but an all-NULL struct stays {} — distinct from NULL.
        return {
            k: u
            for k, v in value.items()
            if (u := _unpack_raw_value(v, path + (k,), json_paths)) is not None
        }
    if isinstance(value, list):
        return [_unpack_raw_value(v, path, json_paths) for v in value]
    return value


def _bulk_convert(col, src, dst, path, json_paths):
    """Engine-side conversion of a JSON-inferred column to the target
    column type (load_bulk): free-form JSON members → canonical JSON
    strings, ISO strings → timestamps, structs rebuilt field-wise with
    missing members as NULL."""
    from pyspark.sql import types as T

    if path in json_paths:
        if isinstance(src, (T.StructType, T.ArrayType, T.MapType, T.VariantType)):
            # to_json canonicalizes (sorted keys) — VARIANT from the
            # static-schema wire parse and inferred structs from
            # load_bulk both land in the same stored form.
            return F.to_json(col)
        return col.cast("string")
    if isinstance(dst, T.TimestampType):
        return F.to_timestamp(col)
    if isinstance(dst, T.StructType):
        if not isinstance(src, T.StructType):
            return F.lit(None).cast(dst)
        by_name = {f.name: f for f in src.fields}
        sub = []
        for f in dst.fields:
            if f.name in by_name:
                sub.append(
                    _bulk_convert(
                        col[f.name], by_name[f.name].dataType, f.dataType,
                        path + (f.name,), json_paths,
                    ).alias(f.name)
                )
            else:
                sub.append(F.lit(None).cast(f.dataType).alias(f.name))
        # Absent nested objects stay NULL (not a struct of NULLs).
        return F.when(col.isNotNull(), F.struct(*sub))
    if isinstance(dst, T.ArrayType) and not isinstance(src, T.ArrayType):
        return F.lit(None).cast(dst)
    return col.cast(dst)


def _synth_struct(fields, values: dict) -> F.Column:
    """A struct literal aligned to ``fields`` (exact order and types —
    required for array concat), members from ``values`` or NULL."""
    return F.struct(
        *[
            (
                values[f.name].cast(f.dataType)
                if f.name in values
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in fields
        ]
    )


def _upgrade_v4_df(raw: DataFrame) -> DataFrame:
    """Engine-side v4→v5 report upgrade, mirroring ``schema.io.upgrade``
    (reference migration: postgresql/v05_00.py:178-231) as pure column
    expressions — per-row, zero shuffle, no Python boundary, so a
    mixed-version 100 TB backfill upgrades in the same single pass that
    loads it:

    * ``builds.valid`` → ``status`` (TRUE→PASS, FALSE→FAIL) where a v4
      report carries no status;
    * ``tests.waived=TRUE`` → one synthetic "_:waived" issue per report
      plus an incident per waived test;
    * dropped v4 fields (``checkouts.contacts``) are simply never
      selected into the target schema.

    Reports already at major 5 pass through untouched (every rewrite is
    gated on ``version.major = 4``).
    """
    from pyspark.sql import types as T

    major = F.col("version.major")

    def elem(col_name):
        if col_name not in raw.columns:
            return None
        dt = raw.schema[col_name].dataType
        if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
            return dt.elementType
        return None

    out = raw
    bt = elem("builds")
    if bt is not None and "valid" in bt.fieldNames():
        has_status = "status" in bt.fieldNames()

        def rebuild(b):
            cols = [
                b[f.name].alias(f.name) for f in bt.fields if f.name != "status"
            ]
            status_src = b["status"] if has_status else F.lit(None).cast("string")
            cols.append(
                F.when(
                    (major == 4) & status_src.isNull() & b["valid"].isNotNull(),
                    F.when(b["valid"], "PASS").otherwise("FAIL"),
                )
                .otherwise(status_src)
                .alias("status")
            )
            return F.struct(*cols)

        out = out.withColumn("builds", F.transform("builds", rebuild))

    tt = elem("tests")
    if tt is not None and "waived" in tt.fieldNames():
        empty_ids = F.array().cast(T.ArrayType(T.StringType()))
        out = out.withColumn(
            "__waived_ids",
            F.when(
                (major == 4) & F.col("tests").isNotNull(),
                F.transform(
                    F.filter(
                        "tests", lambda t: F.coalesce(t["waived"], F.lit(False))
                    ),
                    lambda t: t["id"],
                ),
            ).otherwise(empty_ids),
        )
        it = elem("issues") or T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("version", T.LongType()),
                T.StructField("origin", T.StringType()),
                T.StructField("comment", T.StringType()),
            ]
        )
        issues_col = (
            F.col("issues")
            if "issues" in out.columns
            else F.lit(None).cast(T.ArrayType(it))
        )
        synth_issue = _synth_struct(
            it.fields,
            {
                "id": F.lit("_:waived"),
                "version": F.lit(1),
                "origin": F.lit("_"),
                "comment": F.lit("Test waived as unreliable"),
            },
        )
        has_waived = F.size("__waived_ids") > 0
        out = out.withColumn(
            "issues",
            F.when(
                has_waived,
                F.concat(
                    F.coalesce(issues_col, F.array().cast(T.ArrayType(it))),
                    F.array(synth_issue),
                ),
            ).otherwise(issues_col),
        )
        ct = elem("incidents") or T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("origin", T.StringType()),
                T.StructField("issue_id", T.StringType()),
                T.StructField("issue_version", T.LongType()),
                T.StructField("test_id", T.StringType()),
                T.StructField("present", T.BooleanType()),
            ]
        )
        incidents_col = (
            F.col("incidents")
            if "incidents" in out.columns
            else F.lit(None).cast(T.ArrayType(ct))
        )
        synth_incidents = F.transform(
            "__waived_ids",
            lambda tid: _synth_struct(
                ct.fields,
                {
                    "id": F.concat(F.lit("_:waived:1:"), tid),
                    "origin": F.lit("_"),
                    "issue_id": F.lit("_:waived"),
                    "issue_version": F.lit(1),
                    "test_id": tid,
                    "present": F.lit(True),
                },
            ),
        )
        out = out.withColumn(
            "incidents",
            F.when(
                has_waived,
                F.concat(
                    F.coalesce(incidents_col, F.array().cast(T.ArrayType(ct))),
                    synth_incidents,
                ),
            ).otherwise(incidents_col),
        ).drop("__waived_ids")
    return out


def latest_nonnull(col: str) -> F.Column:
    """Aggregate: the value of ``col`` at the latest ``_timestamp``
    where it is non-NULL, aliased ``col``.  One SQL expression string
    per column: the same plan as the equivalent ``F.max(F.when(...
    F.struct(...)))["v"]`` Column tree, built in one py4j call instead
    of ~15 (the five tables' dedup views aggregate ~65 columns, and
    every store read rebuilds them)."""
    q = "`" + col.replace("`", "``") + "`"
    return F.expr(
        f"max(CASE WHEN {q} IS NOT NULL"
        f" THEN struct(_timestamp AS t, {q} AS v) END).v AS {q}"
    )


def dedup_view(raw: DataFrame, table: str, with_metadata: bool = False) -> DataFrame:
    """The dedup view over an append-only raw table: one row per PK;
    per column, the value of the latest load where it was non-NULL;
    ``_timestamp`` = MAX.  Shared by every store driver whose raw rows
    live in a Spark DataFrame (parquet Store, SqliteStore) so all
    backends resolve load conflicts identically."""
    keys = list(ID_FIELDS[table])
    columns = raw.columns
    aggs = [latest_nonnull(c) for c in columns
            if c not in keys and c != "_timestamp"]
    aggs.append(F.expr("max(_timestamp) AS _timestamp"))
    out = raw.groupBy(*keys).agg(*aggs)
    # Restore the raw table's column order (== the canonical
    # SCHEMAS[table] order for a current-schema store; an old-major
    # store pinned by the mux lattice keeps ITS schema's order).
    cols = [c for c in columns if c != "_timestamp"]
    if with_metadata:
        cols.append("_timestamp")
    return out.select(*cols)


def key_in(cols, keys) -> F.Column:
    """``cols`` IN ``keys`` (tuples, one value per column; no keys →
    FALSE): an IN-list on the first column, which the parquet scan
    takes as a pushed filter, and for a composite key the exact tuple
    IN-list on a struct of ``cols`` beside it."""
    keys = sorted(set(keys))
    if not keys:
        return F.lit(False)
    cond = F.col(cols[0]).isin(sorted({k[0] for k in keys}))
    if len(cols) > 1:
        cond = cond & F.struct(*cols).isin([
            F.struct(*[F.lit(v).alias(c) for c, v in zip(cols, k)])
            for k in keys
        ])
    return cond


def key_rows(store, table: str, keys) -> DataFrame:
    """The dedup rows of ``table`` (``_timestamp`` included) whose
    ``ID_FIELDS`` tuple is in ``keys``.  The filter sits on the
    grouping key, so it reaches the scan beneath the dedup aggregate:
    only the keys' raw rows are read, and building the frame runs no
    job.  The closure walk and the inline submit's change fan-out both
    read the store through it."""
    return store.table(table, with_metadata=True).where(
        key_in(ID_FIELDS[table], keys)
    )


class ReportDumpMixin:
    """Report-shaped read surface shared by store drivers: ``dump`` /
    ``dump_iter`` (windowed I/O reports) and the Spark-SQL escape
    hatch.  Requires only ``self.spark`` and ``self.table(name,
    with_metadata=...)`` — any backend exposing the dedup view as a
    DataFrame gets the whole reference dump/query surface for free."""

    spark: SparkSession

    def table(self, table: str, with_metadata: bool = False) -> DataFrame:
        raise NotImplementedError

    def _io_version_dict(self) -> dict[str, int]:
        """The I/O version this backend's dumps declare — overridden
        by version-pinned stores (the mux lattice's held-back
        members)."""
        from kcidb_spark.schema.io import IO_VERSION

        return dict(IO_VERSION)

    def _validate_report(self, report: dict[str, Any]) -> dict[str, Any]:
        """Validate an emitted report at this backend's version."""
        return validate(report)

    def dump(
        self,
        after: datetime.datetime | None = None,
        until: datetime.datetime | None = None,
        with_metadata: bool = False,
    ) -> dict[str, Any]:
        """Full dump as ONE I/O report, optional (after, until] window
        on _timestamp (reference S2, kcidb/db/sql/schema.py:288-344)."""
        out: dict[str, Any] = {"version": self._io_version_dict()}
        for table, df in self._window_tables(after, until, with_metadata):
            objs = self._rows_to_objs(table, df)
            if objs:
                out[table] = objs
        return out

    def dump_iter(
        self,
        objects_per_report: int | None,
        after: datetime.datetime | None = None,
        until: datetime.datetime | None = None,
        with_metadata: bool = False,
    ):
        """Paginated dump: a generator of I/O reports holding at most
        ``objects_per_report`` objects each, every emitted chunk
        re-validated (reference O4 — kcidb/db/__init__.py:313-388,
        postgresql/v04_00.py:763-782 incl. the per-chunk validation at
        :772-773).  ``None`` → one report with everything.

        Objects stream through ``toLocalIterator`` — driver memory is
        bounded by one chunk, not the dump, which is what lets a bulk
        consumer page a huge store through JSON without OOM."""
        if objects_per_report is not None and objects_per_report <= 0:
            raise ValueError("objects_per_report must be positive or None")
        report: dict[str, Any] = {"version": self._io_version_dict()}
        n = emitted = 0
        for table, df in self._window_tables(after, until, with_metadata):
            for obj in self._iter_objs(table, df):
                report.setdefault(table, []).append(obj)
                n += 1
                if objects_per_report is not None and n >= objects_per_report:
                    yield self._validate_report(report)
                    report = {"version": self._io_version_dict()}
                    n = 0
                    emitted += 1
        if n or not emitted:
            yield self._validate_report(report)

    def _window_tables(self, after, until, with_metadata):
        for table in TABLES:
            df = self.table(table, with_metadata=True)
            if after is not None:
                df = df.filter(F.col("_timestamp") > F.lit(after))
            if until is not None:
                df = df.filter(F.col("_timestamp") <= F.lit(until))
            if not with_metadata:
                df = df.drop("_timestamp")
            yield table, df

    def _iter_objs(self, table: str, df: DataFrame):
        # Serialize timestamps ENGINE-side (session tz is pinned UTC):
        # PySpark's collect/toLocalIterator renders TimestampType in the
        # *driver's local* timezone regardless of session tz, so a
        # non-UTC driver would silently shift every timestamp while
        # _unpack_value labels it +00:00.
        df = iso_utc_timestamps(self.spark, df)
        for row in df.toLocalIterator():
            yield self._row_obj(table, row.asDict(recursive=True))

    def _row_obj(self, table: str, row: dict[str, Any]) -> dict[str, Any]:
        """One collected row of an ``iso_utc_timestamps`` frame (as
        ``asDict(recursive=True)``) as an I/O object."""
        json_paths = _JSON_FIELDS[table]
        return {
            k: u
            for k, v in row.items()
            if (u := _unpack_value(v, (k,), json_paths)) is not None
        }

    def _rows_to_objs(self, table: str, df: DataFrame) -> list[dict[str, Any]]:
        return list(self._iter_objs(table, df))

    # -- SQL surface ------------------------------------------------------
    def sql(self, query: str, with_metadata: bool = False) -> DataFrame:
        """Run Spark SQL against the store: the five object tables and
        the derived ORM views (revision, issue_version, …) are
        registered as temp views first.  This is the third query
        surface next to the closure API and the pattern language —
        the reference's raw-SQL escape hatch equivalent.
        """
        from kcidb_spark.orm.types import type_views
        from kcidb_spark.schema.graph import TABLES as _TABLES

        base = {t: self.table(t, with_metadata=with_metadata) for t in _TABLES}
        for name, df in base.items():
            df.createOrReplaceTempView(name)
        for name, df in type_views(
            {t: self.table(t, with_metadata=True) for t in _TABLES}
        ).items():
            df.createOrReplaceTempView(name)
        return self.spark.sql(query)


class Store(ReportDumpMixin):
    """A named collection of the five kcidb tables under a directory."""

    #: Partition directory column (derived from _timestamp, UTC date).
    PARTITION_COL = "_load_date"

    def __init__(self, spark: SparkSession, root: str,
                 partitioned: bool = False, migrate: bool = True,
                 version: str | tuple[int, int] | None = None):
        from kcidb_spark.store.versioning import (
            STORE_VERSION,
            ensure_current,
            read_version,
            write_version,
        )

        self.spark = spark
        self.root = root
        # Minor-version pin (VERDICT r14 "Next round" #8 — the
        # reference's mid-chain schema pinning, kcidb/db/schematic.py:
        # 174-198): ``version="5.1"`` makes the store SPEAK v5.1 —
        # reads/dumps project away columns introduced at later minors,
        # loads and emitted reports validate at exactly that version —
        # while the directory stays at the current physical layout
        # (minor deltas are additive columns; a NULL-padded projection
        # is the whole migration, both ways).
        self.io_pin: tuple[int, int] | None = None
        if version is not None:
            if isinstance(version, str):
                parts = version.split(".")
                version = (int(parts[0]), int(parts[1]) if len(parts) > 1
                           else 0)
            version = (int(version[0]), int(version[1]))
            if version[0] != STORE_VERSION[0] or not (
                0 <= version[1] <= STORE_VERSION[1]
            ):
                raise ValueError(
                    f"cannot pin store I/O version at {version}: only"
                    f" {STORE_VERSION[0]}.0..{STORE_VERSION[0]}."
                    f"{STORE_VERSION[1]} are expressible (major-4"
                    f" pinning is migrate=False)"
                )
            self.io_pin = version
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        os.makedirs(root, exist_ok=True)
        # Date-partitioned layout (the 100 TB shape: purge = partition
        # drop).  Auto-detected on reopen so the flag only matters for
        # a store's FIRST write.
        self.partitioned = partitioned or bool(
            glob.glob(os.path.join(root, "*", f"{self.PARTITION_COL}=*"))
        )
        if migrate:
            # Stamp/verify the directory's schema version; v4-era
            # stores migrate in place on open (store/versioning.py).
            ensure_current(spark, root)
            self.version = STORE_VERSION
        else:
            # Pinned open (the mux lattice's held-back member,
            # reference kcidb/db/mux.py:69-168): an old-major directory
            # keeps operating AT its schema — load accepts that major's
            # reports, raw/dump speak its column set — until an
            # explicit upgrade() migrates it.
            v = read_version(root)
            if v is None:
                write_version(root, STORE_VERSION)
                v = STORE_VERSION
            elif v[0] == STORE_VERSION[0]:
                # Minor deltas need no rewrite (NULL-filled columns).
                v = STORE_VERSION
            elif v[0] != 4:
                raise ValueError(
                    f"store at {root} has unsupported schema version {v}"
                )
            self.version = v

    # -- schema version -------------------------------------------------
    def io_version(self) -> tuple[int, int]:
        """The I/O schema version this store accepts on load and
        speaks on dump (reference ``get_schema``)."""
        return self.io_pin or self.version

    def supported_io_versions(self) -> list[tuple[int, int]]:
        """Versions this store can operate at, current first, in
        upgrade order (reference ``get_schemas``) — the per-member
        input to the mux driver's version lattice."""
        from kcidb_spark.store.versioning import STORE_VERSION

        if self.version[0] == STORE_VERSION[0]:
            return [STORE_VERSION]
        return [self.version, STORE_VERSION]

    def upgrade(self, target: tuple[int, int] | None = None) -> None:
        """Migrate the directory to ``target`` (default: current) in
        place — the reference's driver ``upgrade`` (schematic.py
        ``_inherit`` chain); v4→v5 is the DataFrame-native rewrite in
        store/versioning.py."""
        from kcidb_spark.store.versioning import STORE_VERSION, migrate_v4_store

        target = target or STORE_VERSION
        if target == self.version:
            return
        if self.version[0] == 4 and target == STORE_VERSION:
            migrate_v4_store(self.spark, self.root)
            self.version = STORE_VERSION
            return
        raise ValueError(
            f"cannot upgrade store at {self.root} from {self.version}"
            f" to {target}"
        )

    def _io_version_dict(self) -> dict[str, int]:
        v = self.io_pin or self.version
        return {"major": v[0], "minor": v[1]}

    def _validate_report(self, report: dict[str, Any]) -> dict[str, Any]:
        if self.version[0] == 4:
            from kcidb_spark.schema.io import validate_v4

            return validate_v4(report)
        if self.io_pin is not None:
            from kcidb_spark.schema.io import validate_at_minor

            return validate_at_minor(report, self.io_pin[1])
        return validate(report)

    def _schema(self, table: str, with_metadata: bool = False):
        """The store's own StructType for a table — the pinned major's
        column set, not necessarily the engine's current one."""
        from kcidb_spark.store.versioning import schema_for_v4

        if self.version[0] == 4:
            s = schema_for_v4(table)  # includes _timestamp
            if with_metadata:
                return s
            from pyspark.sql import types as T

            return T.StructType(
                [f for f in s.fields if f.name != "_timestamp"]
            )
        return schema_for(table, with_metadata=with_metadata)

    # -- paths ----------------------------------------------------------
    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _has_data(self, table: str) -> bool:
        return bool(glob.glob(os.path.join(self._path(table), "*.parquet")) or
                    glob.glob(os.path.join(self._path(table), "*", "*.parquet")))

    # -- load -----------------------------------------------------------
    def load(
        self,
        data: dict[str, Any],
        timestamp: datetime.datetime | None = None,
    ) -> None:
        """Validate and append an I/O report at the store's schema
        version (idempotent under the dedup view; loads are commutative
        — reference T7 semantics)."""
        if self.version[0] == 4:
            from kcidb_spark.schema.io import validate_v4

            validate_v4(data)
        elif self.io_pin is not None:
            from kcidb_spark.schema.io import validate_at_minor

            validate_at_minor(data, self.io_pin[1])
        else:
            validate(data)
        ts = _as_utc(timestamp or datetime.datetime.now(datetime.timezone.utc))
        for table in TABLES:
            objs = data.get(table)
            if not objs:
                continue
            df = local_records_df(
                self.spark, pack_rows(table, objs, ts),
                self._schema(table, with_metadata=True),
            )
            self._append(df, table)

    def load_bulk(
        self,
        path: str,
        timestamp: datetime.datetime | None = None,
        multiline: bool = True,
    ) -> None:
        """Bulk backfill: append a directory of I/O report JSON files
        entirely engine-side — ``spark.read.json`` → column transforms
        → parquet append.  No report ever materializes on the driver,
        so a multi-TB backfill is a distributed rewrite; ``load`` stays
        the validated control-plane path for report-at-a-time trickle
        (VERDICT r1 §5: the collect()-based path is wrong for bulk).

        ``multiline=True`` reads one report per FILE; ``False`` reads
        one report per LINE (JSONL).  Validation is engine-side and
        structural (version major, required fields non-null) — run the
        full JSON-Schema check per report via ``load`` when provenance
        is untrusted.
        """
        ts = timestamp or datetime.datetime.now(datetime.timezone.utc)
        raw = (
            self.spark.read.option("multiLine", "true").json(path)
            if multiline
            else self.spark.read.json(path)
        )
        self._load_parsed(raw, ts)

    def load_json_df(
        self,
        json_df: DataFrame,
        column: str = "value",
        timestamp: datetime.datetime | None = None,
    ) -> DataFrame | None:
        """Engine-side load of a DataFrame of raw JSON report STRINGS
        (one complete report per row — the streaming ingest micro-batch
        shape).  Parsing, required-field checks, and the parquet append
        all run on executors; the driver sees only tiny guard booleans
        — no report payload is ever collected (VERDICT r3 §wrong-2: the
        collect()-based foreachBatch was a 100 TB driver bottleneck).

        Returns the parsed report frame (columns = version + object
        lists) for downstream change fan-out, or None if the batch had
        no non-blank rows.
        """
        from kcidb_spark.schema.types import report_wire_schema

        ts = timestamp or datetime.datetime.now(datetime.timezone.utc)
        # Keep rows with any non-whitespace char (SQL TRIM strips only
        # spaces — a "  \n" row would otherwise reach the parser).
        strings = json_df.select(F.col(column).alias("value")).filter(
            F.col("value").rlike(r"\S")
        )
        if strings.isEmpty():
            return None
        # DataFrame[str] → parsed reports entirely JVM-side: from_json
        # against the STATIC report schema — one projection, no RDD
        # pickling round-trip, no schema-inference extra pass over the
        # batch.  Unparseable rows land in _corrupt_record (checked in
        # _load_parsed); free-form misc members parse as VARIANT.
        raw = strings.select(
            F.from_json(
                "value",
                report_wire_schema(),
                {
                    "mode": "PERMISSIVE",
                    "columnNameOfCorruptRecord": "_corrupt_record",
                },
            ).alias("r")
        ).select("r.*")
        self._load_parsed(raw, ts)
        return raw

    def _load_parsed(self, raw: DataFrame, ts: datetime.datetime) -> None:
        """Shared engine-side tail of load_bulk/load_json_df: structural
        validation + per-table column transforms + parquet append."""
        from kcidb_spark.schema.validation import REQUIRED_FIELDS

        if self.version[0] == 4:
            raise ValueError(
                "bulk load targets the current schema; upgrade() this"
                f" pinned v{self.version[0]} store first"
            )

        if "_corrupt_record" in raw.columns:
            sample = (
                raw.filter(F.col("_corrupt_record").isNotNull())
                .select("_corrupt_record").limit(1).collect()
            )
            if sample:
                raise ValueError(
                    f"unparseable report JSON: {sample[0][0]!r:.500}"
                )
            raw = raw.drop("_corrupt_record")
        if "version" not in raw.columns:
            raise ValueError("no version field in any report")
        bad = (
            raw.filter(
                F.col("version.major").isNull()
                | ~F.col("version.major").isin(4, 5)
            )
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError("bulk load requires major version 4 or 5 reports")
        raw = _upgrade_v4_df(raw)
        for table in TABLES:
            if table not in raw.columns:
                continue
            objs = raw.select(F.explode(table).alias("o")).select("o.*")
            # A required field absent from the inferred schema means NO
            # object carries it; reference it as NULL, not a column.
            n_bad = (
                objs.filter(
                    ~F.expr(
                        " AND ".join(
                            f"{r} IS NOT NULL"
                            if r in objs.columns
                            else "FALSE"
                            for r in REQUIRED_FIELDS[table]
                        )
                    )
                )
                .limit(1)
                .count()
            )
            if n_bad:
                raise ValueError(
                    f"{table}: object(s) missing required fields "
                    f"{REQUIRED_FIELDS[table]}"
                )
            target = schema_for(table, with_metadata=True)
            self._check_values(table, objs, target)
            json_paths = _JSON_FIELDS[table]
            cols = []
            for f in target.fields:
                if f.name == "_timestamp":
                    if "_timestamp" in objs.columns:
                        cols.append(
                            F.coalesce(
                                F.to_timestamp("_timestamp"),
                                F.lit(ts).cast("timestamp"),
                            ).alias("_timestamp")
                        )
                    else:
                        cols.append(
                            F.lit(ts).cast("timestamp").alias("_timestamp")
                        )
                elif f.name not in objs.columns:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
                else:
                    src_type = objs.schema[f.name].dataType
                    cols.append(
                        _bulk_convert(
                            F.col(f.name), src_type, f.dataType,
                            (f.name,), json_paths,
                        ).alias(f.name)
                    )
            self._append(objs.select(*cols), table)

    def _check_values(self, table: str, objs: DataFrame, target) -> None:
        """Engine-side value validation for the bulk/streaming paths —
        the JSON-Schema subset whose violation would otherwise corrupt
        data SILENTLY: status outside the enum would poison the
        priority rollups, and a malformed timestamp string would
        to_timestamp to NULL (dropping the value) or throw mid-write
        under ANSI.  One validation scan per table, all checks fused
        into a single array-of-violation-labels projection.  Full
        JSON-Schema validation remains the per-report ``load`` path
        for untrusted trickle provenance.
        """
        from pyspark.sql import types as T

        from kcidb_spark.schema.types import STATUS_VALUES

        viol: list = []
        if "status" in objs.columns and any(
            f.name == "status" for f in target.fields
        ):
            viol.append(
                F.when(
                    F.col("status").isNotNull()
                    & ~F.col("status").isin(*STATUS_VALUES),
                    F.lit("status not in enum"),
                )
            )
        for f in target.fields:
            if (
                isinstance(f.dataType, T.TimestampType)
                and f.name in objs.columns
                and not f.name.startswith("_")
                and isinstance(objs.schema[f.name].dataType, T.StringType)
            ):
                viol.append(
                    F.when(
                        F.col(f.name).isNotNull()
                        & F.try_to_timestamp(F.col(f.name)).isNull(),
                        F.lit(f"unparseable timestamp {f.name}"),
                    )
                )
        if not viol:
            return
        bad = (
            objs.select(F.array_compact(F.array(*viol)).alias("v"))
            .filter(F.size("v") > 0)
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(f"{table}: invalid value(s): {bad[0]['v']}")

    def append_raw(self, df: DataFrame, table: str) -> None:
        """Append pre-validated RAW rows (metadata schema) to a table —
        the driver-agnostic sink the archive job writes through."""
        self._append(df, table)

    def _append(self, df: DataFrame, table: str) -> None:
        """Append rows to a raw table in the store's layout."""
        if self.partitioned:
            (
                df.withColumn(
                    self.PARTITION_COL,
                    F.date_format("_timestamp", "yyyy-MM-dd"),
                )
                .write.mode("append")
                .partitionBy(self.PARTITION_COL)
                .parquet(self._path(table))
            )
        else:
            df.write.mode("append").parquet(self._path(table))

    # -- read -----------------------------------------------------------
    def raw(self, table: str) -> DataFrame:
        """The append-only raw table (all loaded versions of each row)."""
        if not self._has_data(table):
            return self.spark.createDataFrame(
                [], self._schema(table, with_metadata=True)
            )
        schema = self._schema(table, with_metadata=True)
        if self.partitioned:
            from pyspark.sql import types as T

            schema = T.StructType(
                list(schema.fields)
                + [T.StructField(self.PARTITION_COL, T.StringType(), True)]
            )
            return (
                self.spark.read.schema(schema)
                .parquet(self._path(table))
                .drop(self.PARTITION_COL)
            )
        return self.spark.read.schema(schema).parquet(self._path(table))

    def table(self, table: str, with_metadata: bool = False) -> DataFrame:
        """The dedup view: one row per PK; per column, the value of the
        latest load where it was non-NULL; _timestamp = MAX.  A
        minor-pinned store (``version="5.1"``) projects away columns
        introduced at later minors — the mid-chain schema's column
        set, pure column pruning at the scan."""
        df = dedup_view(self.raw(table), table, with_metadata)
        if self.io_pin is not None:
            from kcidb_spark.schema.io import v5_minor_dropped

            for col in v5_minor_dropped(self.io_pin[1]).get(table, ()):
                df = df.drop(col)
        return df

    # -- dump / SQL surface: ReportDumpMixin ----------------------------

    # -- maintenance ----------------------------------------------------
    def compact(self) -> None:
        """Materialize the dedup view back into the raw tables: one row
        per PK, per-column latest-non-NULL already resolved, _timestamp
        = MAX.  Query results are unchanged (the dedup view of a
        compacted table is the identity); what changes is cost — the
        reference's BigQuery model periodically materializes its dedup
        view for the same reason.  Local parquet: rewrite+rename; on a
        partitioned lake this is a per-partition rewrite job."""
        for table in TABLES:
            if not self._has_data(table):
                continue
            resolved = self.table(table, with_metadata=True)
            tmp = self._path(table) + ".compacting"
            if self.partitioned:
                (
                    resolved.withColumn(
                        self.PARTITION_COL,
                        F.date_format("_timestamp", "yyyy-MM-dd"),
                    )
                    .write.mode("overwrite")
                    .partitionBy(self.PARTITION_COL)
                    .parquet(tmp)
                )
            else:
                resolved.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(self._path(table))
            os.rename(tmp, self._path(table))

    def purge(self, before: datetime.datetime) -> None:
        """Drop raw rows with _timestamp < before (reference S11,
        postgresql/v04_02.py:74-105).

        Partitioned layout: whole partitions strictly before the
        cutoff DATE are directory drops (no data read — the operation
        is O(partitions), not O(rows), which is what makes retention
        enforcement viable at 100 TB); only the single boundary-date
        partition is filter-rewritten.  Flat layout: filter+rewrite.
        """
        if before.tzinfo is None:
            before = before.replace(tzinfo=datetime.timezone.utc)
        if self.partitioned:
            cutoff = before.astimezone(datetime.timezone.utc).strftime(
                "%Y-%m-%d"
            )
            schema = None
            for table in TABLES:
                for pdir in glob.glob(
                    os.path.join(self._path(table), f"{self.PARTITION_COL}=*")
                ):
                    day = os.path.basename(pdir).split("=", 1)[1]
                    if day < cutoff:
                        shutil.rmtree(pdir)
                    elif day == cutoff:
                        schema = self._schema(table, with_metadata=True)
                        kept = (
                            self.spark.read.schema(schema)
                            .parquet(pdir)
                            .filter(F.col("_timestamp") >= F.lit(before))
                        )
                        tmp = pdir + ".purging"
                        kept.write.mode("overwrite").parquet(tmp)
                        shutil.rmtree(pdir)
                        os.rename(tmp, pdir)
            return
        for table in TABLES:
            if not self._has_data(table):
                continue
            kept = self.raw(table).filter(F.col("_timestamp") >= F.lit(before))
            tmp = self._path(table) + ".purging"
            kept.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(self._path(table))
            os.rename(tmp, self._path(table))

    def empty(self) -> None:
        """Remove all data (reference S12)."""
        for table in TABLES:
            p = self._path(table)
            if os.path.exists(p):
                shutil.rmtree(p)

    def first_modified(self) -> dict[str, datetime.datetime]:
        """Earliest _timestamp per non-empty table (reference A4)."""
        return self._modified(F.min)

    def last_modified(self) -> dict[str, datetime.datetime]:
        """Latest _timestamp per non-empty table (reference A4)."""
        return self._modified(F.max)

    def _modified(self, agg) -> dict[str, datetime.datetime]:
        out = {}
        for table in TABLES:
            if not self._has_data(table):
                continue
            # Collect epoch micros, not TimestampType: collected
            # timestamps are rendered in the driver's local tz (see
            # _rows_to_objs), while integers cross unchanged.
            val = (
                self.raw(table)
                .agg(F.unix_micros(agg("_timestamp")).alias("m"))
                .collect()[0]["m"]
            )
            if val is not None:
                out[table] = datetime.datetime(
                    1970, 1, 1, tzinfo=datetime.timezone.utc
                ) + datetime.timedelta(microseconds=val)
        return out
