"""Subscriptions, notifications, and the dedup spool.

Reference: subscription match functions (kcidb/monitor/__init__.py:
36-53, the user extension point), notification ids
(kcidb/monitor/output.py:162-174: ``subscription:type:b64(obj_id):
b64(msg_id)``), and the Firestore spool with create-or-update
transactions (kcidb/monitor/spool/__init__.py:89-252).

Spark-first redesign: a subscription is a *DataFrame predicate* over a
canonical type view plus message templates — matching is one
distributed filter per subscription, not a per-object Python call.
The spool is a parquet table MERGE-deduplicated on the deterministic
notification id, so redelivered micro-batches cannot double-notify
(the Delta MERGE shape, emulated with anti-join + append).
"""

from __future__ import annotations

import base64
import datetime
import glob
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class Subscription:
    """Declarative subscription: match rows of ``obj_type``'s canonical
    view satisfying ``predicate``; render subject/body per row."""

    name: str
    obj_type: str
    predicate: Column
    subject: Column  # string column, ≤256 chars enforced at render
    body: Column  # string column, ≤64 KiB enforced at render

    #: reference caps (kcidb/monitor/output.py:23-26)
    SUBJECT_MAX = 256
    BODY_MAX = 65536

    @classmethod
    def from_templates(
        cls,
        name: str,
        obj_type: str,
        predicate: Column,
        subject: str,
        body: str,
    ) -> "Subscription":
        """Build a subscription from ``{field}`` message templates
        (the reference's per-subscription Jinja2 template pair,
        kcidb/monitor/output.py:175-241) — compiled to JVM-side
        Columns, see streaming/templates.py."""
        from kcidb_spark.streaming.templates import template_column

        return cls(
            name=name,
            obj_type=obj_type,
            predicate=predicate,
            subject=template_column(subject),
            body=template_column(body),
        )


@dataclass(frozen=True)
class Notification:
    id: str
    subscription: str
    obj_type: str
    obj_id: str
    subject: str
    body: str
    #: Earliest send time (the reference NotificationMessage.due,
    #: kcidb/monitor/output.py:77-105) — None = send immediately.
    due: "datetime.datetime | None" = None


_SPOOL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("subscription", T.StringType()),
        T.StructField("obj_type", T.StringType()),
        T.StructField("obj_id", T.StringType()),
        T.StructField("subject", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("sent_at", T.TimestampType()),
        # Earliest send time; the pick stage skips rows whose due has
        # not passed (reference spool/__init__.py:176-185).
        T.StructField("due", T.TimestampType()),
    ]
)


def _b64(col: Column) -> Column:
    # Spark's base64 MIME-wraps its output with CRLF every 76 chars
    # (java.util.Base64 MIME encoder) — a >56-byte subject would embed
    # a line break inside the notification id, corrupting e-mail
    # headers and diverging from DuckDB's unwrapped to_base64.  Strip.
    return F.regexp_replace(F.base64(F.encode(col, "UTF-8")), "[\\r\\n]", "")


def match_subscriptions(
    views: dict[str, DataFrame],
    subscriptions: list[Subscription],
    changed_ids: dict[str, DataFrame] | None = None,
) -> DataFrame | None:
    """Evaluate subscriptions, optionally restricted to changed ids
    (the T5 stage: new-data keys ⋈ subscription predicates)."""
    out: DataFrame | None = None
    for sub in subscriptions:
        df = views[sub.obj_type]
        if changed_ids is not None:
            ids = changed_ids.get(sub.obj_type)
            if ids is None:
                continue
            df = df.join(F.broadcast(ids), on="id", how="left_semi")
        # Deterministic notification id (monitor/output.py:162-174).
        notif_id = F.concat_ws(
            ":",
            F.lit(sub.name),
            F.lit(sub.obj_type),
            _b64(F.col("id")),
            _b64(F.substring(sub.subject, 1, Subscription.SUBJECT_MAX)),
        )
        rows = df.filter(sub.predicate).select(
            notif_id.alias("id"),
            F.lit(sub.name).alias("subscription"),
            F.lit(sub.obj_type).alias("obj_type"),
            F.col("id").alias("obj_id"),
            F.substring(sub.subject, 1, Subscription.SUBJECT_MAX).alias("subject"),
            F.substring(sub.body, 1, Subscription.BODY_MAX).alias("body"),
        )
        out = rows if out is None else out.unionByName(rows)
    return out


class NotificationSpool:
    """Parquet-backed spool with MERGE-dedup on notification id."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _has_data(self) -> bool:
        return bool(glob.glob(os.path.join(self.path, "*.parquet")))

    def all(self) -> DataFrame:
        if not self._has_data():
            return self.spark.createDataFrame([], _SPOOL_SCHEMA)
        return self.spark.read.schema(_SPOOL_SCHEMA).parquet(self.path)

    def spool(self, notifications: DataFrame) -> int:
        """Insert-if-absent by id; returns the number of new rows.
        (The create-only transaction of the reference spool,
        spool/__init__.py:89-252.)

        The match plan runs once: the append counts its own rows
        (``DataFrame.observe``) instead of a ``count()`` that would
        execute the plan a second time.  It writes into a hidden
        staging directory, which readers of the spool never list (Spark's
        file index skips ``_``-prefixed names); the part files move in
        only when rows were written, so a fully redelivered batch leaves
        no trace — not even an empty part file."""
        if "due" not in notifications.columns:
            notifications = notifications.withColumn(
                "due", F.lit(None).cast("timestamp")
            )
        fresh = (
            notifications.dropDuplicates(["id"])
            .join(self.all().select("id"), on="id", how="left_anti")
            .withColumn("created_at", F.current_timestamp())
            .withColumn("sent_at", F.lit(None).cast("timestamp"))
            .select([f.name for f in _SPOOL_SCHEMA.fields])
        )
        counted = Observation()
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        try:
            fresh.observe(counted, F.count(F.lit(1)).alias("n")).write.parquet(
                staging
            )
            n = counted.get["n"]
            if n:
                # Part files and their checksums; not _SUCCESS.
                for name in os.listdir(staging):
                    if name.lstrip(".").startswith("part-"):
                        os.rename(os.path.join(staging, name),
                                  os.path.join(self.path, name))
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return n

    def unsent(self) -> DataFrame:
        """Pick stage: notifications not yet sent whose due time (if
        any) has passed (main.py:387-402; due semantics
        spool/__init__.py:176-185)."""
        return self.all().filter(
            F.col("sent_at").isNull()
            & (F.col("due").isNull() | (F.col("due") <= F.current_timestamp()))
        )

    def mark_sent(self, send: Callable[[Notification], None] | None = None) -> int:
        """Send every unsent notification (via ``send``) and persist
        sent_at — the ack stage.  Local-parquet rewrite; on a lake
        this is a MERGE on id."""
        rows = self.unsent().collect()
        for r in rows:
            if send is not None:
                send(
                    Notification(
                        id=r["id"],
                        subscription=r["subscription"],
                        obj_type=r["obj_type"],
                        obj_id=r["obj_id"],
                        subject=r["subject"],
                        body=r["body"],
                        due=r["due"],
                    )
                )
        if not rows:
            return 0
        now = datetime.datetime.now(datetime.timezone.utc)
        sent_ids = self.spark.createDataFrame(
            [(r["id"],) for r in rows], "id string"
        )
        updated = (
            self.all()
            .join(F.broadcast(sent_ids.withColumn("_sent", F.lit(True))), "id", "left")
            .withColumn(
                "sent_at",
                F.when(F.col("_sent") & F.col("sent_at").isNull(), F.lit(now))
                .otherwise(F.col("sent_at")),
            )
            .drop("_sent")
        )
        tmp = self.path + ".updating"
        updated.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(self.path)
        os.rename(tmp, self.path)
        return len(rows)

    def wipe(self, before: "datetime.datetime | None" = None) -> int:
        """Delete spooled notifications created before ``before`` (all
        of them when None) — the reference's kcidb-monitor-spool-wipe
        (kcidb/monitor/spool/__init__.py wipe).  Returns rows removed.
        Local-parquet rewrite; on a lake this is a partition drop when
        the spool is date-partitioned on created_at."""
        total = self.all().count()
        if not total:
            return 0
        if before is None:
            kept = self.spark.createDataFrame([], _SPOOL_SCHEMA)
            n_kept = 0
        else:
            kept = self.all().filter(F.col("created_at") >= F.lit(before))
            n_kept = kept.count()
        tmp = self.path + ".updating"
        kept.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(self.path)
        os.rename(tmp, self.path)
        return total - n_kept


def load_subscriptions(directory: str) -> "list[Subscription]":
    """Load user subscription modules from a directory — the analog of
    the reference's pluggable subscription package, where dropping a
    module into kcidb/monitor/subscriptions/ auto-registers its
    ``match_<type>()`` functions under the module's name
    (kcidb/monitor/subscriptions/__init__.py:8-46,
    kcidb/monitor/__init__.py:36-53).

    Each ``*.py`` file in ``directory`` (non-underscore-prefixed) is
    imported and must expose either:

    - ``SUBSCRIPTIONS``: a list of :class:`Subscription` objects, or
    - ``subscriptions()``: a zero-arg callable returning such a list.

    Declarative Subscription objects keep the predicate engine-side
    (a Column evaluated in one distributed pass over each type's
    view) instead of the reference's per-object Python callback —
    the 100 TB-safe form of the same extension point.  A loaded
    subscription with an empty ``name`` is renamed to its module's
    stem, mirroring the reference's name-by-module convention.
    Modules are loaded in sorted filename order so registration is
    deterministic."""
    import dataclasses
    import importlib.util
    from pathlib import Path

    subs: list[Subscription] = []
    for path in sorted(Path(directory).glob("*.py")):
        if path.name.startswith("_"):
            continue
        spec = importlib.util.spec_from_file_location(
            f"kcidb_spark_user_subscriptions.{path.stem}", path
        )
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        loaded = getattr(module, "SUBSCRIPTIONS", None)
        if loaded is None:
            factory = getattr(module, "subscriptions", None)
            if not callable(factory):
                raise ValueError(
                    f"subscription module {path} defines neither "
                    "SUBSCRIPTIONS nor subscriptions()"
                )
            loaded = factory()
        for sub in loaded:
            if not isinstance(sub, Subscription):
                raise TypeError(
                    f"subscription module {path} produced "
                    f"{type(sub).__name__}, expected Subscription"
                )
            if not sub.name:
                sub = dataclasses.replace(sub, name=path.stem)
            subs.append(sub)
    return subs


def default_subscriptions() -> "list[Subscription]":
    """The built-in subscription set — the analog of the reference's
    kcidb/monitor/subscriptions/ package: the always-on "test"-origin
    subscription over every object type (subscriptions/test.py) plus a
    mainline-style failed-build alert (subscriptions/mainline.py's
    build-status rule, minus the tree filter which is deployment
    config)."""
    subs = [
        Subscription.from_templates(
            name="test",
            obj_type=t,
            predicate=F.col("origin") == "test",
            subject=f"Test {t}: {{id}}",
            body=f"Test {t} detected!\n\nid: {{id}}\norigin: {{origin}}",
        )
        for t in ("checkout", "build", "test", "issue", "incident")
    ]
    subs.append(
        Subscription.from_templates(
            name="build_failures",
            obj_type="build",
            predicate=F.col("status") == "FAIL",
            subject="Build failed: {id}",
            body="Build {id} (origin {origin}) has status FAIL.",
        )
    )
    return subs
