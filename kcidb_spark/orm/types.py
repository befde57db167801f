"""ORM object-type schema and canonical type views.

Seven queryable types (kcidb/orm/data.py:331-472): the five stored
tables exposed as ``checkout/build/test/issue_version/incident`` plus
two *derived* types:

* ``revision`` — GROUP BY (git_commit_hash, patchset_hash) over
  checkouts (kcidb/db/postgresql/v04_00.py:277-291);
* ``issue`` — GROUP BY id over the issues table picking a
  representative origin (kcidb/db/postgresql/v04_01.py:69-105);
  ``issue_version`` is the issues table itself (version → version_num).

Canonical views flatten nested structs into the reference's
underscore names (environment_comment, culprit_code, …) so pattern
query results line up with the reference's ORM field sets (P2,
postgresql/v04_00.py:276-472).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kcidb_spark.store import latest_nonnull


@dataclass(frozen=True)
class Relation:
    """parent type → child type; child rows carry ``child_fk``."""

    parent: str
    child: str
    child_fk: tuple[str, ...]


@dataclass(frozen=True)
class ObjType:
    name: str
    id_fields: tuple[str, ...]
    fields: tuple[str, ...] = field(default=())


RELATIONS: tuple[Relation, ...] = (
    Relation("revision", "checkout", ("git_commit_hash", "patchset_hash")),
    Relation("checkout", "build", ("checkout_id",)),
    Relation("build", "test", ("build_id",)),
    Relation("build", "incident", ("build_id",)),
    Relation("test", "incident", ("test_id",)),
    Relation("issue", "issue_version", ("id",)),
    Relation("issue_version", "incident", ("issue_id", "issue_version_num")),
)

TYPES: dict[str, ObjType] = {
    t.name: t
    for t in (
        ObjType("revision", ("git_commit_hash", "patchset_hash")),
        ObjType("checkout", ("id",)),
        ObjType("build", ("id",)),
        ObjType("test", ("id",)),
        ObjType("issue", ("id",)),
        ObjType("issue_version", ("id", "version_num")),
        ObjType("incident", ("id",)),
    )
}


def children_of(name: str) -> list[Relation]:
    return [r for r in RELATIONS if r.parent == name]


def parents_of(name: str) -> list[Relation]:
    return [r for r in RELATIONS if r.child == name]


def type_views(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Build the 7 canonical type DataFrames from the 5 stored tables
    (which must carry _timestamp, i.e. ``store.table(t, True)``)."""
    checkouts = tables["checkouts"]
    builds = tables["builds"]
    tests = tables["tests"]
    issues = tables["issues"]
    incidents = tables["incidents"]

    checkout = checkouts.select(
        "id",
        "git_commit_hash",
        "git_commit_tags",
        "git_commit_message",
        "patchset_hash",
        "origin",
        "git_repository_url",
        "git_repository_branch",
        "git_repository_branch_tip",
        "tree_name",
        "message_id",
        "start_time",
        "log_url",
        "comment",
        "valid",
        "misc",
    )

    build = builds.select(
        "id",
        "checkout_id",
        "origin",
        "start_time",
        "duration",
        "architecture",
        "command",
        "compiler",
        "input_files",
        "output_files",
        "config_name",
        "config_url",
        "log_url",
        "comment",
        "status",
        "misc",
    )

    test = tests.select(
        "id",
        "build_id",
        "origin",
        "path",
        F.col("environment.comment").alias("environment_comment"),
        F.col("environment.compatible").alias("environment_compatible"),
        F.col("environment.misc").alias("environment_misc"),
        "status",
        F.col("number.value").alias("number_value"),
        F.col("number.unit").alias("number_unit"),
        F.col("number.prefix").alias("number_prefix"),
        "start_time",
        "duration",
        "output_files",
        "log_url",
        "comment",
        "misc",
    )

    # Derived: one row per issue id, representative origin
    # (reference FIRST(origin) — ours is deterministic latest-non-null).
    issue = issues.groupBy("id").agg(latest_nonnull("origin"))

    issue_version = issues.select(
        "id",
        F.col("version").alias("version_num"),
        "origin",
        "report_url",
        "report_subject",
        F.col("culprit.code").alias("culprit_code"),
        F.col("culprit.tool").alias("culprit_tool"),
        F.col("culprit.harness").alias("culprit_harness"),
        "comment",
        "misc",
    )

    incident = incidents.select(
        "id",
        "origin",
        "issue_id",
        F.col("issue_version").alias("issue_version_num"),
        "build_id",
        "test_id",
        "present",
        "comment",
        "misc",
    )

    # Derived: revision rollup over checkouts (A1).  Aggregates are
    # deterministic latest-non-null rather than the reference's
    # arbitrary FIRST.
    revision = (
        checkouts.filter(
            F.col("git_commit_hash").isNotNull() | F.col("patchset_hash").isNotNull()
        )
        .groupBy("git_commit_hash", "patchset_hash")
        .agg(
            latest_nonnull("patchset_files"),
            latest_nonnull("git_commit_name"),
        )
    )

    return {
        "revision": revision,
        "checkout": checkout,
        "build": build,
        "test": test,
        "issue": issue,
        "issue_version": issue_version,
        "incident": incident,
    }
