"""Pattern → DataFrame compiler.

The reference renders each pattern chain as nested SQL joins with
DISTINCT on parent-direction steps (postgresql/v04_00.py:832-866) and
UNIONs per-type pattern queries (:893-898).  Here each chain becomes a
DataFrame join chain over the canonical type views; Catalyst picks
broadcast vs shuffle joins and AQE re-plans at runtime, so the chains
behave at 100 TB without hand-scheduling.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kcidb_spark.localrel import local_df
from kcidb_spark.orm.pattern import Pattern
from kcidb_spark.orm.types import RELATIONS, TYPES


def _relation_between(parent: str, child: str):
    for r in RELATIONS:
        if r.parent == parent and r.child == child:
            return r
    raise ValueError(f"no relation {parent} → {child}")


_KEY_TYPE = {"version_num": T.LongType()}


def _restrict_ids(
    spark: SparkSession, df: DataFrame, obj_type: str, ids: frozenset | None
) -> DataFrame:
    if ids is None:
        return df
    fields = TYPES[obj_type].id_fields
    if not ids:
        return df.where(F.lit(False))  # empty set ≠ no filter (P5)
    schema = T.StructType(
        [
            T.StructField(f, _KEY_TYPE.get(f, T.StringType()), True)
            for f in fields
        ]
    )
    ids_df = local_df(spark, ids, schema)
    return df.join(F.broadcast(ids_df), on=list(fields), how="left_semi")


def _compile_one(
    spark: SparkSession, views: dict[str, DataFrame], pattern: Pattern
) -> DataFrame:
    """Rows of pattern.obj_type selected by the chain."""
    obj = _restrict_ids(spark, views[pattern.obj_type], pattern.obj_type,
                        pattern.obj_id_set)
    if pattern.base is None:
        return obj
    base = _compile_one(spark, views, pattern.base)
    if pattern.child:
        # obj is a child of base: obj.fk == base.id
        rel = _relation_between(pattern.base.obj_type, pattern.obj_type)
        base_keys = base.select(
            *[
                F.col(pk).alias(fk)
                for pk, fk in zip(TYPES[rel.parent].id_fields, rel.child_fk)
            ]
        ).distinct()
        return obj.join(base_keys, on=list(rel.child_fk), how="left_semi")
    # obj is a parent of base: obj.id == base.fk — parent-direction
    # dedup via distinct FK projection (reference DISTINCT,
    # postgresql/v04_00.py:848-853; semi-join makes it implicit).
    rel = _relation_between(pattern.obj_type, pattern.base.obj_type)
    base_keys = base.select(
        *[
            F.col(fk).alias(pk)
            for fk, pk in zip(rel.child_fk, TYPES[rel.parent].id_fields)
        ]
    ).distinct()
    return obj.join(base_keys, on=list(TYPES[pattern.obj_type].id_fields),
                    how="left_semi")


def compile_patterns(
    spark: SparkSession,
    views: dict[str, DataFrame],
    patterns: Iterable[Pattern],
) -> dict[str, DataFrame]:
    """Compile a match-pattern set into per-type result DataFrames
    (union of the type's pattern queries, deduplicated by id)."""
    by_type: dict[str, list[Pattern]] = {}
    for p in patterns:
        by_type.setdefault(p.obj_type, []).append(p)
    out: dict[str, DataFrame] = {}
    for obj_type, plist in by_type.items():
        dfs = [_compile_one(spark, views, p) for p in plist]
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other)
        out[obj_type] = df.dropDuplicates(list(TYPES[obj_type].id_fields))
    return out
