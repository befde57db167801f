"""The serving store's log-structured layout — ONE implementation of
the write, read, fold and GC rules every store kind (float IVF, int-q,
PQ — with or without a rotation —, postings) shares.

A store is append-only batch subtrees (``<sub>/batch_id=N``), an
optional folded generation directory, tombstone subtrees, and one
``_manifest.json`` that gates visibility.  Every write goes through
one path, the reference's "load, then acknowledge" (bigquery
v04_00.py:1183-1225, main.py:322-325):

* :func:`commit` — overwrite each subtree a transaction writes
  (independent writes overlap), then ONE :func:`publish_visibility`;
  every ingest, delete, fold and retrain ends in it;
* :func:`batch` / :func:`tombstones` — the paths a batch transaction
  writes, so no verb names a ``batch_id=N`` or tombstone subtree.

Every read answers "the latest version of each id over append-only
data" — the rule the reference gets from its dedup view over
``_<table>`` (bigquery/v04_00.py:619-666):

* :func:`tiers` — generation ∪ tail (``lo < batch_id <= hi``), both
  stamped ``m_batch``;
* :func:`drop_tombstoned` — a tombstone at batch T hides copies
  written at batches ≤ T;
* :func:`latest` — last write wins per id (:func:`latest_rows` keeps
  ALL rows of a key's newest batch, the postings rule);
* :func:`gc` — delete what the manifest no longer references.

The two store sides differ only in names (:data:`SIDES`): the vector
side (every vector kind) and the postings side, which can share one
store directory and one manifest (the hybrid stores).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class Side(NamedTuple):
    """One side's layout names — internal constants, not options."""

    upto: str           # manifest key: the fold point
    gen: str            # manifest key: the current generation dir
    tombs: str          # tombstone subtree
    key: str            # the id column
    subs: tuple         # batch subtrees folded into the generation
    gen_re: str         # generation dir names GC may reclaim


SIDES = {
    "vec": Side(
        "compacted_upto", "compacted_dir", "tombstones", "vec_id",
        ("data", "raw", "rawx"), r"gen_\w+",
    ),
    "postings": Side(
        "postings_upto", "postings_gen", "ptombstones", "doc_id",
        ("postings", "tstats", "cstats"), r"pgen_\d+",
    ),
}


# ---------------------------------------------------------------------------
# The manifest: one json file, swapped atomically
# ---------------------------------------------------------------------------

def read_serve_manifest(store: str) -> dict:
    """The serving store's ONE visibility fact: ``{"wm": N,
    "compacted_upto": M, "compacted_dir": name}`` (plus the postings
    and model fields) — a single json file swapped atomically, so a
    reader always sees a consistent (watermark, compaction) pair;
    flat stores simply never set the compaction fields.  Missing
    file = empty store.  Every transaction publishes through
    :func:`publish_visibility`; there is no other visibility file
    (session stores are rebuilt per application id, so no store
    written before the single-manifest layout survives)."""
    try:
        with open(os.path.join(store, "_manifest.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {"wm": -1, "compacted_upto": -1, "compacted_dir": None}


def read_serve_watermark(store: str) -> int:
    """Committed-batch high-watermark; −1 before any batch commits.
    A reader that filters ``batch_id <= read_serve_watermark(store)``
    can never observe a half-replaced subtree: the watermark only
    advances after the subtree write call has returned, and partition
    pruning means uncommitted ``batch_id`` directories are never even
    listed into the scan (their files — partial, mid-overwrite, or
    corrupt — are never opened; pinned in
    tests/test_serve_during_ingest.py with a deliberately corrupt
    file in an uncommitted subtree).  At 100 TB the same idiom is a
    manifest table / conditional put on the object store — the point
    is ONE tiny atomic publish gating visibility, exactly what the
    reference gets for free from BigQuery/Postgres snapshot reads
    (e.g. the dedup view over append-only ``_<table>``,
    bigquery/v04_00.py:619-666) and a raw parquet directory does
    not.  Compatibility reader over :func:`read_serve_manifest`."""
    return read_serve_manifest(store)["wm"]


def publish_visibility(store: str, **updates) -> None:
    """THE single visibility publish path — every transaction type
    (ingest, delete, compact, retrain) advances the store's one
    ``_manifest.json`` through this function, so no future verb can
    half-publish one of two files.

    Atomic read-modify-replace (temp file + os.replace — POSIX-atomic
    rename; at 100 TB, a manifest table / conditional put).  ``wm``
    and ``compacted_upto`` are MONOTONE — max(current, new) — so a
    replayed old transaction can only re-publish, never retreat;
    other keys (compacted_dir, centroid generations…) overwrite.

    TORN-REPLAY guard (ADVICE r13): a transaction that pairs a
    monotone fold point with overwrite fields (retrain:
    compacted_upto + centroids/centroid_gen/compacted_dir;
    compaction: postings_upto + postings_gen) is skipped WHOLESALE
    when it is strictly older than the manifest — per-key merging
    would otherwise retain the newer fold point while regressing the
    generation/centroids, and probes would skip the tail batches
    between the old fold and the kept fold point.  Equal values
    re-publish (idempotent replay of the same transaction).

    RETENTION (VERDICT r13 #9): while ``retain`` (set via
    :func:`set_store_retention`) is positive, any publish that
    advances a fold point first snapshots the WHOLE pre-fold manifest
    state into ``history`` with ``superseded_wm`` = the watermark at
    supersession.  A snapshot stays usable for ``retain`` watermarks
    (``superseded_wm > wm - retain``); probes resolve pre-fold
    ``as_of`` reads through it and GC protects the generation dirs
    and raw batch subtrees it still references.  Expired snapshots
    are trimmed here on the next fold (GC never writes the manifest).
    ``retain = 0`` (default) keeps today's exact behavior: no
    history, pre-fold snapshots unreconstructible the moment the
    fold publishes."""
    cur = read_serve_manifest(store)
    for k in ("compacted_upto", "postings_upto", "centroid_gen"):
        if k in updates and cur.get(k) is not None and (
            int(updates[k]) < int(cur[k])
        ):
            return
    retain = int(cur.get("retain", 0) or 0)
    advances_fold = any(
        k in updates
        and int(updates[k]) > int(cur.get(k) if cur.get(k) is not None else -1)
        for k in ("compacted_upto", "postings_upto")
    )
    if retain > 0 and advances_fold:
        snap = {k: v for k, v in cur.items() if k != "history"}
        snap["superseded_wm"] = max(
            int(cur.get("wm", -1)), int(updates.get("wm", -1))
        )
        live = [
            h
            for h in cur.get("history", [])
            if int(h.get("superseded_wm", -1)) > snap["superseded_wm"] - retain
        ]
        cur["history"] = live + [snap]
    for k, v in updates.items():
        if k in ("wm", "compacted_upto", "postings_upto"):
            cur[k] = max(cur.get(k, -1), v)
        else:
            cur[k] = v
    tmp = os.path.join(store, f"_manifest.tmp.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(cur, fh)
    os.replace(tmp, os.path.join(store, "_manifest.json"))


def set_store_retention(store: str, retain: int) -> None:
    """Set the store's time-travel horizon: pre-fold snapshots stay
    probeable (and their subtrees GC-protected) for ``retain``
    watermarks after a compaction/retrain supersedes them.  Takes
    effect on folds published AFTER the call — retention cannot
    resurrect a snapshot whose superseded copies are already gone."""
    commit(store, (), retain=int(retain))


def _asof_snapshot(man: dict, as_of: int) -> dict:
    """The manifest state that was CURRENT at watermark ``as_of``:
    the history snapshot with the smallest ``superseded_wm``
    strictly greater than ``as_of`` — each snapshot was live until
    the fold at its ``superseded_wm`` replaced it.  Callers reach
    here only when ``as_of`` predates the live fold point, so a
    missing or expired snapshot RAISES: the snapshot's superseded
    copies may already be GC'd, and a probe that answers from
    half-deleted state would be silently wrong — the one failure
    mode worse than refusing."""
    covering = sorted(
        (
            h
            for h in man.get("history", [])
            if int(h.get("superseded_wm", -1)) > as_of
        ),
        key=lambda h: int(h.get("superseded_wm", -1)),
    )
    retain = int(man.get("retain", 0) or 0)
    wm = int(man.get("wm", -1))
    if not covering:
        raise ValueError(
            f"as_of={as_of} predates the compacted point and no"
            f" retained snapshot covers it (retain={retain}): that"
            f" snapshot's superseded copies were folded away — set"
            f" retention (set_store_retention) BEFORE the fold you"
            f" need to travel across"
        )
    snap = covering[0]
    stale = int(snap["superseded_wm"]) <= wm - retain
    # The state current at as_of has every fold point ≤ as_of (a fold
    # can only cover committed batches).  If the minimal covering
    # snapshot folds PAST as_of, the true snapshot was already
    # trimmed — serving this one would read batches as_of never saw.
    for up_k in ("compacted_upto", "postings_upto"):
        v = snap.get(up_k)
        if v is not None and int(v) > as_of:
            stale = True
    if stale:
        raise ValueError(
            f"as_of={as_of} is past the retention horizon: its"
            f" snapshot was superseded at wm={snap['superseded_wm']}"
            f" and the store retains {retain} watermarks of history"
            f" (current wm={wm}) — raise retention"
            f" (set_store_retention) before the fold you need to"
            f" travel across"
        )
    return snap


def _retention_floors(man: dict, up_key: str, dir_key: str):
    """(batch-deletion floor, protected generation dirs) for GC under
    retention: every live history snapshot still serves probes from
    its generation dir plus the raw batches AFTER its fold point, so
    folded batches above the lowest live fold point — and the live
    dirs themselves — must survive this GC pass."""
    retain = int(man.get("retain", 0) or 0)
    wm = int(man.get("wm", -1))
    live = [
        h
        for h in man.get("history", [])
        if retain > 0 and int(h.get("superseded_wm", -1)) > wm - retain
    ]
    cur_upto = man.get(up_key, -1)
    cur_upto = -1 if cur_upto is None else int(cur_upto)
    floor = cur_upto
    keep_dirs = set()
    for h in live:
        h_upto = h.get(up_key, -1)
        h_upto = -1 if h_upto is None else int(h_upto)
        floor = min(floor, h_upto)
        if h.get(dir_key):
            keep_dirs.add(h[dir_key])
    return floor, keep_dirs


def fold_point(man: dict, side: str) -> int:
    """The side's fold point: −1 until a generation is published."""
    v = man.get(SIDES[side].upto)
    return -1 if v is None else int(v)


def layout(man: dict, side: str) -> tuple[int, str | None]:
    """(fold point, generation dir) of one side of a manifest state;
    the generation is None until a fold publishes one."""
    upto = fold_point(man, side)
    gen = man.get(SIDES[side].gen)
    return upto, (gen if gen and upto >= 0 else None)


def snapshot(man: dict, as_of: int | None, side: str) -> tuple[dict, int]:
    """(manifest state, watermark) a probe reads: the live manifest at
    its watermark, or — for ``as_of`` — the state current at that
    watermark.  At or after the side's fold point that is the live
    layout with a shortened tail (nothing in a committed prefix is
    mutated); before it, the retained history snapshot
    (:func:`_asof_snapshot`, which raises past the retention
    horizon).  The future is not readable."""
    wm = int(man["wm"])
    if as_of is None:
        return man, wm
    if as_of > wm:
        raise ValueError(
            f"as_of={as_of} exceeds the committed watermark {wm}:"
            f" uncommitted batches are not readable"
        )
    if as_of < fold_point(man, side):
        return _asof_snapshot(man, as_of), as_of
    return man, as_of


# ---------------------------------------------------------------------------
# Write: overwrite the subtrees, then one publish
# ---------------------------------------------------------------------------

def batch(sub: str, batch_id: int) -> str:
    """The path, under the store, of batch ``batch_id``'s ``sub``
    subtree."""
    return os.path.join(sub, f"batch_id={int(batch_id)}")


def tombstones(ids_df: DataFrame, side: str, batch_id: int) -> tuple:
    """The write of a tombstone set: ``ids_df``'s key column of the
    side, under the side's tombstone subtree at ``batch_id``."""
    s = SIDES[side]
    return ids_df.select(s.key), batch(s.tombs, batch_id), None


def _parallel_writes(*thunks) -> None:
    """Run one transaction's INDEPENDENT subtree writes as concurrent
    jobs (guide §2.6 "overlap independent jobs"): actions are only
    sequential because driver code calls them sequentially, and these
    micro-batch-bounded writes each leave most executor slots idle —
    overlapped, the txn's wall approaches max() of its writes instead
    of their sum.  All threads JOIN before returning (first exception
    re-raised), so the crash/replay contract is untouched: nothing is
    published until every subtree write completed, and a failed write
    still fails the txn before its manifest advance."""
    if len(thunks) <= 1:
        for t in thunks:
            t()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        for f in [pool.submit(t) for t in thunks]:
            f.result()


def write(store: str, writes) -> None:
    """Overwrite each ``(df, path under store, partition column or
    None)``; independent writes overlap (:func:`_parallel_writes`).
    Nothing becomes visible: that is :func:`commit`'s publish."""

    def _one(df, path, part):
        w = df.write.mode("overwrite")
        if part is not None:
            w = w.partitionBy(part)
        w.parquet(os.path.join(store, path))

    _parallel_writes(*[lambda w=w: _one(*w) for w in writes])


def commit(
    store: str, writes, fail_before_manifest: bool = False, **publish
) -> None:
    """THE write path of every store transaction: :func:`write` the
    ``writes``, then ONE :func:`publish_visibility` of ``publish``.  A
    crash anywhere before the publish leaves the store readable at
    its old manifest (the new subtrees exist but nothing references
    them); replaying the transaction overwrites the same paths and
    publishes — exactly-once at every crash point.
    ``fail_before_manifest`` injects that crash for tests.  With no
    writes, commit only publishes (a store's initial model).

    A write may overwrite a path its own plan reads — the replay of a
    published fold reads the generation it rewrites — only if the
    plan has a shuffle between the scan and the write (the folds'
    :func:`latest` / :func:`latest_rows`): without one, the overwrite
    deletes files the scan still has to open and the job fails with
    ``FAILED_READ_FILE.FILE_NOT_EXIST``."""
    write(store, writes)
    if fail_before_manifest:
        return
    os.makedirs(store, exist_ok=True)
    publish_visibility(store, **publish)


# ---------------------------------------------------------------------------
# Read: generation ∪ tail, minus tombstones, last write wins
# ---------------------------------------------------------------------------

def tiers(
    spark: SparkSession,
    store: str,
    sub: str,
    schema: str,
    cols,
    lo: int,
    hi: int,
    gen: str | None = None,
    pred=None,
    stamp: bool = True,
) -> DataFrame:
    """Generation ∪ tail of one batch subtree, as ``cols`` plus
    ``m_batch`` (the generation's ``src_batch``, the tail's
    ``batch_id``).

    ``schema`` names the subtree's columns WITHOUT the batch column;
    the tail is ``<store>/<sub>`` restricted to ``lo < batch_id <= hi``
    (no lower bound while ``lo < 0``: nothing is folded, and the plan
    carries no redundant conjunct), the generation is
    ``<store>/<gen>`` read whole.  ``pred`` — the caller's partition
    predicate (``c_id IN probed``, ``wb IN buckets``) — filters BOTH
    scans, so pruning lists only the probed directories of each tier.
    ``stamp=False`` reads stats partials whose generation copy has no
    batch column: both tiers then yield ``cols`` only.  With neither
    tier on disk the result is a typed empty frame."""
    out = [F.col(c) for c in cols]
    parts = []
    if gen:
        g = spark.read.schema(
            schema + (", src_batch bigint" if stamp else "")
        ).parquet(os.path.join(store, gen))
        if pred is not None:
            g = g.filter(pred)
        parts.append(
            g.select(*out, F.col("src_batch").alias("m_batch"))
            if stamp else g.select(*out)
        )
    tail_dir = os.path.join(store, sub)
    if os.path.isdir(tail_dir):
        window = F.col("batch_id") <= F.lit(hi)
        if lo >= 0:
            window = (F.col("batch_id") > F.lit(lo)) & window
        t = spark.read.schema(schema + ", batch_id bigint").parquet(
            tail_dir
        ).filter(window if pred is None else window & pred)
        parts.append(
            t.select(*out, F.col("batch_id").alias("m_batch"))
            if stamp else t.select(*out)
        )
    if not parts:
        empty = spark.createDataFrame([], schema)
        return empty.select(
            *out, *([F.lit(None).cast("bigint").alias("m_batch")]
                    if stamp else [])
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return merged


def drop_tombstoned(
    df: DataFrame, store: str, side: str, upto: int
) -> DataFrame:
    """THE tombstone rule, as one broadcast anti-join: a tombstone at
    batch T hides the copies written at batches ≤ T
    (``m_batch <= tomb_batch``); a LATER re-ingest is a new version
    and stays visible — which is also what makes a tombstone folded
    into a generation SPENT and GC-able, with no visibility
    discontinuity at the fold.  Tombstones with batch ≤ ``upto``
    apply.  No tombstone subtree = ``df`` unchanged, so a store's
    plans carry no anti-join until its first delete.

    Broadcast-sized by contract: deletes are request-scale (GDPR
    erasure, moderation), not corpus-scale — a corpus-scale delete is
    a rebuild."""
    s = SIDES[side]
    tdir = os.path.join(store, s.tombs)
    if not os.path.isdir(tdir):
        return df
    tomb = F.broadcast(
        df.sparkSession.read.schema(f"{s.key} long, batch_id bigint")
        .parquet(tdir)
        .filter(F.col("batch_id") <= F.lit(upto))
        .groupBy(F.col(s.key).alias("t_id"))
        .agg(F.max("batch_id").alias("tomb_batch"))
    )
    return df.join(
        tomb,
        on=[
            df[s.key] == tomb["t_id"],
            df["m_batch"] <= tomb["tomb_batch"],
        ],
        how="left_anti",
    )


def latest(df: DataFrame, key: str) -> DataFrame:
    """Last write wins: one row per ``key`` — ``max(m_batch)`` and,
    for every other column, its value at that batch (``max_by``).
    Probes and folds resolve with this SAME aggregate, so folding a
    generation never flips which copy of a re-ingested id is served.

    Bound: a probe's scan is pruned to PROBED clusters, so a
    re-ingest whose changed vector moved the id to an unprobed
    cluster can still surface the old copy there — exact upsert in
    an IVF store is tombstone-then-reinsert, the standard vector-DB
    contract."""
    return df.groupBy(key).agg(
        F.max("m_batch").alias("m_batch"),
        *[
            F.max_by(c, "m_batch").alias(c)
            for c in df.columns
            if c not in (key, "m_batch")
        ],
    )


def latest_rows(df: DataFrame, key: str) -> DataFrame:
    """Last write wins for keys with SEVERAL rows per version (a
    document's postings): keep ALL rows of each key's newest batch.
    Probes and the postings fold share it, for the same reason as
    :func:`latest`."""
    newest = F.max("m_batch").over(Window.partitionBy(key))
    return (
        df.withColumn("_mx", newest)
        .filter(F.col("m_batch") == F.col("_mx"))
        .drop("_mx")
    )


def visible(
    spark: SparkSession,
    store: str,
    sub: str,
    schema: str,
    cols,
    man: dict,
    wm: int,
    gen_sub: str | None = None,
    pred=None,
) -> DataFrame:
    """The vector side's read path: one row per ``vec_id`` of the
    state ``man`` at watermark ``wm`` — :func:`tiers` (generation
    subtree ``gen_sub``, if the generation nests one), then
    :func:`drop_tombstoned`, then :func:`latest`; as (vec_id,
    m_batch, *other cols)."""
    upto, gen = layout(man, "vec")
    if gen and gen_sub:
        gen = os.path.join(gen, gen_sub)
    rows = tiers(
        spark, store, sub, schema, cols, upto, wm, gen=gen, pred=pred
    )
    return latest(drop_tombstoned(rows, store, "vec", wm), "vec_id")


# ---------------------------------------------------------------------------
# GC: readers follow the manifest, cleaners follow the readers
# ---------------------------------------------------------------------------

def gc(store: str, side: str) -> list:
    """Delete what the manifest no longer references on one side:
    batch subtrees (and tombstones) at or below the fold point, and
    generation dirs other than the current one.  Returns the deleted
    paths, sorted.

    A folded tombstone is SPENT: its hidden copies are gone from the
    generation and every tail row postdates it.  Safe order: the
    manifest swap happened strictly before, so no reader planning a
    scan after the swap can list these directories; a reader that
    planned BEFORE the swap must finish before GC runs (production:
    a grace period of one max-query-duration).  A crash mid-GC just
    leaves garbage for the next run — GC never touches the manifest.

    Retention (VERDICT r13 #9): live history snapshots still serve
    pre-fold ``as_of`` probes, so their generation dirs — and every
    folded batch subtree and tombstone above the LOWEST live fold
    point — survive this pass (:func:`_retention_floors`)."""
    s = SIDES[side]
    man = read_serve_manifest(store)
    floor, keep_dirs = _retention_floors(man, s.upto, s.gen)
    deleted = []

    def _rm(path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        deleted.append(path)

    if fold_point(man, side) >= 0:
        for sub in s.subs + (s.tombs,):
            base = os.path.join(store, sub)
            if not os.path.isdir(base):
                continue
            for d in os.listdir(base):
                m = re.fullmatch(r"batch_id=(\d+)", d)
                if m and int(m.group(1)) <= floor:
                    _rm(os.path.join(base, d))
    current = man.get(s.gen)
    for d in os.listdir(store):
        if re.fullmatch(s.gen_re, d) and d != current and d not in keep_dirs:
            _rm(os.path.join(store, d))
    return sorted(deleted)
