"""Streaming window operators: watermarked windows + stateful sessions."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from kcidb_spark.streaming.windows import sessionize_stateful, windowed_counts

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_events(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    lines = [
        json.dumps(
            {
                "event_id": i,
                "ts": ts,
                "user_id": uid,
                "event_type": et,
                "value": v,
            }
        )
        for i, (ts, uid, et, v) in enumerate(rows)
    ]
    (path / "batch0.json").write_text("\n".join(lines))


EVENTS = [
    ("2024-01-01T00:05:00", 1, "click", 1.0),
    ("2024-01-01T00:20:00", 1, "view", 2.0),
    ("2024-01-01T01:10:00", 1, "click", 3.0),  # new hour, same session? gap 50m > 30m → new session
    ("2024-01-01T00:30:00", 2, "error", 4.5),
    ("2024-01-01T02:00:00", 2, "click", 0.5),
]


def test_windowed_counts_streaming_matches_batch(spark, tmp_path):
    indir = tmp_path / "ev"
    _write_events(indir, EVENTS)

    batch = spark.read.schema(SCHEMA).json(str(indir))
    expect = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_counts(batch).collect()
    }
    assert expect[("2024-01-01 00:00:00", "click")] == (1, 1.0)
    assert expect[("2024-01-01 02:00:00", "click")] == (1, 0.5)

    stream = spark.readStream.schema(SCHEMA).json(str(indir))
    q = (
        windowed_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == expect  # one code path, two execution modes


def test_sessionize_stateful(spark, tmp_path):
    indir = tmp_path / "ev2"
    _write_events(indir, EVENTS)
    stream = spark.readStream.schema(SCHEMA).json(str(indir))
    # trigger(once=True), not availableNow: with a processing-time
    # timeout the availableNow query keeps running no-data batches
    # and never terminates (see sessionize_stateful).
    q = (
        sessionize_stateful(stream, gap_minutes=30, timeout_ms=2000)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(once=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sessions ORDER BY user_id, session_start").collect()
    # Sessions closed by a later-than-gap event are always emitted;
    # still-open sessions may ALSO flush via the idle timeout before
    # the availableNow run drains — assert on the gap-closed ones.
    sessions = {
        (r["user_id"], r["session_start"]): r for r in rows
    }
    # user 1: events at 00:05/00:20 then 01:10 (50 min gap) → first
    # session closed with exactly 2 events.
    s = sessions[(1, datetime.datetime(2024, 1, 1, 0, 5))]
    assert s["n_events"] == 2
    assert s["event_types"] == ["click", "view"]
    assert s["session_end"] == datetime.datetime(2024, 1, 1, 0, 20)
    # user 2: 00:30 then 02:00 (90 min gap) → first session closed.
    s2 = sessions[(2, datetime.datetime(2024, 1, 1, 0, 30))]
    assert s2["n_events"] == 1
    assert s2["event_types"] == ["error"]
    # No duplicated session rows for the same (user, start).
    assert len(sessions) == len(rows)
    assert all(a.id != q.id for a in spark.streams.active)


def test_outer_join_early_drain_under_emits(spark):
    """The semantics users trip on (VERDICT r8 "Next round" #3): a
    LEFT-OUTER stream-stream join emits its null-padded rows only via
    watermark-driven state eviction, so a bounded drain WITHOUT a
    watermark advance past max event time yields strictly fewer rows
    — exactly the inner matches — while the sentinel-advanced drain
    equals the batch LEFT JOIN (the oracle gate pins that half)."""
    from kcidb_spark.queries.streaming_exec import _outer_join_drain

    sf = "/root/testdata/sf0.001"
    full = _outer_join_drain(spark, sf, advance_watermark=True)
    early = _outer_join_drain(spark, sf, advance_watermark=False)
    n_full, n_early = full.count(), early.count()
    assert n_early < n_full, (n_early, n_full)
    # What's missing is precisely null-padded rows from the final
    # ``delay + window`` event-time span: the engine's closing no-data
    # batch advances the watermark to max_ts − delay, which evicts
    # (and null-pads) every older unmatched view but must keep the
    # tail buffered — a match for those views could still arrive.
    # The matched (inner) rows are emitted eagerly and identically
    # either way; sentinel-advanced nulls are a strict superset.
    def split(df):
        rows = [tuple(r) for r in df.collect()]
        return (
            sorted(t for t in rows if t[1] is not None),
            {t for t in rows if t[1] is None},
        )

    full_matched, full_nulls = split(full)
    early_matched, early_nulls = split(early)
    assert early_matched == full_matched
    assert early_nulls < full_nulls, (len(early_nulls), len(full_nulls))


def test_ingest_cycle_replay_is_idempotent(spark, tmp_path):
    """T3's exactly-once claim for the index-backed ingest loop
    (t17): replaying an already-committed batch re-accepts NOTHING,
    because the batch's own fingerprints are now in the index — the
    probe is the dedup ledger.  A fresh later batch still flows."""
    from pyspark.sql import functions as F

    from kcidb_spark.operators.bucketing import write_fingerprint_index
    from kcidb_spark.queries.streaming_exec import ingest_dedup_batch

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    corpus = spark.createDataFrame(
        [("c1",), ("c2",)], "th string"
    )
    write_fingerprint_index(corpus, idx, key="th")
    batch = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "c1"), (4, "b")],
        "doc_id long, th string",
    )
    ingest_dedup_batch(batch, idx, out)
    first = sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    )
    # within-batch dedup kept min doc_id for 'a'; corpus dup dropped.
    assert first == [(1, "a"), (4, "b")]
    ingest_dedup_batch(batch, idx, out)  # replay: nothing re-accepted
    assert sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    ) == first
    later = spark.createDataFrame(
        [(9, "a"), (10, "z")], "doc_id long, th string"
    )
    ingest_dedup_batch(later, idx, out)  # 'a' already ingested
    assert sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    ) == first + [(10, "z")]


def test_ingest_cycle_null_fingerprint_is_a_key(spark, tmp_path):
    """NULL fingerprints dedup ACROSS batches like any other key (the
    t17 oracle's PARTITION BY th groups all nulls and accepts exactly
    one — ADVICE r9 found the pre-r10 index skipped nulls, so a
    null-th doc in two micro-batches was accepted twice).  The accept
    record carries th=NULL (sentinel unmapped), and replaying the
    null-bearing batch re-accepts nothing."""
    from kcidb_spark.operators.bucketing import write_fingerprint_index
    from kcidb_spark.queries.streaming_exec import ingest_dedup_batch

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    write_fingerprint_index(
        spark.createDataFrame([("c1",)], "th string"), idx, key="th"
    )
    b1 = spark.createDataFrame(
        [(5, None), (2, None), (3, "x")], "doc_id long, th string"
    )
    ingest_dedup_batch(b1, idx, out)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == [(2, None), (3, "x")]  # min doc_id for the null group
    b2 = spark.createDataFrame(
        [(9, None), (10, "y")], "doc_id long, th string"
    )
    ingest_dedup_batch(b2, idx, out)  # null already ingested by b1
    assert sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    ) == got + [(10, "y")]
    ingest_dedup_batch(b1, idx, out)  # replay: nothing re-accepted
    assert sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    ) == got + [(10, "y")]


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """T3 across RESTARTS: a second AvailableNow drain from the SAME
    checkpoint must process only files that arrived since the first
    drain (the source ledger lives in the checkpoint), and the
    complete-mode sink must equal the batch answer over everything —
    the recovery semantics a production ingest relies on after a
    deploy or crash."""
    indir = tmp_path / "ev"
    _write_events(indir, EVENTS[:3])

    def drain(qname):
        stream = spark.readStream.schema(SCHEMA).json(str(indir))
        q = (
            windowed_counts(stream)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        return [
            p if isinstance(p, dict) else json.loads(str(p))
            for p in (q.recentProgress or [])
        ]

    p1 = drain("restart_a")
    rows1 = sum(p["numInputRows"] for p in p1)
    assert rows1 == 3
    # New file lands while the query is DOWN.
    lines = [
        json.dumps({"event_id": 100 + i, "ts": ts, "user_id": uid,
                    "event_type": et, "value": v})
        for i, (ts, uid, et, v) in enumerate(EVENTS[3:])
    ]
    (indir / "batch1.json").write_text("\n".join(lines))
    p2 = drain("restart_b")
    rows2 = sum(p["numInputRows"] for p in p2)
    assert rows2 == len(EVENTS) - 3  # ONLY the new file's rows
    got = {
        (str(r["window_start"]), r["event_type"]): (
            r["n_events"], r["sum_value"],
        )
        for r in spark.table("restart_b").collect()
    }
    batch = spark.read.schema(SCHEMA).json(str(indir))
    expect = {
        (str(r["window_start"]), r["event_type"]): (
            r["n_events"], r["sum_value"],
        )
        for r in windowed_counts(batch).collect()
    }
    assert got == expect


def test_txn_ingest_survives_crash_between_writes(spark, tmp_path):
    """The crash window ingest_dedup_batch documents, closed: kill the
    transactional form between its two writes (simulated by deleting
    one of the batch-keyed dirs after a full run — the exact on-disk
    states a crash leaves) and replay; the accept set must come back
    identical, never doubled, never emptied."""
    import shutil

    from pyspark.sql import functions as F

    from kcidb_spark.operators.bucketing import write_fingerprint_index
    from kcidb_spark.queries.streaming_exec import ingest_dedup_batch_txn

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    write_fingerprint_index(
        spark.createDataFrame([("c1",), ("c2",)], "th string"),
        f"{idx}/batch_id=0",
        key="th",
    )
    b1 = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "c1"), (4, "b")],
        "doc_id long, th string",
    )
    b2 = spark.createDataFrame(
        [(9, "a"), (10, "z")], "doc_id long, th string"
    )

    def accepted():
        return sorted(
            (r["doc_id"], r["th"])
            for r in spark.read.parquet(out).collect()
        )

    ingest_dedup_batch_txn(b1, idx, out, 1)
    ingest_dedup_batch_txn(b2, idx, out, 2)
    want = [(1, "a"), (4, "b"), (10, "z")]
    assert accepted() == want

    # Crash A: batch 2 died after the accept write, before the
    # fingerprint write.  Replay must not double-accept.
    shutil.rmtree(f"{idx}/batch_id=2")
    ingest_dedup_batch_txn(b2, idx, out, 2)
    assert accepted() == want

    # Crash B: accept dir lost, fingerprints present (the state the
    # OLD append form turned into permanent data loss — its replay
    # found the batch's own fingerprints and accepted nothing).
    shutil.rmtree(f"{out}/batch_id=2")
    ingest_dedup_batch_txn(b2, idx, out, 2)
    assert accepted() == want

    # Replay with no crash at all: pure overwrite, same set.
    ingest_dedup_batch_txn(b1, idx, out, 1)
    assert accepted() == want

    # The probe really is partition-restricted: batch 1 cannot see
    # batch 2's fingerprints, so replaying batch 1 STILL accepts 'a'
    # (first-occurrence stays with the earliest batch, replay-stably).
    assert sorted(
        r["th"]
        for r in spark.read.parquet(idx)
        .filter(F.col("batch_id") == 1).collect()
    ) == ["a", "b"]


# ---------------------------------------------------------------------------
# r11: checkpoint RECOVERY on the RocksDB/changelog provider
# ---------------------------------------------------------------------------


class _scoped_rocksdb:
    """Scoped provider swap (the t18 idiom): providerClass is read at
    stream start, drains here are synchronous, so save/restore cannot
    race a query."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        from kcidb_spark.streaming import ROCKSDB_CONF

        self.saved = {
            k: self.spark.conf.get(k, None) for k in ROCKSDB_CONF
        }
        for k, v in ROCKSDB_CONF.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def test_checkpoint_restart_rocksdb_changelog(spark, tmp_path):
    """The heap restart test's semantics on the PRODUCTION provider
    (VERDICT r10 "Next round" #4): a second AvailableNow drain from
    the same checkpoint under RocksDB + changelog checkpointing must
    RESTORE the window state (snapshot + changelog replay), process
    only the files that arrived while the query was down, and land on
    the batch answer — the operational half of the provider-default
    claim."""
    indir = tmp_path / "ev"
    _write_events(indir, EVENTS[:3])

    def drain(qname):
        stream = spark.readStream.schema(SCHEMA).json(str(indir))
        q = (
            windowed_counts(stream)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        return [
            p if isinstance(p, dict) else json.loads(str(p))
            for p in (q.recentProgress or [])
        ]

    with _scoped_rocksdb(spark):
        p1 = drain("rocks_restart_a")
        assert sum(p["numInputRows"] for p in p1) == 3
        lines = [
            json.dumps({"event_id": 100 + i, "ts": ts, "user_id": uid,
                        "event_type": et, "value": v})
            for i, (ts, uid, et, v) in enumerate(EVENTS[3:])
        ]
        (indir / "batch1.json").write_text("\n".join(lines))
        p2 = drain("rocks_restart_b")
    assert sum(p["numInputRows"] for p in p2) == len(EVENTS) - 3
    # The drain really ran on RocksDB (provider echoed in progress).
    providers = {
        so.get("stateStoreCustomMetrics") is not None
        or "rocksdb" in json.dumps(so).lower()
        for p in p2 for so in p.get("stateOperators", [])
    }
    assert providers == {True}
    got = {
        (str(r["window_start"]), r["event_type"]): (
            r["n_events"], r["sum_value"],
        )
        for r in spark.table("rocks_restart_b").collect()
    }
    batch = spark.read.schema(SCHEMA).json(str(indir))
    expect = {
        (str(r["window_start"]), r["event_type"]): (
            r["n_events"], r["sum_value"],
        )
        for r in windowed_counts(batch).collect()
    }
    assert got == expect


def test_rocksdb_crash_midrun_changelog_replay(spark, tmp_path):
    """Kill a RocksDB/changelog stream MID-RUN (a foreachBatch bomb on
    the third micro-batch — deterministic, unlike stop()-racing) and
    restart from the checkpoint: the dedup state for the committed
    batches must come back via changelog replay, the bombed batch must
    re-run exactly once, and the final accept set must equal the batch
    DISTINCT — never doubled, never emptied."""
    import shutil

    indir = tmp_path / "ev"
    indir.mkdir(parents=True)
    # 4 single-file micro-batches with cross-batch duplicate user_ids.
    rows = [
        [(0, 1, "a"), (1, 2, "b")],
        [(2, 1, "a"), (3, 3, "c")],     # 1/a duplicates batch 0
        [(4, 2, "b"), (5, 4, "d")],     # 2/b duplicates batch 0
        [(6, 3, "c"), (7, 5, "e")],     # 3/c duplicates batch 1
    ]
    import time as _time

    now = _time.time()
    for b, batch in enumerate(rows):
        f = indir / f"b{b}.json"
        f.write_text("\n".join(
            json.dumps({"event_id": eid,
                        "ts": f"2024-01-01T0{b}:00:00",
                        "user_id": uid, "event_type": et, "value": 1.0})
            for eid, uid, et in batch
        ))
        _time.sleep(0.01)
        import os as _os
        _os.utime(f, (now - 40 + 10 * b, now - 40 + 10 * b))

    out = tmp_path / "out"
    bombed = tmp_path / "bombed_flag"

    def make_sink():
        def sink(df, epoch_id):
            if epoch_id == 2 and not bombed.exists():
                bombed.write_text("x")
                raise RuntimeError("injected crash before sink write")
            df.write.mode("overwrite").parquet(
                str(out / f"epoch={epoch_id}")
            )
        return sink

    def drive():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(indir))
        )
        dedup = stream.select("user_id", "event_type").dropDuplicates(
            ["user_id", "event_type"]
        )
        return (
            dedup.writeStream.foreachBatch(make_sink())
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    with _scoped_rocksdb(spark):
        q = drive()
        with pytest.raises(Exception):
            q.awaitTermination()
        assert bombed.exists()
        q2 = drive()          # restart: state restored from changelog
        q2.awaitTermination(180)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(out)).select(
            "user_id", "event_type"
        ).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]
    shutil.rmtree(out, ignore_errors=True)
