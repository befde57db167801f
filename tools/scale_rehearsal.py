#!/usr/bin/env python
"""Scale rehearsal: run the dedup family + pipeline_assemble_corpus at
~10× sf0.1 and record wall times plus per-query shuffle volume.

The point is to catch toy-scale illusions: a plan whose shuffle bytes
or peak partition size grows superlinearly between sf0.1 and 10× that
would not survive 100 TB.  Synthesized input replicates sf0.1
documents/embeddings K× with perturbed ids/text/vectors — same
distributions, K× the rows — written once to a temp dir and reused.

Usage:  python tools/scale_rehearsal.py [K] [out.json]

Shuffle metrics come from the local UI's REST API (enabled just for
this session): per-stage shuffle read/write bytes aggregated per
query via job groups.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "dedup_exact",
    "dedup_near_normalized",
    "minhash_signature",
    "lsh_candidate_pairs",
    "jaccard_verify_pairs",
    "jaccard_estimate_minhash",
    "simhash_hamming_pairs",
    "dedup_cluster_components",
    "split_leakage_safe",
    "t17_stream_incremental_dedup",
    "dedup_embedding_cosine",
    "semdedup_prune",
    "pipeline_clean_corpus",
    "pipeline_assemble_corpus",
]

BASE_SF = "/root/testdata/sf0.1"


def synthesize(spark, k: int, out_dir: str) -> None:
    """K× replication of sf0.1 with deterministic perturbation."""
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(out_dir, "_SYNTH_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    reps = spark.range(k).select(F.col("id").alias("rep"))

    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    n_docs = docs.count()
    (
        docs.crossJoin(reps)
        .withColumn(
            "text",
            # rep 0 keeps original text (preserves the near-dup
            # structure); other reps get a distinct suffix token so
            # replicas aren't trivial full-corpus duplicates.
            F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" rep"), F.col("rep"))
            ),
        )
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(n_docs)).alias("doc_id"),
            "text",
            "lang",
            "source",
            F.length("text").cast("long").alias("n_chars"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )

    emb = spark.read.parquet(os.path.join(BASE_SF, "embeddings.parquet"))
    n_emb = emb.count()
    (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(n_emb)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (
                    x
                    + (F.col("rep").cast("float") * (i.cast("float") + 1.0))
                    / F.lit(10000.0)
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )
    # The non-scaled tables pass through (queries resolve all tables
    # from one sf dir).
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"):
        spark.read.parquet(os.path.join(BASE_SF, f"{t}.parquet")) \
            .write.mode("overwrite") \
            .parquet(os.path.join(out_dir, f"{t}.parquet"))
    with open(os.path.join(out_dir, "_SYNTH_DONE"), "w") as f:
        f.write("ok")


def synthesize_skew(spark, k: int, out_dir: str) -> None:
    """K× replication of sf0.1 documents with a 90%-one-stratum key
    distribution: 90% of docs land in lang='en' AND source='web'
    (hash-assigned, deterministic), the rest spread over the original
    values.  This is the crawl-reality axis the volume/vocab
    rehearsals are blind to (VERDICT r9 "Next round" #1): a
    stratum-partitioned window puts 90% of the corpus in ONE task.
    """
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(out_dir, "_SYNTH_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    reps = spark.range(k).select(F.col("id").alias("rep"))
    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    n_docs = docs.count()
    h = F.pmod(F.xxhash64(F.col("doc_id"), F.lit("skew")), F.lit(10))
    (
        docs.crossJoin(reps)
        .withColumn(
            "text",
            F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" rep"), F.col("rep"))
            ),
        )
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(n_docs)).alias("doc_id"),
            "text",
            F.when(h < 9, F.lit("en")).otherwise(F.col("lang")).alias("lang"),
            F.when(h < 9, F.lit("web")).otherwise(F.col("source")).alias(
                "source"
            ),
            F.length("text").cast("long").alias("n_chars"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        spark.read.parquet(os.path.join(BASE_SF, f"{t}.parquet")) \
            .write.mode("overwrite") \
            .parquet(os.path.join(out_dir, f"{t}.parquet"))
    with open(os.path.join(out_dir, "_SYNTH_DONE"), "w") as f:
        f.write("ok")


def _max_task_metrics(ui: str, stage_ids) -> dict:
    """Per-task MAXIMA across the given stages (REST task summaries):
    the direct measurement behind 'no task sorts a whole stratum' —
    max shuffle-read records/bytes into any one task, plus spill."""
    app = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications")
    )[0]["id"]
    out = {"max_task_shuffle_read_mb": 0.0,
           "max_task_shuffle_read_records": 0,
           "max_task_spill_mb": 0.0}
    for sid in stage_ids:
        try:
            attempts = json.load(
                urllib.request.urlopen(
                    f"{ui}/api/v1/applications/{app}/stages/{sid}"
                    "?withSummaries=true&quantiles=1.0"
                )
            )
        except Exception:  # noqa: BLE001 — stage may have no tasks
            continue
        for a in attempts:
            d = a.get("taskMetricsDistributions")
            if not d:
                continue
            sr = d.get("shuffleReadMetrics", {})
            out["max_task_shuffle_read_mb"] = max(
                out["max_task_shuffle_read_mb"],
                round((sr.get("readBytes") or [0])[-1] / 2**20, 2),
            )
            out["max_task_shuffle_read_records"] = max(
                out["max_task_shuffle_read_records"],
                int((sr.get("readRecords") or [0])[-1]),
            )
            out["max_task_spill_mb"] = max(
                out["max_task_spill_mb"],
                round(
                    (d.get("diskBytesSpilled") or [0])[-1] / 2**20, 2
                ),
            )
    return out


def _stage_metrics(ui: str) -> dict[int, dict]:
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        )
    )
    return {
        s["stageId"]: {
            "shuffle_read": s.get("shuffleReadBytes", 0),
            "shuffle_write": s.get("shuffleWriteBytes", 0),
            "input": s.get("inputBytes", 0),
            "tasks": s.get("numCompleteTasks", 0),
        }
        for s in stages
    }


def _parse_bytes(s: str) -> float:
    units = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
             "TiB": 2**40}
    parts = s.strip().replace(",", "").split()
    if len(parts) == 2 and parts[1] in units:
        return float(parts[0]) * units[parts[1]]
    try:
        return float(parts[0])
    except ValueError:
        return 0.0


def _sql_executions(ui: str) -> list[dict]:
    app = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications")
    )[0]["id"]
    return json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/sql"
            "?details=true&planDescription=false&length=10000"
        )
    )


def _broadcast_stats(ui: str, seen_ids: set) -> dict:
    """Max BroadcastExchange size (rows / bytes) across SQL executions
    not in ``seen_ids`` — the direct measurement behind every 'this
    broadcast stays flat' claim (the stage REST metrics don't carry
    broadcast bytes; the SQL metrics do, as 'data size')."""
    n = rows_max = 0
    bytes_max = 0.0
    for e in _sql_executions(ui):
        if e["id"] in seen_ids:
            continue
        for node in e.get("nodes", []):
            if node.get("nodeName") != "BroadcastExchange":
                continue
            n += 1
            for m in node.get("metrics", []):
                if m["name"] == "data size":
                    bytes_max = max(bytes_max, _parse_bytes(m["value"]))
                elif m["name"] == "number of output rows":
                    rows_max = max(
                        rows_max, int(m["value"].replace(",", ""))
                    )
    return {
        "n_broadcasts": n,
        "max_rows": rows_max,
        "max_kib": round(bytes_max / 2**10, 1),
    }


def run(sf_dir: str, label: str, spark) -> dict:
    from kcidb_spark.cache import release_persisted
    from kcidb_spark.queries import REGISTRY

    ui = "http://127.0.0.1:4040"
    out = {}
    for name in QUERIES:
        before = _stage_metrics(ui)
        t0 = time.perf_counter()
        df = REGISTRY[name].spark(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        wall = round(time.perf_counter() - t0, 3)
        release_persisted()
        after = _stage_metrics(ui)
        new = {k: v for k, v in after.items() if k not in before}
        out[name] = {
            "wall_s": wall,
            "shuffle_write_mb": round(
                sum(v["shuffle_write"] for v in new.values()) / 2**20, 2
            ),
            "shuffle_read_mb": round(
                sum(v["shuffle_read"] for v in new.values()) / 2**20, 2
            ),
            "input_mb": round(
                sum(v["input"] for v in new.values()) / 2**20, 2
            ),
            "stages": len(new),
        }
        print(label, name, out[name], flush=True)
    return out


STREAM_QUERIES = [
    "t11_stream_tumbling",
    "t12_stream_dedup",
    "t13_stream_stream_join",
    "t14_stream_dedup_watermarked",
    "t15_stream_status_transitions",
    "t16_stream_outer_join",
]

SIMILARITY_QUERIES = [
    "knn_cosine_bruteforce",
    "ann_lsh_buckets",
    "ann_lsh_topk",
    "ann_lsh_multiprobe_topk",
    "ann_ivf_topk",
    "ann_ivf_nprobe_topk",
    "ivf_pq_adc_topk",
    "ivf_pq_adc_nprobe_topk",
    "pq_encode",
    "dedup_embedding_cosine",
    "vec_quantize_int8",
]

LM_QUERIES = [
    "lm_bigram_surprisal",
    "lm_surprisal_filter",
    "shard_global_shuffle",
    "unigram_encode_pieces",
    "dsir_importance_weights",
    "dsir_select_per_source",
]


def synthesize_streaming(spark, k: int, out_dir: str) -> None:
    """K× replication of sf0.1 events with offset event_ids, KEEPING
    ts/user_id/event_type distributions — key cardinality constant,
    volume K×, so per-key streaming state grows K× (the stress that
    matters for the state store).  Written as k part-files so
    maxFilesPerTrigger=1 yields k micro-batches: the 10× run
    exercises multi-batch state retention, not just a bigger batch.
    """
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(out_dir, "_SYNTH_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(os.path.join(BASE_SF, "events.parquet"))
    n = ev.count()
    reps = spark.range(k).select(F.col("id").alias("rep"))
    (
        ev.crossJoin(reps)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * F.lit(n))
        .drop("rep")
        .repartition(k, "event_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "events.parquet"))
    )
    with open(os.path.join(out_dir, "_SYNTH_DONE"), "w") as f:
        f.write("ok")


def synthesize_streaming_hot(spark, k: int, out_dir: str) -> None:
    """Like :func:`synthesize_streaming`, but with a HOT KEY: 90% of
    events (hash-chosen on event_id) are remapped to user_id=7 — the
    production shape where one flaky CI origin dominates the stream,
    so one state-store partition holds ~all the per-key state while
    the others idle (VERDICT r9 "Next round" #8: the uniform-key
    rehearsals are blind to this axis)."""
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(out_dir, "_SYNTH_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(os.path.join(BASE_SF, "events.parquet"))
    n = ev.count()
    reps = spark.range(k).select(F.col("id").alias("rep"))
    base = (
        ev.crossJoin(reps)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * F.lit(n))
        .drop("rep")
    )
    hot = F.pmod(F.xxhash64(F.col("event_id"), F.lit("hot")), F.lit(10)) < 9
    (
        base.withColumn(
            "user_id", F.when(hot, F.lit(7)).otherwise(F.col("user_id"))
        )
        .repartition(k, "event_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "events.parquet"))
    )
    with open(os.path.join(out_dir, "_SYNTH_DONE"), "w") as f:
        f.write("ok")


def synthesize_hot_docs(spark, k: int, out_dir: str) -> None:
    """K× documents where 90% (hash-chosen on doc_id) share ONE text —
    the hot-FINGERPRINT axis for the t17 ingest cycle: nearly every
    day-batch row collapses onto a single th, so the within-batch
    groupBy and the index probe both see one massive key group."""
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(out_dir, "_SYNTH_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    reps = spark.range(k).select(F.col("id").alias("rep"))
    docs = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
    n_docs = docs.count()
    hot = F.pmod(F.xxhash64(F.col("doc_id"), F.lit("hotdoc")), F.lit(10)) < 9
    (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(n_docs)).alias("doc_id"),
            F.when(hot, F.lit("the same boilerplate page every mirror serves"))
            .otherwise(
                F.concat(F.col("text"), F.lit(" rep"), F.col("rep"))
            )
            .alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        spark.read.parquet(os.path.join(BASE_SF, f"{t}.parquet")) \
            .write.mode("overwrite") \
            .parquet(os.path.join(out_dir, f"{t}.parquet"))
    with open(os.path.join(out_dir, "_SYNTH_DONE"), "w") as f:
        f.write("ok")


def run_streaming(sf_dir: str, label: str, spark, names=None) -> dict:
    """Drain the streaming entries and record wall, shuffle volume,
    and the state-store metrics of the drain (rows, memory, batch
    walls)."""
    from kcidb_spark.queries import REGISTRY, streaming_exec

    ui = "http://127.0.0.1:4040"
    out = {}
    for name in (names or STREAM_QUERIES):
        before = _stage_metrics(ui)
        t0 = time.perf_counter()
        df = REGISTRY[name].spark(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        wall = round(time.perf_counter() - t0, 3)
        after = _stage_metrics(ui)
        new = {s: v for s, v in after.items() if s not in before}
        progress = streaming_exec.LAST_PROGRESS.get(name, [])
        state_rows = state_mem = commit_ms = 0
        batch_walls = []
        for p in progress:
            batch_walls.append(p.get("batchDuration", 0) / 1000.0)
            for op in p.get("stateOperators", []) or []:
                state_rows = max(state_rows, op.get("numRowsTotal", 0))
                state_mem = max(state_mem, op.get("memoryUsedBytes", 0))
                commit_ms += op.get("commitTimeMs", 0)
        out[name] = {
            "wall_s": wall,
            "shuffle_write_mb": round(
                sum(v["shuffle_write"] for v in new.values()) / 2**20, 2
            ),
            "n_batches": len(progress),
            # Per-batch walls summarized (a 100-batch run would dump a
            # 100-element list): flatness shows as med ≈ max.
            "batch_wall_s": (
                {
                    "first": round(batch_walls[0], 2),
                    "med": round(sorted(batch_walls)[len(batch_walls) // 2], 2),
                    "max": round(max(batch_walls), 2),
                }
                if batch_walls
                else {}
            ),
            "state_rows_max": state_rows,
            "state_mb_max": round(state_mem / 2**20, 2),
            "commit_ms_total": commit_ms,
        }
        print(label, name, out[name], flush=True)
    return out


def run_recovery(sf_dir: str, label: str, spark, k: int) -> dict:
    """RocksDB/changelog checkpoint RECOVERY under a mid-run kill
    (VERDICT r10 "Next round" #4 — the unmeasured operational half of
    the provider-default claim): stream the k-file events dir through
    a big-state dedup (dropDuplicates on event_id — state rows =
    events seen, the 10M-row-class store), foreachBatch-bomb the run
    at batch k//2 (deterministic, first attempt only), then restart
    from the SAME checkpoint and drain to completion.  Records the
    pre-crash wall, the restart drain wall, and the first-batch-after-
    restart wall (which pays the RocksDB snapshot load + changelog
    replay for every state partition), and verifies the recovered
    accept count equals the batch DISTINCT — state neither doubled
    nor lost."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kcidb_spark.streaming import ROCKSDB_CONF

    ev_dir = os.path.join(sf_dir, "events.parquet")
    ckpt = tempfile.mkdtemp(prefix="recovery_ckpt_")
    bomb_flag = os.path.join(ckpt, "_bombed")
    bomb_at = max(1, k // 2)
    counts = {"rows": 0}

    def sink(df, epoch_id):
        if epoch_id == bomb_at and not os.path.exists(bomb_flag):
            with open(bomb_flag, "w") as f:
                f.write("x")
            raise RuntimeError("injected mid-run crash")
        counts["rows"] += df.count()

    def drive():
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(ev_dir)
        )
        dedup = stream.dropDuplicates(["event_id"])
        return (
            dedup.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    saved = {c: spark.conf.get(c, None) for c in ROCKSDB_CONF}
    for c, v in ROCKSDB_CONF.items():
        spark.conf.set(c, v)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        t0 = time.perf_counter()
        q1 = drive()
        try:
            q1.awaitTermination()
        except Exception:
            pass
        crash_wall = round(time.perf_counter() - t0, 3)
        batches_before = len(q1.recentProgress or [])

        t1 = time.perf_counter()
        q2 = drive()
        q2.awaitTermination()
        restart_wall = round(time.perf_counter() - t1, 3)
        prog2 = [
            p if isinstance(p, dict) else json.loads(str(p))
            for p in (q2.recentProgress or [])
        ]
    finally:
        for c, v in saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)

    batch_walls = [p.get("batchDuration", 0) / 1000.0 for p in prog2]
    state_rows = max(
        (
            op.get("numRowsTotal", 0)
            for p in prog2
            for op in p.get("stateOperators", []) or []
        ),
        default=0,
    )
    expect = (
        spark.read.schema("event_id long")
        .parquet(ev_dir)
        .select("event_id")
        .distinct()
        .count()
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    out = {
        "bomb_at_batch": bomb_at,
        "batches_before_crash": batches_before,
        "crash_phase_wall_s": crash_wall,
        "restart_drain_wall_s": restart_wall,
        "first_batch_after_restart_s": (
            round(batch_walls[0], 2) if batch_walls else None
        ),
        "batch_wall_med_s": (
            round(sorted(batch_walls)[len(batch_walls) // 2], 2)
            if batch_walls
            else None
        ),
        "state_rows_max": state_rows,
        "rows_emitted": counts["rows"],
        "rows_expected_distinct": expect,
        "recovered_exactly": counts["rows"] == expect,
    }
    print(label, "recovery", out, flush=True)
    return out


def domain_views(spark, n_checkouts: int):
    """A kcidb-domain object graph generated engine-side at any scale:
    n checkouts × 3 builds × 5 tests, 1 issue per 100 checkouts,
    incidents over 10%% of tests."""
    from pyspark.sql import functions as F

    c = n_checkouts
    checkouts = spark.range(c).select(
        F.concat(F.lit("o:c"), "id").alias("id"),
        F.lit("o").alias("origin"),
        F.sha1(F.col("id").cast("string")).alias("git_commit_hash"),
        F.lit("").alias("patchset_hash"),
        F.concat(F.lit("https://r/"), (F.col("id") % 7).cast("string"))
            .alias("git_repository_url"),
        F.concat(F.lit("b"), (F.col("id") % 3).cast("string"))
            .alias("git_repository_branch"),
    )
    builds = spark.range(3 * c).select(
        F.concat(F.lit("o:b"), "id").alias("id"),
        F.lit("o").alias("origin"),
        F.concat(F.lit("o:c"), (F.col("id") % c).cast("string"))
            .alias("checkout_id"),
        F.when(F.col("id") % 5 == 0, "FAIL").otherwise("PASS")
            .alias("status"),
        F.when(F.col("id") % 2 == 0, "x86_64").otherwise("arm64")
            .alias("architecture"),
    )
    tests = spark.range(15 * c).select(
        F.concat(F.lit("o:t"), "id").alias("id"),
        F.lit("o").alias("origin"),
        F.concat(F.lit("o:b"), (F.col("id") % (3 * c)).cast("string"))
            .alias("build_id"),
        F.concat(F.lit("suite."), (F.col("id") % 40).cast("string"))
            .alias("path"),
        F.when(F.col("id") % 7 == 0, "FAIL").otherwise("PASS")
            .alias("status"),
    )
    n_issues = max(1, c // 100)
    issues = spark.range(n_issues).select(
        F.concat(F.lit("o:i"), "id").alias("id"),
        F.lit("o").alias("origin"),
        F.lit(1).alias("version"),
    )
    incidents = spark.range(15 * c // 10).select(
        F.concat(F.lit("o:n"), "id").alias("id"),
        F.lit("o").alias("origin"),
        F.concat(F.lit("o:i"), (F.col("id") % n_issues).cast("string"))
            .alias("issue_id"),
        F.lit(1).alias("issue_version"),
        F.concat(F.lit("o:t"), (F.col("id") * 10 % (15 * c)).cast("string"))
            .alias("test_id"),
        F.lit(True).alias("present"),
    )
    from pyspark.sql import types as T

    from kcidb_spark.schema.types import SCHEMAS

    def conform(df, table):
        """Pad to the full stored schema (+_timestamp) with nulls —
        type_views wants every I/O column present."""
        cols = []
        for fld in SCHEMAS[table].fields:
            if fld.name in df.columns:
                cols.append(F.col(fld.name).cast(fld.dataType))
            else:
                cols.append(F.lit(None).cast(fld.dataType).alias(fld.name))
        cols.append(
            F.lit("2024-01-01 00:00:00").cast(T.TimestampType())
            .alias("_timestamp")
        )
        return df.select(*cols)

    return {
        t: conform(df, t)
        for t, df in (
            ("checkouts", checkouts), ("builds", builds), ("tests", tests),
            ("issues", issues), ("incidents", incidents),
        )
    }


CLOSURE_PATTERNS = [
    # id-rooted downward chain
    '>checkout["o:c1";"o:c2";"o:c3"]>build#>test#',
    # star descendants of a build slice
    '>build["o:b1";"o:b2"]>*#',
    # upward closure: tests → roots
    '>test["o:t7";"o:t8"]<*$',
    # incident → issue walk
    '>incident["o:n1"]<issue_version<issue#',
]


def run_closure(spark, n_checkouts: int, label: str) -> dict:
    """Compile the pattern chains over the generated domain graph at
    the given scale; record wall + shuffle per pattern."""
    from kcidb_spark.orm.compiler import compile_patterns
    from kcidb_spark.orm.pattern import parse_pattern
    from kcidb_spark.orm.types import type_views

    ui = "http://127.0.0.1:4040"
    views = type_views(domain_views(spark, n_checkouts))
    out = {}
    for pat_str in CLOSURE_PATTERNS:
        before = _stage_metrics(ui)
        t0 = time.perf_counter()
        pats = parse_pattern(pat_str)
        result = compile_patterns(spark, views, pats)
        rows = sum(df.count() for df in result.values())
        wall = round(time.perf_counter() - t0, 3)
        after = _stage_metrics(ui)
        new = {s: v for s, v in after.items() if s not in before}
        out[pat_str] = {
            "wall_s": wall,
            "rows": rows,
            "shuffle_write_mb": round(
                sum(v["shuffle_write"] for v in new.values()) / 2**20, 2
            ),
        }
        print(label, pat_str, out[pat_str], flush=True)
    return out


def _ratios(base: dict, scaled: dict, keys) -> dict:
    return {
        name: {
            "wall": round(
                scaled[name]["wall_s"] / max(base[name]["wall_s"], 1e-9), 2
            ),
            "shuffle_write": round(
                scaled[name]["shuffle_write_mb"]
                / max(base[name]["shuffle_write_mb"], 1e-9),
                2,
            ),
        }
        for name in keys
    }


def run_queries(sf_dir: str, label: str, spark, names) -> dict:
    """Generic wall+shuffle runner over registry names (the dedup
    suite's run() with a caller-chosen list)."""
    from kcidb_spark.cache import release_persisted
    from kcidb_spark.queries import REGISTRY

    ui = "http://127.0.0.1:4040"
    out = {}
    for name in names:
        before = _stage_metrics(ui)
        t0 = time.perf_counter()
        REGISTRY[name].spark(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        wall = round(time.perf_counter() - t0, 3)
        release_persisted()
        after = _stage_metrics(ui)
        new = {k: v for k, v in after.items() if k not in before}
        out[name] = {
            "wall_s": wall,
            "shuffle_write_mb": round(
                sum(v["shuffle_write"] for v in new.values()) / 2**20, 2
            ),
            "input_mb": round(
                sum(v["input"] for v in new.values()) / 2**20, 2
            ),
        }
        print(label, name, out[name], flush=True)
    return out



def run_postings_probe(spark, k: int, scaled_dir: str) -> dict:
    """Isolated postings-probe walls: ONE store per corpus size (all
    docs in one committed batch), the SAME single-query workload
    (base doc 0's text — identical at both sizes because replication
    keeps rep-0 text), probed uncapped and with ``df_cap`` — walls
    and shuffle from min-of-2 runs."""
    import shutil
    import tempfile

    from kcidb_spark.queries.streaming_exec import (
        ingest_postings_batch_txn,
        probe_postings_bm25,
    )

    ui = "http://127.0.0.1:4040"
    qdoc = (
        spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
        .filter("doc_id = 0")
        .select("doc_id", "text")
        .cache()
    )
    qdoc.count()
    out = {}
    for label, sf_dir in (("base", BASE_SF), (f"{k}x", scaled_dir)):
        store = tempfile.mkdtemp(prefix=f"lexreh_{label}_")
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "text")
        ingest_postings_batch_txn(docs, store, 0)
        for cap_label, cap in (("uncapped", None), ("df_cap_100", 100)):
            walls = []
            before = _stage_metrics(ui)
            for _ in range(2):
                t0 = time.perf_counter()
                probe_postings_bm25(
                    qdoc, store, 5, df_cap=cap
                ).write.mode("overwrite").format("noop").save()
                walls.append(round(time.perf_counter() - t0, 3))
            after = _stage_metrics(ui)
            new = {s: v for s, v in after.items() if s not in before}
            out[f"{label}.{cap_label}"] = {
                "wall_s": min(walls),
                "shuffle_write_mb": round(
                    sum(v["shuffle_write"] for v in new.values())
                    / 2**20, 2
                ),
                "input_mb": round(
                    sum(v["input"] for v in new.values()) / 2**20, 2
                ),
            }
            print("probe", label, cap_label, out[f"{label}.{cap_label}"],
                  flush=True)
        shutil.rmtree(store, ignore_errors=True)
    qdoc.unpersist()
    return out


def run_hybrid_split(sf_dir: str, label: str, spark,
                     n_batches: int = 6, n_probe_epochs: int = 8) -> dict:
    """SPLIT-STREAM hybrid rehearsal (VERDICT r13 "Next round" #10):
    the production shape SCALE.md r13 claimed but never measured —
    the INGEST stream and the PROBE stream run as two CONCURRENT
    Structured Streaming queries against ONE hybrid store.  The
    ingest stream moves the corpus (linear volume: postings + vector
    subtrees + one manifest publish per epoch); the probe stream runs
    a FIXED-SIZE hybrid probe (BM25 leg + IVF leg) on its own trigger
    cadence, reading whatever manifest snapshot is current.  The
    claim under test: probe-epoch walls stay FLAT while the ingest
    stream's per-epoch volume scales with the corpus — the probe's
    cost is bounded by partition pruning + broadcast statistics, not
    by store size."""
    import shutil
    import tempfile
    import uuid as _uuid

    from pyspark.sql import functions as F

    from kcidb_spark.operators.similarity import dot_expr
    from kcidb_spark.queries.advanced import _IVF_CENTROIDS
    from kcidb_spark.queries.streaming_exec import (
        ingest_hybrid_batch_txn,
        probe_postings_bm25,
        probe_tiered_topk,
        read_serve_manifest,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    vecs = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["v"]], float(r["nrm"]))
        for r in vecs.filter(F.col("vec_id") < _IVF_CENTROIDS)
        .withColumn("nrm", F.expr(f"sqrt({dot_expr('v', 'v')})"))
        .collect()
    ]
    both = docs.join(vecs.withColumnRenamed("vec_id", "doc_id"), on="doc_id")

    root = tempfile.mkdtemp(prefix=f"hybsplit_{label}_")
    ingest_watch = os.path.join(root, "ingest_in")
    probe_watch = os.path.join(root, "probe_in")
    store = os.path.join(root, "store")
    os.makedirs(ingest_watch)
    os.makedirs(probe_watch)

    # Stage the corpus as n_batches single-part files and a fixed
    # 8-query probe workload (base doc ids — identical at every K
    # because replication keeps rep-0 rows).
    stage = os.path.join(root, "stage")
    both.withColumn(
        "_g", (F.col("doc_id") % n_batches).cast("int")
    ).coalesce(1).write.partitionBy("_g").parquet(
        os.path.join(stage, "ingest")
    )
    both.filter(F.col("doc_id") < 8).coalesce(1).write.parquet(
        os.path.join(stage, "probe")
    )
    import glob as _glob

    probe_part = _glob.glob(
        os.path.join(stage, "probe", "part-*.parquet")
    )[0]
    for i in range(n_batches):
        part = _glob.glob(
            os.path.join(stage, "ingest", f"_g={i}", "part-*.parquet")
        )[0]
        shutil.copyfile(
            part, os.path.join(ingest_watch, f"{i:02d}.parquet")
        )

    ingest_walls, probe_epochs = [], []
    probe_ticks = {"n": 0}

    def handle_ingest(batch_df, epoch_id):
        t0 = time.perf_counter()
        n = batch_df.count()
        ingest_hybrid_batch_txn(
            batch_df.select("doc_id", "text"),
            batch_df.select(F.col("doc_id").alias("vec_id"), "v"),
            store, int(epoch_id), cents,
        )
        ingest_walls.append(
            {"epoch": int(epoch_id), "rows": n,
             "wall_s": round(time.perf_counter() - t0, 3)}
        )

    def handle_probe(batch_df, epoch_id):
        probe_ticks["n"] += 1
        man = read_serve_manifest(store)
        if man.get("wm", -1) < 0:
            return  # store not yet routable — skip this tick
        t0 = time.perf_counter()
        lex = probe_postings_bm25(
            batch_df.select("doc_id", "text"), store, 10, df_cap=200
        )
        sem = probe_tiered_topk(
            batch_df.select(F.col("doc_id").alias("vec_id"), "v"),
            store, cents, 10,
        )
        n = lex.count() + sem.count()
        probe_epochs.append(
            {"epoch": int(epoch_id), "wm": int(man["wm"]), "rows": n,
             "wall_s": round(time.perf_counter() - t0, 3)}
        )

    schema = "doc_id long, text string, v array<double>"
    q_ingest = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ingest_watch)
        .writeStream.foreachBatch(handle_ingest)
        .option(
            "checkpointLocation", os.path.join(root, "ckpt_ingest")
        )
        .trigger(processingTime="500 milliseconds")
        .queryName(f"hybsplit_ingest_{_uuid.uuid4().hex[:6]}")
        .start()
    )
    q_probe = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(probe_watch)
        .writeStream.foreachBatch(handle_probe)
        .option(
            "checkpointLocation", os.path.join(root, "ckpt_probe")
        )
        .trigger(processingTime="500 milliseconds")
        .queryName(f"hybsplit_probe_{_uuid.uuid4().hex[:6]}")
        .start()
    )
    try:
        # Pace the probe workload from the driver: one probe file per
        # tick, so probe epochs SPREAD across the ingest timeline
        # instead of draining before the first commit.
        deadline = time.time() + 1800
        dropped = 0
        while time.time() < deadline:
            # Drop the next probe file only once the store is
            # routable (first ingest committed) — otherwise the probe
            # stream drains every file as a skip before wm=0 exists.
            if (
                dropped < n_probe_epochs
                and read_serve_manifest(store).get("wm", -1) >= 0
            ):
                shutil.copyfile(
                    probe_part,
                    os.path.join(probe_watch, f"{dropped:02d}.parquet"),
                )
                dropped += 1
            if (
                len(ingest_walls) >= n_batches
                and dropped >= n_probe_epochs
                and probe_ticks["n"] >= dropped
            ):
                break
            # A dead stream can never satisfy its count — exit with
            # what was recorded (its exception is reported below).
            if not q_probe.isActive and len(ingest_walls) >= n_batches:
                break
            if not q_ingest.isActive and not q_probe.isActive:
                break
            time.sleep(1.5)
    finally:
        stream_errors = []
        for q in (q_ingest, q_probe):
            try:
                if q.exception() is not None:
                    stream_errors.append(str(q.exception())[:300])
            except Exception:
                pass
            q.stop()
        q_ingest.awaitTermination(60)
        q_probe.awaitTermination(60)

    pw = sorted(p["wall_s"] for p in probe_epochs) or [0.0]
    iw = sorted(i["wall_s"] for i in ingest_walls) or [0.0]
    out = {
        "ingest_epochs": ingest_walls,
        "probe_epochs": probe_epochs,
        "ingest_rows_total": sum(i["rows"] for i in ingest_walls),
        "ingest_wall_med": iw[len(iw) // 2],
        "ingest_wall_max": iw[-1],
        "probe_wall_med": pw[len(pw) // 2],
        "probe_wall_max": pw[-1],
        "probes_concurrent_with_ingest": sum(
            1 for p in probe_epochs
            if p["wm"] < max((i["epoch"] for i in ingest_walls), default=0)
        ),
        "stream_errors": stream_errors,
    }
    print(label, "hybridsplit", {
        k: v for k, v in out.items()
        if k not in ("ingest_epochs", "probe_epochs")
    }, flush=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


def synthesize_rich_corpus(spark, out_dir: str, n_words: int = 100_000,
                           freq_top: int = 2_000,
                           langs: tuple = ("xx",)) -> None:
    """Zipf corpus with ``n_words`` DISTINCT words — the trainer
    envelope the replicated sf0.1 corpus cannot provide (its word
    table saturates deep BPE at 134 rules; SCALE.md r7).  Word ``r``
    is the first 10 hex chars of md5(r) — a 16-letter alphabet with
    dense 2-gram reuse across distinct words, so pair counts stay
    above min_pair_freq for thousands of merges — with Zipf-ish
    frequency ceil(freq_top / r).  Assembled into ~200-word documents
    so the trainers run their real corpus path (normalize → tokenize
    → word table), not a pre-cooked table."""
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(out_dir, "_SYNTH_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    toks = (
        spark.range(1, n_words + 1)
        .select(
            F.substring(F.md5(F.col("id").cast("string")), 1, 10)
            .alias("word"),
            F.explode(
                F.expr(f"sequence(1, int(ceil({freq_top} / id)))")
            ).alias("copy"),
        )
    )
    (
        toks.withColumn(
            "doc_id",
            (F.abs(F.hash("word", "copy")) % F.lit(n_words // 100))
            .cast("long"),
        )
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("word")).alias("text"))
        .select(
            "doc_id", "text",
            F.element_at(
                F.array(*[F.lit(lg) for lg in langs]),
                (F.col("doc_id") % len(langs) + 1).cast("int"),
            ).alias("lang"),
            F.lit("synth").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )
    open(os.path.join(out_dir, "_SYNTH_DONE"), "w").close()


def main() -> None:
    suite = "dedup"
    args = [a for a in sys.argv[1:]]
    if args and args[0] in ("dedup", "streaming", "closure", "similarity",
                            "bpe", "tokenizer", "sketch", "lm", "vocab",
                            "skew", "hotkey", "recovery", "serve",
                            "lexical", "hybridsplit"):
        suite = args.pop(0)
    k = int(args[0]) if args else 10
    out_path = args[1] if len(args) > 1 else f"/tmp/scale_rehearsal_{suite}.json"

    from kcidb_spark.session import get_spark

    spark = get_spark(
        app_name="scale_rehearsal",
        # -Xss: the hybridsplit probe stream's microbatch planner hit
        # a deep regex-backtracking stack on default 1m thread stacks
        # (JDK Pattern.match recursion inside the stream execution
        # thread); 32m heads it off for every suite.
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.driver.extraJavaOptions": "-Xss32m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if suite == "dedup":
        scaled_dir = f"/tmp/kcidb_scale/sf{k}x"
        synthesize(spark, k, scaled_dir)
        result = {
            "k": k,
            "base": run(BASE_SF, "sf0.1", spark),
            "scaled": run(scaled_dir, f"{k}x", spark),
        }
        result["ratios"] = _ratios(result["base"], result["scaled"], QUERIES)
    elif suite == "streaming":
        from kcidb_spark.streaming import ROCKSDB_CONF

        scaled_dir = f"/tmp/kcidb_scale/stream{k}x"
        synthesize_streaming(spark, k, scaled_dir)
        # t17 streams the documents table — its scaled input is the
        # dedup suite's synthesized corpus, not the events dir.
        docs_dir = f"/tmp/kcidb_scale/sf{k}x"
        synthesize(spark, k, docs_dir)
        t17 = ["t17_stream_incremental_dedup"]
        result = {
            "k": k,
            "base": run_streaming(BASE_SF, "sf0.1", spark),
            "scaled": run_streaming(scaled_dir, f"{k}x", spark),
        }
        result["scaled"].update(run_streaming(docs_dir, f"{k}x", spark, t17))
        result["ratios"] = _ratios(
            result["base"], result["scaled"], STREAM_QUERIES
        )
        # Same scaled volume under the RocksDB provider (WITH changelog
        # checkpointing — see ROCKSDB_CONF): state size, commit
        # overhead, per-batch walls for the off-heap path.
        for key, val in ROCKSDB_CONF.items():
            spark.conf.set(key, val)
        try:
            result["scaled_rocksdb"] = run_streaming(
                scaled_dir, f"{k}x-rocksdb", spark
            )
            result["scaled_rocksdb"].update(
                run_streaming(docs_dir, f"{k}x-rocksdb", spark, t17)
            )
        finally:
            for key in ROCKSDB_CONF:
                spark.conf.unset(key)
    elif suite == "hotkey":
        # HOT-KEY streaming rehearsal (VERDICT r9 "Next round" #8):
        # 90% of events on ONE user (t15's state key / the join key)
        # and 90% of ingested docs on ONE fingerprint (t17) — the
        # skewed-distribution rows the uniform-key runs cannot see.
        # Per-batch med vs max wall is the reported signal: a hot
        # state partition shows up as max >> med.
        hot_ev_dir = f"/tmp/kcidb_scale/hotstream{k}x"
        synthesize_streaming_hot(spark, k, hot_ev_dir)
        hot_doc_dir = f"/tmp/kcidb_scale/hotdocs{k}x"
        synthesize_hot_docs(spark, k, hot_doc_dir)
        hot_queries = ["t15_stream_status_transitions"]
        result = {
            "k": k,
            "hot_events": run_streaming(
                hot_ev_dir, f"hot{k}x", spark, hot_queries
            ),
            "hot_docs": run_streaming(
                hot_doc_dir, f"hotdocs{k}x", spark,
                ["t17_stream_incremental_dedup"],
            ),
        }
        result["ratios"] = {}
    elif suite == "recovery":
        # RocksDB/changelog checkpoint recovery under a mid-run kill
        # (VERDICT r10 "Next round" #4): big-state dedup stream over
        # the k-file events dir, bombed at batch k//2, restarted from
        # the same checkpoint; records restore wall + changelog-replay
        # cost and verifies exactly-once recovery.
        scaled_dir = f"/tmp/kcidb_scale/stream{k}x"
        synthesize_streaming(spark, k, scaled_dir)
        result = {
            "k": k,
            "recovery": run_recovery(scaled_dir, f"rec{k}x", spark, k),
        }
        result["ratios"] = {}
    elif suite == "serve":
        # SERVE-TIER rehearsal (round 12): the t19/t20/t21 family +
        # compaction on a Kx embeddings corpus — per-batch walls
        # (interleaving must not make ingest or probe batches grow
        # with the store beyond the committed-data scan), shuffle
        # volume, and the usual base-vs-scaled ratios.
        names = [
            "t21_stream_serve_during_ingest",
            "t22_stream_compact_while_serving",
            "t20_stream_ivf_ingest",
            "t19_store_build",
            "t19_stream_ann_probe",
            "ivf_store_compact",
        ]
        scaled_dir = f"/tmp/kcidb_scale/sf{k}x"
        synthesize(spark, k, scaled_dir)
        result = {
            "k": k,
            "base": run_streaming(BASE_SF, "sf0.1", spark, names),
            "scaled": run_streaming(scaled_dir, f"{k}x", spark, names),
        }
        result["ratios"] = _ratios(result["base"], result["scaled"], names)
    elif suite == "lexical":
        # LEXICAL-SERVE rehearsal (round 13): t23/hybrid/retrain walls
        # base-vs-Kx, plus the isolated postings PROBE wall — uncapped
        # (every replicated-corpus term is stop-word-grade, so the
        # probe's posting volume is the worst case and grows with the
        # corpus) vs df-capped (the production posture: heavy terms
        # elided before any posting row moves — the wall must go
        # FLAT).
        names_stream = ["t23_stream_postings_serve"]
        names_batch = ["hybrid_serve_as_of", "ivf_store_retrain"]
        scaled_dir = f"/tmp/kcidb_scale/sf{k}x"
        synthesize(spark, k, scaled_dir)
        base = run_streaming(BASE_SF, "sf0.1", spark, names_stream)
        base.update(run_queries(BASE_SF, "sf0.1", spark, names_batch))
        scaled = run_streaming(scaled_dir, f"{k}x", spark, names_stream)
        scaled.update(
            run_queries(scaled_dir, f"{k}x", spark, names_batch)
        )
        result = {
            "k": k,
            "base": base,
            "scaled": scaled,
            "probe_isolation": run_postings_probe(
                spark, k, scaled_dir
            ),
        }
        result["ratios"] = _ratios(
            base, scaled, names_stream + names_batch
        )
    elif suite == "hybridsplit":
        # SPLIT-STREAM hybrid rehearsal (VERDICT r13 "Next round"
        # #10): ingest and probe as two concurrent streams against
        # one store — probe walls must stay flat while ingest volume
        # scales K×.
        scaled_dir = f"/tmp/kcidb_scale/sf{k}x"
        synthesize(spark, k, scaled_dir)
        result = {
            "k": k,
            "base": run_hybrid_split(BASE_SF, "sf0.1", spark),
            "scaled": run_hybrid_split(scaled_dir, f"{k}x", spark),
        }
        b, s = result["base"], result["scaled"]
        result["ratios"] = {
            "probe_wall_med": round(
                s["probe_wall_med"] / max(b["probe_wall_med"], 1e-9), 2
            ),
            "ingest_wall_med": round(
                s["ingest_wall_med"] / max(b["ingest_wall_med"], 1e-9), 2
            ),
            "ingest_rows": round(
                s["ingest_rows_total"] / max(b["ingest_rows_total"], 1), 2
            ),
        }
    elif suite == "skew":
        # SKEW rehearsal (VERDICT r9 "Next round" #1 done-criterion):
        # one stratum holds 90% of a Kx corpus; the six selection
        # gates must keep max-task input bounded (~|stratum|/P, not
        # |stratum|).  A NAIVE single-window contrast on the cheapest
        # gate (rank by n_chars) measures what the old shape would
        # have funneled into one task on the same data.
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from kcidb_spark.cache import release_persisted
        from kcidb_spark.queries import REGISTRY

        ui = "http://127.0.0.1:4040"
        skew_queries = [
            "quality_percentile_filter",
            "lm_surprisal_filter",
            "dsir_select_per_source",
            "dsir_gumbel_sample",
            "pipeline_select_corpus",
            "pipeline_assemble_corpus",
        ]
        scaled_dir = f"/tmp/kcidb_scale/skew{k}x"
        synthesize_skew(spark, k, scaled_dir)
        docs = spark.read.parquet(
            os.path.join(scaled_dir, "documents.parquet")
        )
        strata = {
            r["lang"]: r["n"]
            for r in docs.groupBy("lang").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        result = {"k": k, "strata_docs": strata, "per_query": {}}
        for name in skew_queries:
            before = _stage_metrics(ui)
            t0 = time.perf_counter()
            REGISTRY[name].spark(spark, scaled_dir).write.mode(
                "overwrite"
            ).format("noop").save()
            wall = round(time.perf_counter() - t0, 2)
            release_persisted()
            after = _stage_metrics(ui)
            new_ids = [s for s in after if s not in before]
            row = {"wall_s": wall, **_max_task_metrics(ui, new_ids)}
            result["per_query"][name] = row
            print("skew", name, row, flush=True)
        # Naive contrast: the pre-r10 single-window rank on the same
        # skewed corpus — expect max-task records ≈ 90% of the corpus.
        before = _stage_metrics(ui)
        t0 = time.perf_counter()
        w_rank = W.partitionBy("lang").orderBy("n_chars", "doc_id")
        w_all = W.partitionBy("lang")
        (
            docs.select(
                "doc_id", "lang", "n_chars",
                F.row_number().over(w_rank).cast("long").alias("rk"),
                F.count(F.lit(1)).over(w_all).alias("cnt"),
            )
            .filter(F.col("rk") > F.floor(F.col("cnt") / 4))
            .write.mode("overwrite").format("noop").save()
        )
        wall = round(time.perf_counter() - t0, 2)
        after = _stage_metrics(ui)
        new_ids = [s for s in after if s not in before]
        result["naive_single_window"] = {
            "wall_s": wall, **_max_task_metrics(ui, new_ids)
        }
        print("skew naive_single_window",
              result["naive_single_window"], flush=True)
        result["ratios"] = {}
    elif suite == "vocab":
        # VOCABULARY-growth rehearsal (VERDICT r8 "Next round" #5):
        # volume replication holds distinct-token count constant — the
        # blind axis that hid the r8 unpruned-unigram broadcast.  Here
        # the corpus grows in DISTINCT tokens per decade (1e5 → 1e6 →
        # 1e7 via the Zipf synthesizer, two languages so the
        # per-language fit is exercised) while every LM/DSIR model
        # broadcast must stay configuration-bounded: the measurement
        # is the max BroadcastExchange 'data size' per query per
        # decade, straight from the SQL metrics.
        from kcidb_spark.cache import release_persisted
        from kcidb_spark.queries import REGISTRY
        from kcidb_spark.queries.pipeline import _norm_text

        from pyspark.sql import functions as F

        ui = "http://127.0.0.1:4040"
        vocab_queries = [
            "lm_bigram_surprisal",
            "dsir_importance_weights",
            "dsir_gumbel_sample",
        ]
        decades = [100_000, 1_000_000, 10_000_000]
        if k != 10:  # optional CLI cap, e.g. `vocab 6` stops at 1e6
            decades = [d for d in decades if d <= 10**k]
        result = {"queries": vocab_queries, "decades": []}
        for n in decades:
            d = f"/tmp/kcidb_scale/vocab{n}"
            synthesize_rich_corpus(
                spark, d, n_words=n, langs=("en", "xx")
            )
            docs = spark.read.parquet(
                os.path.join(d, "documents.parquet")
            )
            ntok = (
                docs.select(
                    F.explode(
                        F.split(_norm_text(F.col("text")), " ")
                    ).alias("w")
                )
                .agg(F.count_distinct("w").alias("n"))
                .collect()[0]["n"]
            )
            row = {
                "n_words": n,
                "distinct_tokens": ntok,
                "docs": docs.count(),
                "per_query": {},
            }
            for name in vocab_queries:
                seen = {e["id"] for e in _sql_executions(ui)}
                before = _stage_metrics(ui)
                t0 = time.perf_counter()
                REGISTRY[name].spark(spark, d).write.mode(
                    "overwrite"
                ).format("noop").save()
                wall = round(time.perf_counter() - t0, 2)
                release_persisted()
                after = _stage_metrics(ui)
                new = {
                    s: v for s, v in after.items() if s not in before
                }
                row["per_query"][name] = {
                    "wall_s": wall,
                    "shuffle_write_mb": round(
                        sum(v["shuffle_write"] for v in new.values())
                        / 2**20, 2,
                    ),
                    "broadcast": _broadcast_stats(ui, seen),
                }
                print("vocab", n, name, row["per_query"][name],
                      flush=True)
            result["decades"].append(row)
        result["ratios"] = {}
    elif suite == "lm":
        # LM quality gate + shuffle/encode family at Kx corpus volume
        # (round 8): the scoring join explodes every bigram INSTANCE,
        # so volume scales with the corpus while the broadcast model
        # tables stay Zipf/top-K bounded — the rehearsal checks the
        # walls stay corpus-linear and the broadcasts stay flat.
        scaled_dir = f"/tmp/kcidb_scale/sf{k}x"
        synthesize(spark, k, scaled_dir)
        result = {
            "k": k,
            "base": run_queries(BASE_SF, "sf0.1", spark, LM_QUERIES),
            "scaled": run_queries(scaled_dir, f"{k}x", spark, LM_QUERIES),
        }
        result["ratios"] = _ratios(result["base"], result["scaled"],
                                   LM_QUERIES)
    elif suite == "similarity":
        # Reuses the dedup suite's synthesized corpus (embeddings ×K).
        scaled_dir = f"/tmp/kcidb_scale/sf{k}x"
        synthesize(spark, k, scaled_dir)
        result = {
            "k": k,
            "base": run_queries(
                BASE_SF, "sf0.1", spark, SIMILARITY_QUERIES
            ),
            "scaled": run_queries(
                scaled_dir, f"{k}x", spark, SIMILARITY_QUERIES
            ),
        }
        result["ratios"] = _ratios(
            result["base"], result["scaled"], SIMILARITY_QUERIES
        )
    elif suite == "bpe":
        # Batched-trainer viability: 256 merges at batch_size=32 (8
        # rounds) must land within ~4× the 8-merge sequential wall at
        # the scaled corpus — the done-condition for making training
        # scale past toy merge counts.
        from kcidb_spark.operators.bpe import (
            bpe_encode_grouped,
            bpe_train,
            rule_rounds,
        )

        scaled_dir = f"/tmp/kcidb_scale/sf{k}x"
        synthesize(spark, k, scaled_dir)
        docs = spark.read.parquet(
            os.path.join(scaled_dir, "documents.parquet")
        )
        result = {"k": k}
        for label, n, bs in (
            ("seq8", 8, 1),
            ("batch64", 64, 32),
            ("batch256", 256, 32),
        ):
            t0 = time.perf_counter()
            rules = bpe_train(docs, n_merges=n, batch_size=bs).collect()
            wall = round(time.perf_counter() - t0, 2)
            result[label] = {
                "wall_s": wall,
                "n_rules": len(rules),
                "n_rounds": 1 + max((r["round"] for r in rules), default=-1),
            }
            print(label, result[label], flush=True)
            if n == 256:
                t0 = time.perf_counter()
                bpe_encode_grouped(docs, rule_rounds(rules)).write.mode(
                    "overwrite"
                ).format("noop").save()
                result["encode256"] = {
                    "wall_s": round(time.perf_counter() - t0, 2)
                }
                print("encode256", result["encode256"], flush=True)
        result["ratios"] = {
            "batch256_vs_seq8_wall": round(
                result["batch256"]["wall_s"] / result["seq8"]["wall_s"], 2
            )
        }
    elif suite == "tokenizer":
        # Trainer envelopes (r7 verdict #2/#3): BPE past corpus
        # saturation on a rich word distribution, and the unigram
        # trainer at Kx corpus volume with a 32k-piece vocabulary.
        import pickle

        from pyspark.sql import functions as F

        from kcidb_spark.operators.bpe import bpe_train
        from kcidb_spark.operators.unigram import (
            _count_pieces,
            oov_cost,
            word_freqs,
        )

        rich_dir = "/tmp/kcidb_scale/rich_words"
        synthesize_rich_corpus(spark, rich_dir)
        rich = spark.read.parquet(
            os.path.join(rich_dir, "documents.parquet")
        )
        n_rich_words = (
            word_freqs(rich).count()
        )
        result = {"k": k, "rich_distinct_words": n_rich_words}

        # --- BPE deep merges: 3 points to test wall = a + rounds*b ---
        for label, n in (("bpe256", 256), ("bpe1024", 1024),
                         ("bpe2048", 2048)):
            t0 = time.perf_counter()
            rules = bpe_train(rich, n_merges=n, batch_size=64).collect()
            result[label] = {
                "wall_s": round(time.perf_counter() - t0, 2),
                "n_rules": len(rules),
                "n_rounds": 1 + max(
                    (r["round"] for r in rules), default=-1
                ),
            }
            print(label, result[label], flush=True)
        # Linearity of the wall model (rounds x word-table shuffle):
        # the middle point's residual against the line through the
        # endpoints, as a fraction of its wall.
        p1, p2, p3 = result["bpe256"], result["bpe1024"], result["bpe2048"]
        if p3["n_rounds"] > p1["n_rounds"]:
            slope = (p3["wall_s"] - p1["wall_s"]) / (
                p3["n_rounds"] - p1["n_rounds"]
            )
            pred_mid = p1["wall_s"] + slope * (
                p2["n_rounds"] - p1["n_rounds"]
            )
            result["bpe_wall_model"] = {
                "per_round_s": round(slope, 3),
                "mid_residual_frac": round(
                    abs(p2["wall_s"] - pred_mid) / p2["wall_s"], 3
                ),
            }
            print("bpe_wall_model", result["bpe_wall_model"], flush=True)

        # --- unigram at Kx volume, 32k vocab: per-phase walls ---
        scaled_dir = f"/tmp/kcidb_scale/sf{k}x"
        synthesize(spark, k, scaled_dir)
        for label, corpus_path, vocab in (
            ("unigram_rich_32k", os.path.join(rich_dir,
                                              "documents.parquet"), 32_000),
            ("unigram_%dx_32k" % k, os.path.join(scaled_dir,
                                                 "documents.parquet"),
             32_000),
        ):
            import math as _math

            docs = spark.read.parquet(corpus_path)
            mpl = 6
            t0 = time.perf_counter()
            words = word_freqs(docs).localCheckpoint()
            n_words_tbl = words.count()
            scan_s = round(time.perf_counter() - t0, 2)
            # Seed (mirrors unigram_train): substring explosion +
            # driver-held top table.
            t0 = time.perf_counter()
            subs = words.select(
                "freq",
                F.explode(
                    F.expr(
                        f"flatten(transform(sequence(1, length(word)),"
                        f" i -> transform(sequence(1, least({mpl},"
                        f" length(word) - i + 1)),"
                        f" l -> substring(word, i, l))))"
                    )
                ).alias("piece"),
            ).groupBy("piece").agg(F.sum("freq").alias("n"))
            top = subs.orderBy(F.desc("n"), "piece").limit(
                4 * vocab
            ).collect()
            chars = {r["piece"]: r["n"]
                     for r in subs.filter(F.length("piece") == 1).collect()}
            seed = {r["piece"]: r["n"] for r in top}
            seed.update(chars)
            seed_s = round(time.perf_counter() - t0, 2)
            total = sum(seed.values())
            costs = {p: -_math.log(c / total)
                     for p, c in seed.items() if c > 0}
            rounds = []
            counted = dict(seed)
            for _ in range(3):
                bc_bytes = len(pickle.dumps((costs, mpl)))
                t0 = time.perf_counter()
                counted = {
                    r["piece"]: r["n"]
                    for r in _count_pieces(words, costs, mpl).collect()
                }
                em_s = round(time.perf_counter() - t0, 2)
                for ch in chars:
                    counted.setdefault(ch, 1)
                multi = sorted(
                    ((p, c) for p, c in counted.items() if len(p) > 1),
                    key=lambda pc: (-pc[1], pc[0]),
                )
                n_chars_v = sum(1 for p in counted if len(p) == 1)
                target_multi = max(0, vocab - n_chars_v)
                if len(multi) > target_multi:
                    drop = max(
                        1, int((len(multi) - target_multi) * 0.25)
                    )
                    multi = multi[: max(target_multi, len(multi) - drop)]
                counted = {p: c for p, c in multi} | {
                    p: c for p, c in counted.items() if len(p) == 1
                }
                total = sum(counted.values())
                costs = {p: -_math.log(c / total)
                         for p, c in counted.items() if c > 0}
                rounds.append({
                    "em_wall_s": em_s,
                    "broadcast_bytes": bc_bytes,
                    "vocab_after": len(counted),
                })
            result[label] = {
                "corpus_scan_s": scan_s,
                "word_table_rows": n_words_tbl,
                "seed_s": seed_s,
                "seed_pieces": len(seed),
                "em_rounds": rounds,
            }
            print(label, result[label], flush=True)
        result["ratios"] = {}
    elif suite == "sketch":
        # Sketch re-aggregability at Kx (r7 verdict #8): per-day HLL
        # partials PERSISTED to parquet, read back, unioned — the
        # stored-rollup path — vs the single-shot sketch and the
        # exact count, with walls for each.  Distinct-user
        # cardinality scales with K (unlike the streaming synth,
        # which pins it), so the sketch works for its living.
        from pyspark.sql import functions as F

        from kcidb_spark.tables import table as _table

        scaled = f"/tmp/kcidb_scale/sketch{k}x"
        if not os.path.exists(os.path.join(scaled, "_SYNTH_DONE")):
            os.makedirs(scaled, exist_ok=True)
            base = _table(spark, BASE_SF, "events")
            n_users = 1_500
            reps = spark.range(k).select(F.col("id").alias("rep"))
            (
                base.crossJoin(reps)
                .select(
                    "event_type", "ts",
                    (F.col("user_id") + F.col("rep") * n_users)
                    .alias("user_id"),
                )
                .repartition(32)
                .write.mode("overwrite")
                .parquet(os.path.join(scaled, "events.parquet"))
            )
            open(os.path.join(scaled, "_SYNTH_DONE"), "w").close()
        ev = spark.read.parquet(os.path.join(scaled, "events.parquet"))
        n_rows = ev.count()
        result = {"k": k, "rows": n_rows}

        t0 = time.perf_counter()
        exact = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n"))
            .collect()
        }
        result["exact"] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "values": exact,
        }

        t0 = time.perf_counter()
        direct = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_sketch_agg("user_id", F.lit(12))
                ).alias("n")
            )
            .collect()
        }
        result["direct_sketch"] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "max_rel_err": round(
                max(
                    abs(direct[t] - exact[t]) / exact[t] for t in exact
                ),
                4,
            ),
        }

        # The rollup table: one sketch per (type, day), persisted.
        rollup_path = os.path.join(scaled, "rollup.parquet")
        t0 = time.perf_counter()
        (
            ev.groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
            .write.mode("overwrite")
            .parquet(rollup_path)
        )
        build_s = round(time.perf_counter() - t0, 2)
        rollup = spark.read.parquet(rollup_path)
        rollup_rows = rollup.count()
        rollup_bytes = sum(
            os.path.getsize(os.path.join(r, n))
            for r, _, ns in os.walk(rollup_path) for n in ns
        )
        t0 = time.perf_counter()
        merged = {
            r["event_type"]: r["n"]
            for r in rollup.groupBy("event_type")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_union_agg("sk", F.lit(False))
                ).alias("n")
            )
            .collect()
        }
        result["rollup"] = {
            "build_wall_s": build_s,
            "rows": rollup_rows,
            "bytes": rollup_bytes,
            "merge_wall_s": round(time.perf_counter() - t0, 2),
            "union_equals_direct": merged == direct,
            "max_rel_err": round(
                max(
                    abs(merged[t] - exact[t]) / exact[t] for t in exact
                ),
                4,
            ),
        }
        print(json.dumps(result, indent=1), flush=True)
        result["ratios"] = {}
    else:
        base_c = 2_000
        result = {
            "k": k,
            "base": run_closure(spark, base_c, f"c={base_c}"),
            "scaled": run_closure(spark, base_c * k, f"c={base_c * k}"),
        }
        result["ratios"] = _ratios(
            result["base"], result["scaled"], CLOSURE_PATTERNS
        )
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result["ratios"], indent=1))


if __name__ == "__main__":
    main()
