#!/usr/bin/env python
"""Phase-level profiler for the streaming serve entries.

Wraps DataStreamWriter.foreachBatch to time each epoch, the store
verbs (ingest/probe/publish) to attribute epoch wall to phases, and
the drain harness (staging, arrivals, the whole drain) to show what
the stream costs outside its epochs.
Read-only: monkeypatches wrappers around unchanged functions.

Usage: python tools/profile_streaming.py t25_stream_hybrid_serve ...
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

LOG: list[tuple[str, float]] = []


def _wrap(mod, name):
    orig = getattr(mod, name)

    def timed(*a, **k):
        t0 = time.perf_counter()
        try:
            return orig(*a, **k)
        finally:
            LOG.append((name, time.perf_counter() - t0))

    timed.__name__ = name
    setattr(mod, name, timed)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]

    from pyspark.sql.streaming import DataStreamWriter

    orig_feb = DataStreamWriter.foreachBatch

    def feb(self, fn):
        def wrapped(df, eid):
            t0 = time.perf_counter()
            fn(df, eid)
            LOG.append((f"epoch:{eid}", time.perf_counter() - t0))

        return orig_feb(self, wrapped)

    DataStreamWriter.foreachBatch = feb

    import kcidb_spark.queries.streaming_exec as se
    from kcidb_spark.serve import lsm

    # Every store transaction publishes through lsm.commit.
    _wrap(lsm, "publish_visibility")
    for fname in (
        "ingest_hybrid_batch_txn",
        "ingest_postings_batch_txn",
        "ingest_vec_batch_txn",
        "probe_postings_bm25",
        "probe_tiered_topk",
        "ingest_pq_batch_txn",
        "probe_pq_topk",
        "retrain_pq_store_txn",
        "compact_store_txn",
        "retrain_store_txn",
        "_tok_tf_len",
        # The drain harness: staging, arrival copies, the whole drain.
        "_session_stage",
        "_stage_arrivals",
        "_drain",
        "_serve_interleaved",
    ):
        _wrap(se, fname)  # a renamed function fails here, loudly

    from kcidb_spark.cache import release_persisted
    from kcidb_spark.queries import REGISTRY
    from kcidb_spark.session import get_spark
    from kcidb_spark.tables import TABLES, table

    spark = get_spark(app_name="kcidb_profile_stream")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id: long"
    ).write.format("noop").mode("overwrite").save()
    for t in TABLES:
        table(spark, sf_dir, t).schema

    # Job-level accounting via a status-tracker diff per run.
    sc = spark.sparkContext

    for name in names:
        for run in range(2):
            LOG.clear()
            j0 = sc.statusTracker().getJobIdsForGroup(None)
            t0 = time.perf_counter()
            df = REGISTRY[name].spark(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
            release_persisted()
            print(f"\n=== {name} run {run}: {wall:.3f}s")
            for tag, secs in LOG:
                print(f"    {secs:7.3f}s  {tag}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
