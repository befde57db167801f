"""Dump the optimized logical plans of the serving-store read and fold
paths on a small store that carries a generation, a tail and
tombstones.

    python plans/pr5/dump_plans.py <repo checkout> <out dir>

Writes one text file per plan: ``probe_tiered_topk.txt``,
``probe_postings_bm25.txt``, ``compact_store_txn.txt`` and
``compact_pq_store_txn.txt`` (one section per subtree write), plus
``probe_flat.txt``: the float probe on a store that was never
compacted, through ``probe_visible_topk`` where the checkout still
has it and ``probe_tiered_topk`` otherwise.
Expression ids (``#123``) are replaced by ``#`` so that plans from
two checkouts can be compared with ``diff``.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

repo, out = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)

from pyspark.sql import DataFrameWriter, Row  # noqa: E402

from kcidb_spark.session import get_spark  # noqa: E402
import kcidb_spark.queries.streaming_exec as se  # noqa: E402

os.makedirs(out, exist_ok=True)
spark = get_spark(app_name="dump_plans", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
root = tempfile.mkdtemp(prefix="dump_plans_")


def _plan(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = re.sub(r"#\d+L?", "#", text)
    return text.replace(root, "<root>")


writes: dict[str, str] = {}
_parquet = DataFrameWriter.parquet


def _capture(self, path, *a, **kw):
    writes[os.path.relpath(path, root)] = _plan(self._df)
    return _parquet(self, path, *a, **kw)


def _save(name: str, text: str) -> None:
    with open(os.path.join(out, name), "w") as fh:
        fh.write(text.rstrip() + "\n")


def _fold_plans(fn, *args) -> str:
    writes.clear()
    DataFrameWriter.parquet = _capture
    try:
        fn(*args)
    finally:
        DataFrameWriter.parquet = _parquet
    return "\n".join(f"== write {k} ==\n{v}" for k, v in sorted(writes.items()))


def vecs(rows):
    return spark.createDataFrame(
        [Row(vec_id=i, v=[float(x), float(y)]) for i, (x, y) in rows],
        "vec_id long, v array<double>",
    )


def ids(rows, col="vec_id"):
    return spark.createDataFrame([(i,) for i in rows], f"{col} long")


# Float store: generation at 1, tail batches 2-3, tombstones at 3 and 5.
CENTS = [(0, [1.0, 0.0], 1.0), (1, [0.0, 1.0], 1.0)]
fstore = os.path.join(root, "float")
se.ingest_vec_batch_txn(vecs([(10, (0.9, 0.1)), (11, (0.1, 0.9))]), fstore, 0, CENTS)
se.ingest_vec_batch_txn(vecs([(20, (0.95, 0.05)), (10, (0.8, 0.2))]), fstore, 1, CENTS)
se.compact_store_txn(spark, fstore, 1)
se.ingest_vec_batch_txn(vecs([(30, (0.7, 0.3)), (31, (0.2, 0.8))]), fstore, 2, CENTS)
se.delete_vec_batch_txn(spark, ids([20, 31]), fstore, 3)
se.ingest_vec_batch_txn(vecs([(40, (0.6, 0.4)), (20, (0.9, 0.2))]), fstore, 4, CENTS)
se.delete_vec_batch_txn(spark, ids([30]), fstore, 5)
_save("probe_tiered_topk.txt", _plan(
    se.probe_tiered_topk(vecs([(100, (1.0, 0.1)), (101, (0.1, 1.0))]), fstore, CENTS, 3)
))
# A float store that was never compacted: batches 0-1 and a delete.
flat = os.path.join(root, "flat")
se.ingest_vec_batch_txn(vecs([(10, (0.9, 0.1)), (11, (0.1, 0.9))]), flat, 0, CENTS)
se.ingest_vec_batch_txn(vecs([(20, (0.95, 0.05)), (10, (0.8, 0.2))]), flat, 1, CENTS)
se.delete_vec_batch_txn(spark, ids([11]), flat, 2)
flat_probe = getattr(se, "probe_visible_topk", se.probe_tiered_topk)
_save("probe_flat.txt", _plan(
    flat_probe(vecs([(100, (1.0, 0.1)), (101, (0.1, 1.0))]), flat, CENTS, 3)
))
_save("compact_store_txn.txt", _fold_plans(se.compact_store_txn, spark, fstore, 5))

# Postings store: generation at 2, tail batches 3-4 with a delete.
pstore = os.path.join(root, "postings")


def docs(rows):
    return spark.createDataFrame(list(rows), "doc_id long, text string")


se.ingest_postings_batch_txn(docs([(1, "alpha beta"), (2, "beta gamma")]), pstore, 0)
se.ingest_postings_batch_txn(docs([(3, "gamma delta"), (1, "alpha alpha")]), pstore, 1)
se.delete_docs_batch_txn(spark, ids([2], "doc_id"), pstore, 2)
se.compact_postings_txn(spark, pstore, 2)
se.ingest_postings_batch_txn(docs([(4, "delta beta"), (5, "alpha gamma")]), pstore, 3)
se.delete_docs_batch_txn(spark, ids([3], "doc_id"), pstore, 4)
_save("probe_postings_bm25.txt", _plan(
    se.probe_postings_bm25(docs([(100, "alpha beta"), (101, "gamma")]), pstore, 3)
))

# PQ store: generation at 2, tail batches 3-4, tombstones at 2 and 4.
pqstore = os.path.join(root, "pq")
se.init_pq_store(
    pqstore, [(0, [100, 0]), (1, [0, 100])],
    [(0, 0, [100]), (0, 1, [0]), (1, 0, [0]), (1, 1, [100])], 2, 1,
)


def qvecs(rows):
    return spark.createDataFrame(
        [Row(vec_id=i, q=[int(x), int(y)]) for i, (x, y) in rows],
        "vec_id long, q array<bigint>",
    )


se.ingest_pq_batch_txn(qvecs([(0, (90, 10)), (1, (10, 90))]), pqstore, 0)
se.ingest_pq_batch_txn(qvecs([(2, (95, 5)), (0, (80, 20))]), pqstore, 1)
se.delete_vec_batch_txn(spark, ids([1]), pqstore, 2)
se.compact_pq_store_txn(spark, pqstore, 2)
se.ingest_pq_batch_txn(qvecs([(3, (5, 95)), (4, (80, 20))]), pqstore, 3)
se.delete_vec_batch_txn(spark, ids([2]), pqstore, 4)
_save("compact_pq_store_txn.txt", _fold_plans(se.compact_pq_store_txn, spark, pqstore, 4))

spark.stop()
