"""Dump the optimized logical plans of the serving store's writes and
of the rotated-store probe, on small stores.

    python plans/pr6/dump_plans.py <repo checkout> <out dir>

Writes one text file per verb, one section per subtree write:

* ``ingest_vec_batch_txn.txt``, ``ingest_postings_batch_txn.txt``,
  ``delete_vec_batch_txn.txt``, ``delete_docs_batch_txn.txt``,
  ``compact_store_txn.txt``, ``compact_postings_txn.txt`` — every
  write the serve_lifecycle benchmark workload runs;
* ``ingest_pq_batch_txn.txt`` and ``ingest_pq_batch_txn_rotated.txt``
  — a PQ store and a PQ store with a rotation;
* ``probe_pq_topk_rotated.txt`` — the rotated-store probe.

A checkout that still has the separate OPQ verbs (``init_opq_store``,
``ingest_opq_batch_txn``, ``probe_opq_topk``) builds and probes the
rotated store through them. Expression ids (``#123``) are replaced by
``#`` so that plans from two checkouts can be compared with ``diff``.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

repo, out = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)

from pyspark.sql import DataFrameWriter, Row  # noqa: E402

from kcidb_spark.operators.opq import givens_rotation  # noqa: E402
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


def _write_plans(name: str, fn, *args, **kw) -> None:
    writes.clear()
    DataFrameWriter.parquet = _capture
    try:
        fn(*args, **kw)
    finally:
        DataFrameWriter.parquet = _parquet
    _save(f"{name}.txt", "\n".join(
        f"== write {k} ==\n{v}" for k, v in sorted(writes.items())
    ))


def vecs(rows):
    return spark.createDataFrame(
        [Row(vec_id=i, v=[float(x), float(y)]) for i, (x, y) in rows],
        "vec_id long, v array<double>",
    )


def ids(rows, col="vec_id"):
    return spark.createDataFrame([(i,) for i in rows], f"{col} long")


def docs(rows):
    return spark.createDataFrame(list(rows), "doc_id long, text string")


# Float store: generation at 1, tail batches 2-3, tombstones at 3.
CENTS = [(0, [1.0, 0.0], 1.0), (1, [0.0, 1.0], 1.0)]
fstore = os.path.join(root, "float")
se.ingest_vec_batch_txn(vecs([(10, (0.9, 0.1)), (11, (0.1, 0.9))]), fstore, 0, CENTS)
se.ingest_vec_batch_txn(vecs([(20, (0.95, 0.05)), (10, (0.8, 0.2))]), fstore, 1, CENTS)
se.compact_store_txn(spark, fstore, 1)
_write_plans(
    "ingest_vec_batch_txn", se.ingest_vec_batch_txn,
    vecs([(30, (0.7, 0.3)), (31, (0.2, 0.8))]), fstore, 2, CENTS,
)
_write_plans(
    "delete_vec_batch_txn", se.delete_vec_batch_txn,
    spark, ids([20, 31]), fstore, 3,
)
_write_plans("compact_store_txn", se.compact_store_txn, spark, fstore, 3)

# Postings store: generation at 2, tail batches 3-4 with a delete.
pstore = os.path.join(root, "postings")
se.ingest_postings_batch_txn(docs([(1, "alpha beta"), (2, "beta gamma")]), pstore, 0)
se.ingest_postings_batch_txn(docs([(3, "gamma delta"), (1, "alpha alpha")]), pstore, 1)
se.delete_docs_batch_txn(spark, ids([2], "doc_id"), pstore, 2)
se.compact_postings_txn(spark, pstore, 2)
_write_plans(
    "ingest_postings_batch_txn", se.ingest_postings_batch_txn,
    docs([(4, "delta beta"), (5, "alpha gamma")]), pstore, 3,
)
_write_plans(
    "delete_docs_batch_txn", se.delete_docs_batch_txn,
    spark, ids([3], "doc_id"), pstore, 4,
)
_write_plans("compact_postings_txn", se.compact_postings_txn, spark, pstore, 4)

# PQ store, then the same model behind a rotation.
PQ_CENTS = [(0, [100, 0]), (1, [0, 100])]
PQ_BOOKS = [(0, 0, [100]), (0, 1, [0]), (1, 0, [0]), (1, 1, [100])]
pqstore = os.path.join(root, "pq")
se.init_pq_store(pqstore, PQ_CENTS, PQ_BOOKS, 2, 1)
_write_plans(
    "ingest_pq_batch_txn", se.ingest_pq_batch_txn,
    spark.createDataFrame(
        [Row(vec_id=0, q=[90, 10]), Row(vec_id=1, q=[10, 90])],
        "vec_id long, q array<bigint>",
    ),
    pqstore, 0,
)

rot = givens_rotation(2)
rstore = os.path.join(root, "rotated")


def xvecs(rows):
    return spark.createDataFrame(
        [Row(vec_id=i, x=[float(a), float(b)]) for i, (a, b) in rows],
        "vec_id long, x array<double>",
    )


if hasattr(se, "init_opq_store"):
    se.init_opq_store(rstore, rot, PQ_CENTS, PQ_BOOKS, 2, 1)
    ingest, probe = se.ingest_opq_batch_txn, se.probe_opq_topk
else:
    se.init_pq_store(rstore, PQ_CENTS, PQ_BOOKS, 2, 1, rot=rot)
    ingest, probe = se.ingest_pq_batch_txn, se.probe_pq_topk
_write_plans(
    "ingest_pq_batch_txn_rotated", ingest,
    xvecs([(0, (0.9, 0.1)), (1, (0.1, 0.9))]), rstore, 0,
)
ingest(xvecs([(2, (0.95, 0.05)), (3, (0.05, 0.95))]), rstore, 1)
_save("probe_pq_topk_rotated.txt", _plan(
    probe(xvecs([(100, (0.93, 0.07))]), rstore, 3)
))

spark.stop()
