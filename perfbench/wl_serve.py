"""serve_lifecycle: the online serving tier, write side beside read side.

Two manifest-versioned stores grow every epoch — a float IVF store fed
clustered 64-d vectors and a postings store fed Zipf-vocabulary
documents — while a client probes both.  Every epoch probes one fixed
query set (the case an incremental top-k can exploit) and fresh seeded
sets (the case it cannot), and deletes a small share of both stores.
One maintenance call per store (compaction, then GC) closes the run, so
probe cost reflects a store that carries tombstones and tail batches.
"""

from __future__ import annotations

import os

from perfbench.harness import Calls
from perfbench.inputs import PROBE_ROUNDS, ServePlan, serve_inputs
from perfbench.meter import tree_size

VECS_PER_EPOCH = 4000
DOCS_PER_EPOCH = 2000
QUERIES = 16
CENTROIDS = 16
VOCAB = 5000
K = 10
NPROBE = 2
DELETE_SHARE = 0.02

#: Every serving verb the workload calls, in reporting order.
VERBS = (
    "ingest_vec_batch_txn", "probe_tiered_topk", "delete_vec_batch_txn",
    "compact_store_txn", "serve_store_gc",
    "ingest_postings_batch_txn", "probe_postings_bm25",
    "delete_docs_batch_txn", "compact_postings_txn", "postings_store_gc",
)

_VEC_SCHEMA = "vec_id long, v array<double>"
_DOC_SCHEMA = "doc_id long, text string"


class ServeLifecycle:
    name = "serve_lifecycle"

    def __init__(self, work: str, seed: int, cycles: int):
        self.work = work
        self.seed = seed
        self.cycles = cycles
        self.failures: list[str] = []
        self.epochs = 0
        self.deleted_vec: set[int] = set()
        self.deleted_doc: set[int] = set()

    def generate(self) -> None:
        self.plan: ServePlan = serve_inputs(
            os.path.join(self.work, "inputs"), self.seed, self.cycles,
            VECS_PER_EPOCH, DOCS_PER_EPOCH, QUERIES, CENTROIDS, VOCAB,
            DELETE_SHARE)

    def init(self, spark, attempt: int) -> None:
        self.spark = spark
        self.vstore = os.path.join(self.work, f"ivf_{attempt}")
        self.pstore = os.path.join(self.work, f"postings_{attempt}")
        for d in (self.vstore, self.pstore):
            os.makedirs(d, exist_ok=True)
        self.vbid = self.pbid = -1

    def prepare(self) -> None:
        """Nothing to do before the loop: the stores start empty."""

    def _read(self, path: str, schema: str):
        return self.spark.read.schema(schema).parquet(path)

    def _verb(self, calls: Calls, verb: str, fn, *args, read=False,
              kind=None):
        import kcidb_spark.queries.streaming_exec as se

        with calls.timed(kind or verb, f"streaming_exec.{verb}", read=read):
            out = getattr(se, verb)(*args)
            if fn is not None:
                out = fn(out)
        return out

    def _probe(self, calls: Calls | None, vec_path: str, doc_path: str,
               leg: str = "repeat"):
        """Probe both stores; ``calls=None`` probes untimed."""
        import kcidb_spark.queries.streaming_exec as se

        plan = self.plan
        vq = self._read(vec_path, _VEC_SCHEMA)
        dq = self._read(doc_path, _DOC_SCHEMA)
        collect = lambda df: df.collect()  # noqa: E731
        if calls is None:
            vec = se.probe_tiered_topk(vq, self.vstore, plan.cents, K,
                                       NPROBE).collect()
            doc = se.probe_postings_bm25(dq, self.pstore, K).collect()
        else:
            vec = self._verb(calls, "probe_tiered_topk", collect, vq,
                             self.vstore, plan.cents, K, NPROBE, read=True,
                             kind=f"probe_tiered_topk.{leg}")
            doc = self._verb(calls, "probe_postings_bm25", collect, dq,
                             self.pstore, K, read=True,
                             kind=f"probe_postings_bm25.{leg}")
        self._check_probe("ivf", vec, self.vstore, self.deleted_vec)
        self._check_probe("bm25", doc, self.pstore, self.deleted_doc)
        return (sorted(tuple(r) for r in vec), sorted(tuple(r) for r in doc))

    def _check_probe(self, leg: str, rows, store: str, deleted: set) -> None:
        from collections import Counter

        from kcidb_spark.queries.streaming_exec import read_serve_watermark

        wm = read_serve_watermark(store)
        per_q = Counter(r["q_id"] for r in rows)
        if len(per_q) != QUERIES or set(per_q.values()) != {K}:
            self.failures.append(f"{leg}: rows per query {sorted(per_q.values())}")
        if {r["probe_round"] for r in rows} != {wm}:
            self.failures.append(f"{leg}: probe_round is not the watermark {wm}")
        if any(r["n_id"] in deleted for r in rows):
            self.failures.append(f"{leg}: a deleted id was returned")

    def cycle(self, e: int, calls: Calls) -> None:
        """One epoch: ingest both stores, delete from both, then probe
        both, ``PROBE_ROUNDS`` times, with the repeat query set and with
        a fresh one."""
        plan = self.plan
        spark = self.spark
        self.vbid += 1
        self._verb(calls, "ingest_vec_batch_txn", None,
                   self._read(plan.vec_batches[e], _VEC_SCHEMA),
                   self.vstore, self.vbid, plan.cents)
        self.pbid += 1
        self._verb(calls, "ingest_postings_batch_txn", None,
                   self._read(plan.doc_batches[e], _DOC_SCHEMA),
                   self.pstore, self.pbid)
        self.vbid += 1
        self._verb(calls, "delete_vec_batch_txn", None, spark,
                   self._read(plan.vec_deletes[e], "vec_id long"),
                   self.vstore, self.vbid)
        self.deleted_vec |= set(plan.vec_deleted_ids[e])
        self.pbid += 1
        self._verb(calls, "delete_docs_batch_txn", None, spark,
                   self._read(plan.doc_deletes[e], "doc_id long"),
                   self.pstore, self.pbid)
        self.deleted_doc |= set(plan.doc_deleted_ids[e])
        for r in range(PROBE_ROUNDS):
            self.last_repeat = self._probe(calls, plan.repeat_vec,
                                           plan.repeat_doc, "repeat")
            self._probe(calls, plan.fresh_vec[e][r], plan.fresh_doc[e][r],
                        "fresh")
        self.epochs = e + 1

    def finish(self, calls: Calls) -> None:
        """One maintenance call per store — compaction, then GC — and an
        untimed probe after it: the IVF probe must come out identical to
        the last epoch's repeat probe.
        (BM25 compaction folds tombstones into df/N and so legitimately
        moves scores; its probes get the per-probe checks only.)"""
        import kcidb_spark.queries.streaming_exec as se

        if not self.epochs:
            return
        plan = self.plan
        before_vec = self.last_repeat[0]
        for kind, store, bid, compact, gc in (
                ("maintain_ivf", self.vstore, self.vbid,
                 "compact_store_txn", "serve_store_gc"),
                ("maintain_postings", self.pstore, self.pbid,
                 "compact_postings_txn", "postings_store_gc")):
            with calls.timed(kind, "streaming_exec.maintain"):
                with calls.span(f"streaming_exec.{compact}"):
                    getattr(se, compact)(self.spark, store, bid)
                with calls.span(f"streaming_exec.{gc}"):
                    getattr(se, gc)(store)
        after_vec, _ = self._probe(None, plan.repeat_vec, plan.repeat_doc)
        if after_vec != before_vec:
            self.failures.append("ivf: probe changed across compaction/GC")

    def check(self) -> list[str]:
        return list(self.failures)

    def summary(self, calls: Calls) -> dict:
        from perfbench.meter import summarize

        maint = ("delete_vec_batch_txn", "delete_docs_batch_txn",
                 "maintain_ivf", "maintain_postings")
        return {
            "probe_repeat_s": summarize(
                [c.wall for c in calls.records if c.kind.endswith(".repeat")]),
            "probe_fresh_s": summarize(
                [c.wall for c in calls.records if c.kind.endswith(".fresh")]),
            "ingest_txn_s": summarize(
                calls.walls("ingest_vec_batch_txn")
                + calls.walls("ingest_postings_batch_txn")),
            "maintenance_s": sum(sum(calls.walls(v)) for v in maint),
            "store_bytes_per_input_byte":
                self.store_metrics()["streaming_exec.bytes_per_input_byte"],
            "epochs": self.epochs,
        }

    def store_metrics(self) -> dict:
        """Both stores' files and bytes, and bytes per ingested byte."""
        vf, vb = tree_size(self.vstore)
        pf, pb = tree_size(self.pstore)
        in_bytes = sum(self.plan.input_bytes[: self.epochs])
        return {
            "streaming_exec.ivf_store_files": float(vf),
            "streaming_exec.ivf_store_bytes": float(vb),
            "streaming_exec.postings_store_files": float(pf),
            "streaming_exec.postings_store_bytes": float(pb),
            "streaming_exec.bytes_per_input_byte":
                (vb + pb) / in_bytes if in_bytes else 0.0,
        }
