"""kcidb_lifecycle: submit → closure query → pattern query on one store.

The paper's own traffic: CI systems submit report batches that are
validated, loaded, matched against subscriptions and spooled, and
users query objects back by closure or ORM pattern.  Reads and writes
hit the same growing store.  Before the timed cycles the store is given
a short untimed history, and every timed batch re-submits an earlier
checkout, so read cost includes the dedup-at-read merge over
superseded submissions.
"""

from __future__ import annotations

import json
import os

from perfbench.harness import Calls
from perfbench.inputs import HISTORY_BATCHES, KcidbPlan, kcidb_inputs
from perfbench.meter import Tracer, tree_size

#: Reports per submitted batch (≈ 19 objects each).
REPORTS_PER_BATCH = 2
#: Reports per batch that re-submit an earlier checkout's ids.
RESUBMITS = 1


class KcidbLifecycle:
    name = "kcidb_lifecycle"

    def __init__(self, work: str, seed: int, cycles: int):
        self.work = work
        self.seed = seed
        self.cycles = cycles
        self.plan: KcidbPlan | None = None
        #: Batches in the store, history included.
        self.submitted = 0
        self.failures: list[str] = []

    def generate(self) -> None:
        self.plan = kcidb_inputs(
            os.path.join(self.work, "inputs"), self.seed, self.cycles,
            REPORTS_PER_BATCH, RESUBMITS)

    def init(self, spark, attempt: int) -> None:
        from kcidb_spark.store import Store
        from kcidb_spark.streaming.ingest import IngestPipeline
        from kcidb_spark.streaming.notify import (
            NotificationSpool,
            default_subscriptions,
        )

        self.spark = spark
        self.root = os.path.join(self.work, f"store_{attempt}")
        self.store = Store(spark, self.root)
        self.spool = NotificationSpool(
            spark, os.path.join(self.work, f"spool_{attempt}"))
        self.pipeline = IngestPipeline(self.store, self.spool,
                                       default_subscriptions())

    def prepare(self) -> None:
        """Load the history batches, untimed and untraced, one
        ``Store.load`` of the merged batch each — the load the pipeline
        makes — but without matching or spooling."""
        from kcidb_spark.schema.io import merge, upgrade

        for path in self.plan.batch_files[:HISTORY_BATCHES]:
            reports = [upgrade(r) for r in self._reports(path)]
            self.store.load(merge(reports[0], reports[1:]))
        self.submitted = HISTORY_BATCHES

    # -- tracing hooks: wrap the lookup sites ingest_batch uses ---------
    def instrument(self, calls: Calls, tracer: Tracer):
        """Wrap ``Store.load``, ``match_subscriptions``,
        ``NotificationSpool.spool`` and the report validators where
        ``ingest_batch`` looks them up; returns the undo."""
        import kcidb_spark.store as store_mod
        import kcidb_spark.streaming.ingest as ingest_mod

        cycle_of = lambda: calls.cycle  # noqa: E731
        saved = [(ingest_mod, "match_subscriptions"),
                 (ingest_mod, "validate"), (store_mod, "validate")]
        originals = [(m, a, getattr(m, a)) for m, a in saved]
        ingest_mod.match_subscriptions = tracer.wrap(
            "notify.match", ingest_mod.match_subscriptions, cycle_of)
        ingest_mod.validate = tracer.wrap(
            "schema.io.validate", ingest_mod.validate, cycle_of)
        store_mod.validate = tracer.wrap(
            "schema.io.validate", store_mod.validate, cycle_of)
        load = self.store.load
        root = self.root

        def counted_load(*args, **kwargs):
            with tracer.bookkeeping():
                before = tree_size(root)[0]
            with tracer.span("store.load", calls.cycle) as sp:
                out = load(*args, **kwargs)
            with tracer.bookkeeping():
                sp.attrs["files_written"] = tree_size(root)[0] - before
            return out

        self.store.load = counted_load
        spool = self.spool.spool

        def counted_spool(notifications):
            with tracer.span("notify.spool", calls.cycle) as sp:
                n = spool(notifications)
            sp.attrs["spooled"] = n
            return n

        self.spool.spool = counted_spool

        def undo():
            for m, a, f in originals:
                setattr(m, a, f)
            del self.store.load
            del self.spool.spool

        return undo

    # -- one closed-loop cycle ------------------------------------------
    def cycle(self, i: int, calls: Calls) -> None:
        from kcidb_spark.closure import query_store
        from kcidb_spark.orm import compile_patterns, parse_pattern, type_views
        from kcidb_spark.schema.graph import TABLES

        plan = self.plan
        b = HISTORY_BATCHES + i
        with open(plan.batch_files[b]) as f:
            raw = [line for line in f.read().splitlines() if line]
        with calls.timed("submit", "kcidb.submit") as sp:
            self.pipeline.ingest_batch(raw)
        if sp is not None:
            sp.attrs["candidates"] = self._candidates(raw)
        self.submitted = b + 1
        if self.pipeline.spooled != plan.spooled_after[b]:
            self.failures.append(
                f"cycle {i}: spooled {self.pipeline.spooled},"
                f" expected {plan.spooled_after[b]}")

        cid = plan.closure_ids[b]
        with calls.timed("closure", "closure.query_store", read=True) as sp:
            report = query_store(self.store, ids={"checkouts": [cid]},
                                 parents=True, children=True)
        got = {t: len(report.get(t, [])) for t in TABLES}
        if sp is not None:
            sp.attrs["objects"] = sum(got.values())
        want = {"checkouts": 1, "issues": 0, **plan.subtree[cid]}
        if got != want:
            self.failures.append(f"cycle {i}: closure of {cid} {got} != {want}")

        pid = plan.pattern_ids[b]
        with calls.timed("pattern", "orm.query", read=True):
            with calls.span("orm.compile"):
                pats = parse_pattern(f'>checkout["{pid}"]>build#>test#')
                views = type_views(
                    {t: self.store.table(t, with_metadata=True)
                     for t in TABLES})
                dfs = compile_patterns(self.spark, views, pats)
            with calls.span("orm.collect"):
                rows = {t: len(df.collect()) for t, df in dfs.items()}
        sub = plan.subtree[pid]
        want = {"build": sub["builds"], "test": sub["tests"]}
        if rows != want:
            self.failures.append(f"cycle {i}: pattern on {pid} {rows} != {want}")

    @staticmethod
    def _reports(path: str) -> list[dict]:
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    @staticmethod
    def _candidates(raw: list[str]) -> int:
        """Objects in the batch that the change fan-out can notify on."""
        n = 0
        for r in raw:
            rep = json.loads(r)
            n += sum(len(rep.get(t, [])) for t in
                     ("checkouts", "builds", "tests", "incidents"))
        return n

    def finish(self, calls: Calls) -> None:
        """No post-loop calls: every cycle is complete on its own."""

    def check(self) -> list[str]:
        """Untimed end-of-run checks: a reopened store sees every id."""
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from kcidb_spark.schema.graph import TABLES
        from kcidb_spark.store import Store

        fails = list(self.failures)
        if self.submitted:
            reopened = Store(self.spark, self.root)
            want = self.plan.ids_after[self.submitted - 1]
            # Distinct ids of every table in one job, not one per table.
            ids = reduce(DataFrame.unionByName, [
                reopened.table(t).select(F.lit(t).alias("t"), "id")
                for t in TABLES])
            got = dict(ids.distinct().groupBy("t").count().collect())
            for t in TABLES:
                if got.get(t, 0) != want[t]:
                    fails.append(f"reopened store: {t} has {got.get(t, 0)}"
                                 f" ids, expected {want[t]}")
            spooled = self.spool.all().count()
            if spooled != self.plan.spooled_after[self.submitted - 1]:
                fails.append(f"spool holds {spooled} notifications")
        return fails

    def summary(self, calls: Calls) -> dict:
        from perfbench.meter import summarize

        submit = calls.walls("submit")
        plan = self.plan
        return {
            "submit_s": summarize(submit),
            "closure_query_s": summarize(calls.walls("closure")),
            "pattern_query_s": summarize(calls.walls("pattern")),
            "reports_per_s": (REPORTS_PER_BATCH * len(submit) / sum(submit)
                              if submit else None),
            "reports_per_batch": REPORTS_PER_BATCH,
            "resubmitted": sum(len(plan.resubmitted[b])
                               for b in range(self.submitted)),
            "store_bytes_per_input_byte":
                self.store_metrics()["store.bytes_per_input_byte"],
            "cycles": self.submitted - HISTORY_BATCHES,
        }

    def store_metrics(self) -> dict:
        """Store size, whole and per byte of submitted report JSON."""
        size = tree_size(self.root)[1]
        in_bytes = sum(self.plan.input_bytes[: self.submitted])
        return {"store.bytes_on_disk": float(size),
                "store.bytes_per_input_byte":
                    size / in_bytes if in_bytes else 0.0}
