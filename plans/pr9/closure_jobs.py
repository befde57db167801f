"""List the Spark jobs of one kcidb_lifecycle cycle, job by job.

    python plans/pr9/closure_jobs.py <repo checkout> [seed]

Builds the store the ``kcidb_lifecycle`` benchmark workload builds from
its seeded inputs (default seed 1): the history batch through
``Store.load``, then the first timed batch through
``IngestPipeline.ingest_batch`` with the default subscriptions.  It
prints:

* every job of the submit's ``NotificationSpool.spool`` call (id,
  stages, tasks, start and end relative to the call, call site), and
  the Janino compilations of the whole submit (count, total ms);
* every job of the cycle's closure query, ``query_store(parents=True,
  children=True)`` on the seeded checkout (id, stages, tasks, call
  site), and the objects it returned;
* where the checkout has ``kcidb_spark.store.key_rows``, the physical
  scan of one closure fetch, whose ``PushedFilters`` show the key
  IN-list at the parquet scan.

Run it once per checkout to compare two commits; paths are printed
relative to the checkout.  Cores follow ``SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

repo = os.path.realpath(sys.argv[1])
seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
sys.path.insert(0, repo)

from perfbench.inputs import HISTORY_BATCHES, kcidb_inputs  # noqa: E402
from perfbench.wl_kcidb import REPORTS_PER_BATCH, RESUBMITS  # noqa: E402

work = tempfile.mkdtemp(prefix="closure_jobs_")
plan = kcidb_inputs(os.path.join(work, "inputs"), seed, 1,
                    REPORTS_PER_BATCH, RESUBMITS)

from kcidb_spark.closure import query_store  # noqa: E402
from kcidb_spark.schema.graph import TABLES  # noqa: E402
from kcidb_spark.schema.io import merge, upgrade  # noqa: E402
from kcidb_spark.session import get_spark  # noqa: E402
from kcidb_spark.store import Store  # noqa: E402
from kcidb_spark.streaming import IngestPipeline, NotificationSpool  # noqa: E402
from kcidb_spark.streaming.notify import default_subscriptions  # noqa: E402

spark = get_spark(app_name="closure_jobs")
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext._jsc.sc()
status = sc.statusStore()
codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics


def next_job() -> int:
    return int(sc.dagScheduler().nextJobId())


def compilations() -> tuple[int, float]:
    hist = codegen.METRIC_COMPILATION_TIME()
    return int(hist.getCount()), float(sum(hist.getSnapshot().getValues()))


def site(job) -> str:
    return re.sub(re.escape(repo) + "/?", "", str(job.name()))


def show(first: int, end: int, t0_ms: int | None = None) -> None:
    sc.listenerBus().waitUntilEmpty()
    for job_id in range(first, end):
        job = status.job(job_id)
        stages = job.stageIds().size() - job.numSkippedStages()
        tasks = job.numTasks() - job.numSkippedTasks()
        when = ""
        if t0_ms is not None:
            start = job.submissionTime().get().getTime() - t0_ms
            done = job.completionTime().get().getTime() - t0_ms
            when = f"  {start / 1e3:5.2f}-{done / 1e3:5.2f} s"
        print(f"  job {job_id:3d}  stages {stages}  tasks {tasks:3d}{when}"
              f"  {site(job)}")
    print(f"  {end - first} jobs")


def reports(path: str) -> list[dict]:
    with open(path) as fh:
        return [upgrade(json.loads(line)) for line in fh if line.strip()]


store = Store(spark, os.path.join(work, "store"))
spool = NotificationSpool(spark, os.path.join(work, "spool"))
pipeline = IngestPipeline(store, spool, default_subscriptions())
for path in plan.batch_files[:HISTORY_BATCHES]:
    history = reports(path)
    store.load(merge(history[0], history[1:]))

spool_jobs = []
spool_call = spool.spool


def traced_spool(notifications):
    import time

    first, t0 = next_job(), int(time.time() * 1000)
    out = spool_call(notifications)
    spool_jobs.append((first, next_job(), t0))
    return out


spool.spool = traced_spool
with open(plan.batch_files[HISTORY_BATCHES]) as fh:
    batch = [line for line in fh.read().splitlines() if line]
classes, ms = compilations()
pipeline.ingest_batch(batch)
classes, ms = (a - b for a, b in zip(compilations(), (classes, ms)))
print(f"submit (seed {seed}): {classes} Janino compilations, {ms:.0f} ms")
print("notify.spool jobs (start-end relative to the spool call):")
show(*spool_jobs[0])

cid = plan.closure_ids[HISTORY_BATCHES]
first = next_job()
report = query_store(store, ids={"checkouts": [cid]}, parents=True,
                     children=True)
end = next_job()
print(f"closure of {cid}: "
      f"{sum(len(report.get(t, [])) for t in TABLES)} objects")
show(first, end)

try:
    from kcidb_spark.store import key_rows
except ImportError:
    key_rows = None
if key_rows is not None:
    builds = [(b["id"],) for b in report.get("builds", [])]
    plan_text = key_rows(store, "builds", builds)._jdf.queryExecution() \
        .executedPlan().toString()
    scan = next(line for line in plan_text.splitlines() if "FileScan" in line)
    pushed = scan.split("PushedFilters: ", 1)[1].split(", ReadSchema")[0]
    print("builds fetch scan: PushedFilters:", pushed)
spark.stop()
shutil.rmtree(work, ignore_errors=True)
