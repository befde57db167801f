"""Print the optimized plan of the submit's subscription match.

    python plans/pr9/submit_plan.py <repo checkout> > plan.txt

Loads the ``kcidb_lifecycle`` seed-1 history batch and first timed
batch into a fresh store, builds ``IngestPipeline._changed_views`` of
the timed batch and prints the optimized logical plan of
``match_subscriptions`` over it with the default subscriptions: the
frame the submit's ``NotificationSpool.spool`` writes.  Expression ids
and the temporary directory are replaced by placeholders, so the
output of two checkouts can be compared with ``diff``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

repo = os.path.realpath(sys.argv[1])
sys.path.insert(0, repo)

from perfbench.inputs import kcidb_inputs  # noqa: E402
from perfbench.wl_kcidb import REPORTS_PER_BATCH, RESUBMITS  # noqa: E402

work = tempfile.mkdtemp(prefix="submit_plan_")
plan = kcidb_inputs(os.path.join(work, "inputs"), 1, 1,
                    REPORTS_PER_BATCH, RESUBMITS)

from kcidb_spark.schema.io import merge, upgrade  # noqa: E402
from kcidb_spark.session import get_spark  # noqa: E402
from kcidb_spark.store import Store  # noqa: E402
from kcidb_spark.streaming import IngestPipeline, NotificationSpool  # noqa: E402
from kcidb_spark.streaming.notify import (  # noqa: E402
    default_subscriptions,
    match_subscriptions,
)

spark = get_spark(app_name="submit_plan")
spark.sparkContext.setLogLevel("ERROR")
store = Store(spark, os.path.join(work, "store"))
pipeline = IngestPipeline(store, NotificationSpool(
    spark, os.path.join(work, "spool")), default_subscriptions())
batches = []
for path in plan.batch_files[:2]:
    with open(path) as fh:
        reports = [upgrade(json.loads(line)) for line in fh if line.strip()]
    batches.append(merge(reports[0], reports[1:]))
    store.load(batches[-1])
views = pipeline._changed_views(batches[-1])
df = match_subscriptions(views, pipeline.subscriptions)
text = df._jdf.queryExecution().optimizedPlan().toString()
print(re.sub(r"#\d+L?", "#", text).replace(work, "<work>"))
spark.stop()
shutil.rmtree(work, ignore_errors=True)
