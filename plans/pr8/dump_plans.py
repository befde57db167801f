"""Dump the optimized logical plans of the two RRF-fused entries.

    python plans/pr8/dump_plans.py <repo checkout> <out dir> <sf dir>

Writes ``hybrid_rrf_topk.txt`` and ``hybrid_serve_as_of.txt``: the
optimized logical plan of each entry's returned frame on the tables
of ``<sf dir>``. Expression ids (``#123``), the application id and
temporary directories are replaced by placeholders so that plans from
two checkouts can be compared with ``diff``.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

repo, out, sf_dir = sys.argv[1:4]
sys.path.insert(0, repo)

from kcidb_spark.queries.registry import REGISTRY  # noqa: E402
from kcidb_spark.session import get_spark  # noqa: E402
import kcidb_spark.queries  # noqa: E402,F401

os.makedirs(out, exist_ok=True)
spark = get_spark(app_name="dump_plans", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
app = spark.sparkContext.applicationId


def _plan(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = re.sub(r"#\d+L?", "#", text)
    text = text.replace(app, "<app>").replace(tempfile.gettempdir(), "<tmp>")
    return re.sub(r"serve_store/<app>/(\w+)_[0-9a-f]{16}", r"\1_<sf>", text)


for name in ("hybrid_rrf_topk", "hybrid_serve_as_of"):
    df = REGISTRY[name].spark(spark, sf_dir)
    with open(os.path.join(out, f"{name}.txt"), "w") as fh:
        fh.write(_plan(df).rstrip() + "\n")
spark.stop()
