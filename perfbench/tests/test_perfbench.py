"""Tests of the benchmark's own machinery (not of kcidb_spark).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading

import pytest

from perfbench import inputs
from perfbench.meter import (
    JobMeter,
    Tracer,
    highest_percentile,
    summarize,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(root: str) -> dict[str, str]:
    out = {}
    for base, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> dict[str, str]:
    inputs.kcidb_inputs(os.path.join(root, "k"), seed, cycles=4,
                        reports_per_batch=3, resubmits=1)
    inputs.analytics_tables(os.path.join(root, "a"), seed, sf=0.001)
    inputs.serve_inputs(os.path.join(root, "s"), seed, epochs=3,
                        vecs_per_epoch=50, docs_per_epoch=30, queries=4,
                        n_cents=4, vocab=200, delete_share=0.1)
    return _digest(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    b = _generate(str(tmp_path / "b"), 7)
    c = _generate(str(tmp_path / "c"), 8)
    assert a and a == b
    assert a != c


def test_kcidb_plan_expectations_follow_the_reports(tmp_path):
    plan = inputs.kcidb_inputs(str(tmp_path), 3, cycles=6,
                               reports_per_batch=3, resubmits=1)
    assert plan.spooled_after == sorted(plan.spooled_after)
    # History batches bypass the pipeline and spool nothing.
    assert plan.spooled_after[inputs.HISTORY_BATCHES - 1] == 0
    seen = set()
    for b, path in enumerate(plan.batch_files):
        with open(path) as f:
            reports = [json.loads(line) for line in f if line.strip()]
        ids = [r["checkouts"][0]["id"] for r in reports]
        # No id twice in one batch: one load timestamp per batch.
        assert len(ids) == len(set(ids))
        # Every batch after the first re-submits exactly one earlier
        # checkout, so the first timed batch meets superseded rows.
        assert [i for i in ids if i in seen] == plan.resubmitted[b]
        assert len(plan.resubmitted[b]) == (1 if b else 0)
        seen.update(ids)
    assert set(plan.closure_ids) <= seen and set(plan.pattern_ids) <= seen
    assert plan.ids_after[-1]["checkouts"] == len(seen)


@pytest.mark.parametrize("n, p", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_highest_percentile_keeps_ten_samples_beyond(n, p):
    assert highest_percentile(n) == p


def test_summarize_reports_count_median_and_tail():
    s = summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["p90"] == 90.0
    assert set(summarize([1.0, 2.0, 3.0])) == {"n", "p50"}


def test_job_attribution_counts_noop_writes_exactly(spark):
    tracer = Tracer(JobMeter(spark))

    def noop():
        spark.range(100).write.format("noop").mode("overwrite").save()

    with tracer.span("one", 0):
        noop()
    with tracer.span("two_threads", 0):
        ts = [threading.Thread(target=noop) for _ in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in ts)
    with tracer.span("parent", 0):
        with tracer.span("child", 0):
            noop()
        noop()
    tracer.meter.drain()
    jobs = [tracer.meter.stats(*sp.jobs).jobs for sp in tracer.spans]
    assert jobs == [1, 2, 2, 1]
    assert tracer.self_jobs(2).jobs == 1
    one = tracer.meter.stats(*tracer.spans[0].jobs)
    assert one.stages == 1 and one.tasks >= 1 and one.failed_tasks == 0


def test_benchmark_json_names_what_the_code_reports():
    from perfbench import run
    from perfbench.layers import metric_names

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == metric_names()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    for m in spec["end_to_end"]:
        assert m["unit"] == run.UNITS[m["name"]]
