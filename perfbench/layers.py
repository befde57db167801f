"""Per-layer metrics from a traced run's spans.

Every traced run reports every metric below, so a layer a workload
does not enter reads 0 there — which is itself the "little work in"
half of the layer → workload map in README.md.  Seconds are self
time (span minus child spans); Spark counts are the jobs, tasks and
shuffle bytes in the span's job-id range.  Values are means per call
into the layer.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.meter import JobStats, Tracer
from perfbench.wl_analytics import MODULES
from perfbench.wl_serve import VERBS


@dataclass
class _Layer:
    calls: int = 0
    self_s: float = 0.0
    incl: JobStats = field(default_factory=JobStats)
    attrs: dict = field(default_factory=lambda: defaultdict(float))


def _aggregate(tracer: Tracer) -> dict[str, _Layer]:
    out: dict[str, _Layer] = defaultdict(_Layer)
    for i, sp in enumerate(tracer.spans):
        a = out[sp.name]
        a.calls += 1
        a.self_s += tracer.self_time(i)
        a.incl = a.incl + tracer.meter.stats(*sp.jobs)
        for k, v in sp.attrs.items():
            a.attrs[k] += v
    return out


def metric_names() -> list[str]:
    """Every per-layer metric, in reporting order."""
    names = [
        "schema.io.validate_s",
        "store.load_s", "store.load_jobs", "store.files_written",
        "store.bytes_on_disk", "store.bytes_per_input_byte",
        "notify.match_s", "notify.spool_s", "notify.jobs",
        "notify.spooled_per_candidate",
        "closure.query_store_s", "closure.jobs", "closure.objects_returned",
        "orm.compile_s", "orm.collect_s", "orm.jobs",
    ]
    for m in MODULES:
        names += [f"queries.{m}.{k}" for k in
                  ("build_s", "exec_s", "jobs", "tasks", "shuffle_bytes")]
    for v in VERBS:
        names += [f"streaming_exec.{v}_s", f"streaming_exec.{v}_jobs",
                  f"streaming_exec.{v}_tasks"]
    names += [
        "streaming_exec.ivf_store_files", "streaming_exec.ivf_store_bytes",
        "streaming_exec.postings_store_files",
        "streaming_exec.postings_store_bytes",
        "streaming_exec.bytes_per_input_byte",
        "spark.exec_cpu_s", "spark.parallel_eff", "trace.overhead_share",
        "trace.call_geomean_s",
    ]
    return names


def layer_metrics(tracer: Tracer, store_metrics: dict, cores: int,
                  overhead: float, call_geomean_s: float) -> dict[str, float]:
    """All per-layer metrics for one traced run.  ``overhead`` is the
    tracer's own bookkeeping share of the traced wall;
    ``call_geomean_s`` is the traced run's typical call, which compared
    with the untraced runs' ``call_geomean_s`` on the same seed gives
    the end-to-end tracing overhead."""
    agg = _aggregate(tracer)
    empty = _Layer()

    def per_call(name: str, value) -> float:
        a = agg.get(name, empty)
        return value(a) / a.calls if a.calls else 0.0

    def self_s(name):
        return per_call(name, lambda a: a.self_s)

    def jobs(name):
        return per_call(name, lambda a: a.incl.jobs)

    sub = agg.get("kcidb.submit", empty)
    notify = agg.get("notify.match", empty).incl + agg.get(
        "notify.spool", empty).incl
    m: dict[str, float] = {
        "schema.io.validate_s": self_s("schema.io.validate"),
        "store.load_s": self_s("store.load"),
        "store.load_jobs": jobs("store.load"),
        "store.files_written": per_call(
            "store.load", lambda a: a.attrs["files_written"]),
        "notify.match_s": self_s("notify.match"),
        "notify.spool_s": self_s("notify.spool"),
        "notify.jobs": notify.jobs / sub.calls if sub.calls else 0.0,
        "notify.spooled_per_candidate": (
            agg.get("notify.spool", empty).attrs["spooled"]
            / sub.attrs["candidates"] if sub.attrs["candidates"] else 0.0),
        "closure.query_store_s": self_s("closure.query_store"),
        "closure.jobs": jobs("closure.query_store"),
        "closure.objects_returned": per_call(
            "closure.query_store", lambda a: a.attrs["objects"]),
        "orm.compile_s": self_s("orm.compile"),
        "orm.collect_s": self_s("orm.collect"),
        "orm.jobs": jobs("orm.query"),
    }
    for mod in MODULES:
        q = f"queries.{mod}"
        m[f"{q}.build_s"] = self_s(f"{q}.build")
        m[f"{q}.exec_s"] = self_s(f"{q}.exec")
        m[f"{q}.jobs"] = jobs(q)
        m[f"{q}.tasks"] = per_call(q, lambda a: a.incl.tasks)
        m[f"{q}.shuffle_bytes"] = per_call(q, lambda a: a.incl.shuffle_bytes)
    for v in VERBS:
        s = f"streaming_exec.{v}"
        m[f"{s}_s"] = self_s(s)
        m[f"{s}_jobs"] = jobs(s)
        m[f"{s}_tasks"] = per_call(s, lambda a: a.incl.tasks)
    # Whole-run Spark figures over the top-level (call) spans.
    top = [i for i, sp in enumerate(tracer.spans) if sp.parent is None]
    cycles = {tracer.spans[i].cycle for i in top}
    total = JobStats()
    wall = 0.0
    for i in top:
        sp = tracer.spans[i]
        total = total + tracer.meter.stats(*sp.jobs)
        wall += sp.end - sp.start
    m["spark.exec_cpu_s"] = total.cpu_s / len(cycles) if cycles else 0.0
    m["spark.parallel_eff"] = total.run_s / (wall * cores) if wall else 0.0
    m["trace.overhead_share"] = overhead
    m["trace.call_geomean_s"] = call_geomean_s
    for k in metric_names():
        m.setdefault(k, 0.0)
    m.update(store_metrics)
    return {k: float(m[k]) for k in metric_names()}
