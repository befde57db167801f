"""bench.py's per-round detail slot: a run pinned to a non-default
core count writes a cpu-suffixed file, and only unsuffixed detail
files are folded as regression baselines."""

from __future__ import annotations

import json
import os

import bench


def test_detail_name_suffixes_non_default_cpus(monkeypatch):
    default = os.cpu_count() or 8
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench._detail_name(17) == "BENCH_DETAIL_r17.json"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(default))
    assert bench._detail_name(17) == "BENCH_DETAIL_r17.json"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(default + 1))
    assert bench._detail_name(5) == f"BENCH_DETAIL_r05_c{default + 1}.json"


def test_regressions_fold_only_unsuffixed_detail(monkeypatch, tmp_path):
    def detail(name, queries):
        (tmp_path / name).write_text(
            json.dumps({"sf": 0.1, "queries": queries})
        )

    detail("BENCH_DETAIL_r16.json", {"a": 1.0, "b": 1.0, "c": 1.0})
    # A reduced-core run of another host shape: never a baseline.
    detail("BENCH_DETAIL_r16_c8.json", {"a": 1.0, "b": 1.0, "c": 0.2})
    monkeypatch.setattr(bench, "REPO", tmp_path)
    flagged, _cal, n_base = bench._regressions(
        {"a": 1.0, "b": 1.0, "c": 3.0}, 0.1
    )
    assert n_base == 3
    assert flagged["c"][1] == 1.0
