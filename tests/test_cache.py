"""The session-keyed caches of persisted frames (no Spark session).

``cache.evict_session_frames`` is the one eviction rule of the
persisted-frame caches (``lm._SCORED_CACHE``,
``quality_clf._CLF_FEATS_CACHE``): other applications' entries go,
same-application entries are capped, and every dropped frame is
unpersisted.  Stub frames record the ``unpersist`` calls.
"""

from __future__ import annotations

from types import SimpleNamespace

from kcidb_spark.cache import evict_session_frames
from kcidb_spark.queries import lm


class _Frame:
    def __init__(self, name: str, log: list) -> None:
        self.name, self.log = name, log

    def persist(self, *_a):
        return self

    def count(self) -> int:
        return 0

    def unpersist(self, *_a):
        self.log.append(self.name)
        return self


def test_evict_prunes_other_apps_then_caps_oldest_first():
    log = []
    cache = {
        ("app0", "/a"): _Frame("app0:/a", log),
        ("app1", "/a"): _Frame("app1:/a", log),
        ("app1", "/b"): _Frame("app1:/b", log),
    }
    evict_session_frames(cache, "app1")
    assert log == ["app0:/a", "app1:/a"]
    assert list(cache) == [("app1", "/b")]
    evict_session_frames(cache, "app1")
    assert list(cache) == [("app1", "/b")]   # room for one more insert
    cache[("app1", "/c")] = _Frame("app1:/c", log)
    evict_session_frames(cache, "app1")
    assert list(cache) == [("app1", "/c")] and log[-1] == "app1:/b"


def test_evict_survives_a_frame_whose_session_is_gone():
    class _Dead:
        def unpersist(self, *_a):
            raise RuntimeError("SparkContext was shut down")

    cache = {("gone", "/a"): _Dead()}
    evict_session_frames(cache, "live")
    assert cache == {}


def test_lm_score_cache_is_capped_like_its_twin(monkeypatch, tmp_path):
    log = []
    monkeypatch.setattr(lm, "_SCORED_CACHE", {
        ("old_app", "/x"): _Frame("old_app:/x", log),
    })
    monkeypatch.setattr(lm, "table", lambda _s, sf, _t, **_k: sf)
    monkeypatch.setattr(lm, "doc_surprisal", lambda sf: _Frame(sf, log))
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app")
    )
    dirs = [str(tmp_path / f"sf{i}") for i in range(4)]
    for d in dirs:
        assert lm._scored_docs(spark, d).name == d
        assert len(lm._SCORED_CACHE) <= 2
    assert lm._scored_docs(spark, dirs[-1]).name == dirs[-1]  # a hit
    assert log == ["old_app:/x", dirs[0], dirs[1]]
    assert [k[0] for k in lm._SCORED_CACHE] == ["app", "app"]
