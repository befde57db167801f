"""Closure query semantics — mirror of kcidb/test_db.py:2535-2722."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from kcidb_spark.closure import query_store, query_store_iter
from kcidb_spark.schema.graph import (
    ID_FIELDS,
    TABLES,
    TOPO_DOWN,
    TOPO_UP,
    parents_of,
)
from kcidb_spark.store import Store
from tests.kcidb_fixtures import graph_fixture


@pytest.fixture(scope="module")
def loaded_store(spark, tmp_path_factory):
    store = Store(spark, str(tmp_path_factory.mktemp("closure") / "store"))
    store.load(graph_fixture())
    return store


def _ids(report: dict, table: str) -> set:
    return {o["id"] for o in report.get(table, [])}


def test_children_from_checkout_1(loaded_store):
    r = query_store(loaded_store, ids={"checkouts": ["_:1"]}, children=True)
    assert _ids(r, "checkouts") == {"_:1"}
    assert _ids(r, "builds") == {"_:1"}
    assert _ids(r, "tests") == {"_:1"}
    assert "issues" not in r  # issues are not children of anything
    assert _ids(r, "incidents") == {"_:1", "_:2", "_:4"}
    # full rows, not just ids
    assert r["builds"][0] == {"checkout_id": "_:1", "id": "_:1", "origin": "_"}


def test_children_from_checkout_2(loaded_store):
    r = query_store(loaded_store, ids={"checkouts": ["_:2"]}, children=True)
    assert _ids(r, "checkouts") == {"_:2"}
    assert _ids(r, "builds") == {"_:2"}
    assert _ids(r, "tests") == {"_:2"}
    assert _ids(r, "incidents") == {"_:3", "_:5"}


def test_parents_from_incident_3(loaded_store):
    r = query_store(loaded_store, ids={"incidents": ["_:3"]}, parents=True)
    assert _ids(r, "checkouts") == {"_:2"}
    assert _ids(r, "builds") == {"_:2"}
    assert _ids(r, "tests") == {"_:2"}
    assert {(i["id"], i["version"]) for i in r["issues"]} == {("_:3", 1)}
    assert _ids(r, "incidents") == {"_:3"}


def test_parents_then_children_from_incident_3(loaded_store):
    # parents run BEFORE children; children then re-derive descendants
    # of the added ancestors (so incident _:5 via test _:2 appears, but
    # issue _:4 of _:5 does NOT — parents are not re-run).
    r = query_store(
        loaded_store, ids={"incidents": ["_:3"]}, parents=True, children=True
    )
    assert _ids(r, "checkouts") == {"_:2"}
    assert _ids(r, "builds") == {"_:2"}
    assert _ids(r, "tests") == {"_:2"}
    assert {(i["id"], i["version"]) for i in r["issues"]} == {("_:3", 1)}
    assert _ids(r, "incidents") == {"_:3", "_:5"}


def test_no_flags_returns_only_explicit(loaded_store):
    r = query_store(loaded_store, ids={"builds": ["_:1"]})
    assert _ids(r, "builds") == {"_:1"}
    assert "checkouts" not in r
    assert "tests" not in r


def test_empty_ids_match_nothing(loaded_store):
    r = query_store(loaded_store, ids={"checkouts": []}, children=True)
    assert set(r) == {"version"}


def test_composite_issue_ids(loaded_store):
    r = query_store(loaded_store, ids={"issues": [("_:4", 1)]}, children=True)
    assert {(i["id"], i["version"]) for i in r["issues"]} == {("_:4", 1)}
    assert _ids(r, "incidents") == {"_:4", "_:5"}


def test_unknown_type_rejected(loaded_store):
    with pytest.raises(ValueError, match="unknown object types"):
        query_store(loaded_store, ids={"bogus": ["x"]})


# -- model-based: the walk against a pure-Python closure ------------------
CHECKOUTS = ["h:c0", "h:c1"]
BUILDS = ["h:b0", "h:b1", "h:b2"]
TESTS = ["h:t0", "h:t1", "h:t2"]
ISSUES = [("h:i0", 1), ("h:i0", 2), ("h:i1", 1)]
INCIDENTS = ["h:n0", "h:n1", "h:n2"]
#: Keys no load submits: FKs and seeds that point at them reach
#: orphans.
ABSENT = {"checkouts": "h:c9", "builds": "h:b9", "tests": "h:t9",
          "issues": ("h:i9", 1), "incidents": "h:n9"}
UNIVERSE = {"checkouts": CHECKOUTS, "builds": BUILDS, "tests": TESTS,
            "issues": ISSUES, "incidents": INCIDENTS}


def _key(table: str, obj: dict) -> tuple:
    return tuple(obj[f] for f in ID_FIELDS[table])


def _obj(table: str, key, **fks) -> dict:
    if table == "issues":
        obj = {"id": key[0], "version": key[1]}
    else:
        obj = {"id": key}
    obj["origin"] = "h"
    if "issue" in fks:
        obj["issue_id"], obj["issue_version"] = fks.pop("issue")
    obj.update({k: v for k, v in fks.items() if v is not None})
    return obj


@st.composite
def _loads(draw):
    """2-3 reports over a fixed id universe: each object is left out of
    a load or submitted with freshly drawn FKs, so re-submissions move
    FKs between parents, incidents may omit their optional FKs (the
    older value stays), and FKs may point at absent parents."""
    fk = st.sampled_from
    reports = []
    for _ in range(draw(st.integers(2, 3))):
        rep = {"version": {"major": 5, "minor": 3}}
        objs = {
            "checkouts": [_obj("checkouts", k) for k in CHECKOUTS
                          if draw(st.booleans())],
            "builds": [_obj("builds", k, checkout_id=c) for k in BUILDS
                       if (c := draw(st.none() | fk(CHECKOUTS + ["h:c9"])))],
            "tests": [_obj("tests", k, build_id=b) for k in TESTS
                      if (b := draw(st.none() | fk(BUILDS + ["h:b9"])))],
            "issues": [_obj("issues", k) for k in ISSUES
                       if draw(st.booleans())],
            "incidents": [
                _obj("incidents", k, issue=i,
                     build_id=draw(fk([None, *BUILDS, "h:b9"])),
                     test_id=draw(fk([None, *TESTS, "h:t9"])))
                for k in INCIDENTS
                if (i := draw(st.none() | fk(ISSUES + [("h:i9", 1)])))
            ],
        }
        rep.update({t: v for t, v in objs.items() if v})
        reports.append(rep)
    ids = {t: draw(st.lists(st.sampled_from([*pool, ABSENT[t]]),
                            max_size=2, unique=True))
           for t, pool in UNIVERSE.items()}
    return reports, {t: v for t, v in ids.items() if v}


#: Hits every case on its own: build h:b1 and test h:t1 move to another
#: parent, incident h:n0 re-submits without its build and test (the
#: older values stay), seed h:c9 is absent but has orphan build h:b2,
#: and issue seed (h:i0, 2) is one version of a composite key.
_FIXED = (
    [
        {"version": {"major": 5, "minor": 3},
         "checkouts": [_obj("checkouts", c) for c in CHECKOUTS],
         "builds": [_obj("builds", "h:b0", checkout_id="h:c0"),
                    _obj("builds", "h:b1", checkout_id="h:c0"),
                    _obj("builds", "h:b2", checkout_id="h:c9")],
         "tests": [_obj("tests", "h:t0", build_id="h:b0"),
                   _obj("tests", "h:t1", build_id="h:b1"),
                   _obj("tests", "h:t2", build_id="h:b9")],
         "issues": [_obj("issues", i) for i in ISSUES],
         "incidents": [
             _obj("incidents", "h:n0", issue=("h:i0", 2),
                  build_id="h:b0", test_id="h:t0"),
             _obj("incidents", "h:n1", issue=("h:i1", 1), test_id="h:t1"),
             _obj("incidents", "h:n2", issue=("h:i9", 1), build_id="h:b2"),
         ]},
        {"version": {"major": 5, "minor": 3},
         "builds": [_obj("builds", "h:b1", checkout_id="h:c1")],
         "tests": [_obj("tests", "h:t1", build_id="h:b2")],
         "incidents": [_obj("incidents", "h:n0", issue=("h:i0", 1))]},
    ],
    {"checkouts": ["h:c0", "h:c9"], "issues": [("h:i0", 2)]},
)


def _model(reports, ids, parents, children) -> dict:
    """The reference closure over the latest-non-NULL objects."""
    objs = {t: {} for t in TABLES}
    for rep in reports:
        for t in TABLES:
            for o in rep.get(t, ()):
                objs[t].setdefault(_key(t, o), {}).update(o)
    keys = {t: {k if isinstance(k, tuple) else (k,) for k in ids.get(t, ())}
            for t in TABLES}

    def fk(o, edge):
        return tuple(o.get(c) for c in edge.child_fk)

    if parents:
        for t in TOPO_UP:
            for k in list(keys[t]):
                for edge in parents_of(t):
                    if k in objs[t] and None not in fk(objs[t][k], edge):
                        keys[edge.parent].add(fk(objs[t][k], edge))
    if children:
        for t in TOPO_DOWN:
            for edge in parents_of(t):
                keys[t] |= {k for k, o in objs[t].items()
                            if fk(o, edge) in keys[edge.parent]}
    return {t: [objs[t][k] for k in sorted(keys[t]) if k in objs[t]]
            for t in TABLES}


@given(history=_loads())
@example(history=_FIXED)
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_closure_matches_model(spark, tmp_path_factory, history):
    """query_store equals a pure-Python closure over the latest non-NULL
    objects for every parents/children combination, and
    query_store_iter's chunks merge back into query_store's report."""
    reports, ids = history
    store = Store(spark, str(tmp_path_factory.mktemp("model") / "store"))
    t0 = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc)
    for n, rep in enumerate(reports):
        store.load(rep, timestamp=t0 + datetime.timedelta(days=n))
    for parents in (False, True):
        for children in (False, True):
            got = query_store(store, ids, parents=parents, children=children)
            want = _model(reports, ids, parents, children)
            assert {t: got.get(t, []) for t in TABLES} == want, (
                parents, children)
    merged = {t: [] for t in TABLES}
    for chunk in query_store_iter(store, ids, parents=True, children=True,
                                  objects_per_report=2):
        for t in TABLES:
            merged[t] += chunk.get(t, [])
    assert merged == {t: got.get(t, []) for t in TABLES}
