"""Null/mux/json drivers + the archive job (SURVEY §2.1 S4-S6, S10)."""

from __future__ import annotations

import datetime
import io

import pytest

from kcidb_spark.store import Store
from kcidb_spark.store.drivers import MuxStore, NullStore, archive, json_store
from tests.kcidb_fixtures import COMPREHENSIVE

UTC = datetime.timezone.utc


def test_null_store(spark):
    ns = NullStore(spark)
    ns.load(COMPREHENSIVE)  # validated, discarded
    assert ns.table("builds").count() == 0
    assert ns.dump() == {"version": {"major": 5, "minor": 3}}
    with pytest.raises(Exception):
        ns.load({"version": {"major": 5, "minor": 3}, "builds": [{"bogus": 1}]})


def test_json_store_roundtrip(spark, tmp_path):
    st = json_store(spark, str(tmp_path / "js"), COMPREHENSIVE)
    dumped = st.dump()
    assert {o["id"] for o in dumped["checkouts"]} == {
        o["id"] for o in COMPREHENSIVE["checkouts"]
    }
    assert len(dumped["builds"]) == len(COMPREHENSIVE["builds"])


def test_mux_fanout(spark, tmp_path):
    a = Store(spark, str(tmp_path / "a"))
    b = Store(spark, str(tmp_path / "b"))
    mux = MuxStore([a, b, NullStore(spark)])
    mux.load(COMPREHENSIVE)
    # Every real member got the rows; queries hit the first member.
    assert a.table("tests").count() == len(COMPREHENSIVE["tests"])
    assert b.table("tests").count() == len(COMPREHENSIVE["tests"])
    assert mux.table("tests").count() == len(COMPREHENSIVE["tests"])
    with pytest.raises(ValueError):
        MuxStore([])


def test_mux_closure_queries_first_member(spark, tmp_path, monkeypatch, capsys):
    """Closure queries on a mux answer from its first member, as its
    dumps do: the API calls and ``query -d "mux:…"`` return the first
    member's closure, not the second's extra build."""
    import json

    from kcidb_spark import cli
    from kcidb_spark.closure import query_store, query_store_iter
    from tests.kcidb_fixtures import graph_fixture

    a = Store(spark, str(tmp_path / "a"))
    b = Store(spark, str(tmp_path / "b"))
    mux = MuxStore([a, b])
    mux.load(graph_fixture())
    b.load({"version": {"major": 5, "minor": 3},
            "builds": [{"id": "_:9", "origin": "_", "checkout_id": "_:1"}]})
    ids = {"checkouts": ["_:1"]}
    want = query_store(a, ids, children=True)
    assert {o["id"] for o in want["builds"]} == {"_:1"}
    assert query_store(mux, ids, children=True) == want
    assert list(query_store_iter(mux, ids, children=True)) == [want]

    monkeypatch.setattr("sys.stdin", io.StringIO(""))
    spec = f"mux:{tmp_path / 'a'} {tmp_path / 'b'}"
    assert cli.main(["query", "-d", spec, "-c", "_:1", "--children"]) == 0
    assert json.loads(capsys.readouterr().out) == want


def test_archive_windowed_copy(spark, tmp_path):
    src = Store(spark, str(tmp_path / "src"))
    dst = Store(spark, str(tmp_path / "dst"))
    t1 = datetime.datetime(2025, 1, 1, tzinfo=UTC)
    t2 = datetime.datetime(2025, 1, 10, tzinfo=UTC)
    src.load(COMPREHENSIVE, timestamp=t2)
    # Window excluding the data copies nothing.
    archive(src, dst, after=t2, until=t2 + datetime.timedelta(days=1))
    assert dst.table("builds").count() == 0
    # Window covering the data copies raw rows chunk by chunk.
    reached = archive(
        src, dst, after=t1, until=t2, chunk=datetime.timedelta(days=3)
    )
    assert reached == t2
    for t in ("checkouts", "builds", "tests", "issues", "incidents"):
        assert dst.table(t).count() == src.table(t).count(), t
    # Idempotent under re-copy: dedup view unchanged.
    archive(src, dst, after=t1, until=t2)
    assert dst.table("builds").count() == src.table("builds").count()


def test_archive_deadline(spark, tmp_path):
    src = Store(spark, str(tmp_path / "src2"))
    dst = Store(spark, str(tmp_path / "dst2"))
    t0 = datetime.datetime(2025, 3, 1, tzinfo=UTC)
    src.load(COMPREHENSIVE, timestamp=t0 + datetime.timedelta(days=1))
    reached = archive(
        src,
        dst,
        after=t0,
        until=t0 + datetime.timedelta(days=30),
        chunk=datetime.timedelta(days=1),
        deadline_s=0.0,
    )
    # Deadline of 0 stops after the first chunk; watermark reflects it.
    assert reached == t0 + datetime.timedelta(days=1)


def test_mux_schema_version_lattice(spark, tmp_path):
    """The reference mux driver's schema-version lattice
    (kcidb/db/mux.py:69-168): members at different schema majors
    coexist — the mux speaks the LOWEST member version, upgrades
    reports per-member on load, and upgrade() migrates held-back
    members in place."""
    from kcidb_spark.store.versioning import STORE_VERSION, read_version
    from tests.test_store_versioning import _write_v4_store

    root4 = str(tmp_path / "v4member")
    _write_v4_store(spark, root4)
    a = Store(spark, root4, migrate=False)  # pinned at v4.1
    b = Store(spark, str(tmp_path / "v5member"))
    assert a.io_version() == (4, 1)
    mux = MuxStore([a, b])

    # Lattice: v0.0 = current versions (io = min = v4); v1.0 = all
    # members at the latest (io = v5).
    assert mux.io_version() == (4, 1)
    lattice = mux.schemas()
    assert lattice[(0, 0)] == ((4, 1), [(4, 1), STORE_VERSION])
    assert lattice[(1, 0)] == (STORE_VERSION, [STORE_VERSION, STORE_VERSION])

    # A v5 report is rejected while the mux schema is v4.
    with pytest.raises(ValueError, match="upgrade"):
        mux.load(COMPREHENSIVE)

    # A v4 report loads: member A stores it AT v4 (valid survives),
    # member B receives the per-member-upgraded v5 form (status).
    v4_report = {
        "version": {"major": 4, "minor": 1},
        "builds": [
            {"id": "x:b9", "origin": "x", "checkout_id": "_:c1",
             "valid": True},
        ],
    }
    mux.load(v4_report)
    a_builds = {o["id"]: o for o in a.dump()["builds"]}
    assert a_builds["x:b9"]["valid"] is True and "status" not in a_builds["x:b9"]
    b_builds = {o["id"]: o for o in b.dump()["builds"]}
    assert b_builds["x:b9"]["status"] == "PASS" and "valid" not in b_builds["x:b9"]
    # The v4 member's dump declares ITS version.
    assert a.dump()["version"] == {"major": 4, "minor": 1}

    # upgrade(): walks the lattice, migrating A in place (v4→v5
    # rewrite: valid→status, waived→incident, contacts dropped).
    mux.upgrade()
    assert mux.io_version() == STORE_VERSION
    assert read_version(root4) == STORE_VERSION
    a_builds = {o["id"]: o for o in a.dump()["builds"]}
    assert a_builds["x:b9"].get("status") == "PASS"
    assert all("valid" not in o for o in a_builds.values())

    # Now the v5 report loads everywhere and the mux dumps the
    # intersection (current) schema.
    mux.load(COMPREHENSIVE)
    dump = mux.dump()
    assert dump["version"] == {
        "major": STORE_VERSION[0], "minor": STORE_VERSION[1]
    }
    comp_ids = {o["id"] for o in COMPREHENSIVE["tests"]}
    for member in (a, b):
        got = {r["id"] for r in member.table("tests").select("id").collect()}
        assert comp_ids <= got

    # Direct compatibility also bounds the MINOR version (reference
    # io_schema.is_compatible_directly): a report newer in minor than
    # the mux schema is rejected up front, not in per-member field
    # validation (ADVICE r7).
    future_minor = {
        "version": {
            "major": STORE_VERSION[0], "minor": STORE_VERSION[1] + 6
        },
        "builds": [],
    }
    with pytest.raises(ValueError, match="upgrade"):
        mux.load(future_minor)


def test_driver_maintenance_surface(spark, tmp_path):
    """Every driver answers the full store surface the CLI db-* verbs
    use (ADVICE r6: SqliteStore.compact, Null/Mux dump_iter/sql/empty/
    purge/compact)."""
    from kcidb_spark.store.drivers import open_store

    t0 = datetime.datetime(2025, 1, 1, tzinfo=UTC)
    null = open_store(spark, "null")
    null.load(COMPREHENSIVE)
    assert list(null.dump_iter(10)) == [{"version": {"major": 5, "minor": 3}}]
    assert null.sql("SELECT count(*) AS n FROM builds").collect()[0]["n"] == 0
    null.empty(); null.purge(t0); null.compact()
    assert null.first_modified() == {} and null.last_modified() == {}

    a = Store(spark, str(tmp_path / "ma"))
    sq_path = str(tmp_path / "m.db")
    mux = open_store(spark, f"mux:{tmp_path / 'ma'} sqlite:{sq_path}")
    early = datetime.datetime(2024, 6, 1, tzinfo=UTC)
    mux.load(COMPREHENSIVE, timestamp=early)
    n_builds = len(COMPREHENSIVE["builds"])
    # dump_iter / sql delegate to the first member.
    chunks = list(mux.dump_iter(5))
    assert sum(len(c.get("builds", [])) for c in chunks) == n_builds
    assert mux.sql(
        "SELECT count(*) AS n FROM builds"
    ).collect()[0]["n"] == n_builds
    # first/last_modified merge across members (min/max per table).
    assert mux.first_modified()["builds"] == early
    assert mux.last_modified()["builds"] == early
    # compact() fans out (sqlite compacts via dedup-view rewrite).
    mux.load(COMPREHENSIVE, timestamp=t0)  # second version of each row
    mux.compact()
    for member in mux.members:
        assert member.raw("builds").count() == n_builds, type(member)
        assert member.table("builds").count() == n_builds
    # purge() fans out.
    mux.purge(datetime.datetime(2026, 1, 1, tzinfo=UTC))
    for member in mux.members:
        assert member.table("builds").count() == 0
    # empty() fans out.
    mux.load(COMPREHENSIVE)
    mux.empty()
    for member in mux.members:
        assert member.table("builds").count() == 0
