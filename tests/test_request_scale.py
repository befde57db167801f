"""Request-scale kcidb calls: the Arrow ``Store.load`` path is
row-identical to the stock row path, the dedup view's expression
strings plan exactly like the Column form, and the submit, closure and
pattern calls stay within pinned Spark job budgets."""

from __future__ import annotations

import copy
import datetime
import json
import re

import pytest
from pyspark.sql import functions as F

from kcidb_spark.localrel import local_records_df
from kcidb_spark.schema import TABLES, schema_for
from kcidb_spark.schema.io import merge
from kcidb_spark.store import Store, dedup_view, pack_rows
from tests.kcidb_fixtures import COMPREHENSIVE

UTC = datetime.timezone.utc
LOAD_TS = datetime.datetime(2025, 9, 1, 12, 0, tzinfo=UTC)


def _stock(sess, rows, schema):
    return sess.createDataFrame(rows, schema)


def _is_local(df) -> bool:
    """True for a LocalRelation; the stock row path is an RDD scan."""
    return "LocalRelation" in df._jdf.queryExecution().logical().toString()


def _rows(df):
    """Sorted rows as JSON strings: ``to_json`` renders timestamps in
    the session zone, where collect would use the driver's local one."""
    return sorted(df.select(F.to_json(F.struct(*df.columns))).collect())


def _odd_report() -> dict:
    """COMPREHENSIVE plus the value shapes the Arrow path must carry
    like the row path: times at non-UTC offsets, absent struct members
    (NULL), empty lists, a second object of each nested type."""
    rep = copy.deepcopy(COMPREHENSIVE)
    rep["checkouts"][0]["start_time"] = "2025-08-14T23:08:06.967000-07:00"
    test = rep["tests"][0]
    test["start_time"] = "2025-08-15T05:30:00.000001+05:30"
    sparse = {
        "build_id": test["build_id"], "id": "origin:test-2",
        "origin": "origin", "environment": {"comment": "bare"},
        "number": {"value": -0.5}, "output_files": [],
        "start_time": "2025-08-15T00:00:00+01:00",
        "misc": {"empty": {}, "none": None},
    }
    rep["tests"].append(sparse)
    rep["issues"].append({
        "id": "origin:issue-2", "version": 1, "origin": "origin",
        "culprit": {"tool": True}, "categories": [],
    })
    return rep


def _raw_rows(store: Store) -> dict:
    return {t: _rows(store.raw(t)) for t in TABLES}


def test_arrow_load_rows_match_row_path(spark, tmp_path, monkeypatch):
    """Store.load through Arrow writes the rows the stock
    ``createDataFrame(rows, schema)`` path writes — first for a report
    of nested structs, JSON misc, offset times, NULL members and empty
    lists, then for its ``dump(with_metadata=True)``, whose objects
    carry their own ``_timestamp`` (one of them re-expressed at a
    non-UTC offset)."""
    rep = _odd_report()
    fast = Store(spark, str(tmp_path / "fast"))
    fast.load(rep, timestamp=LOAD_TS)
    dumped = fast.dump(with_metadata=True)
    ts = dumped["tests"][0]["_timestamp"]
    dumped["tests"][0]["_timestamp"] = (
        datetime.datetime.fromisoformat(ts)
        .astimezone(datetime.timezone(datetime.timedelta(hours=-3)))
        .isoformat()
    )
    again = Store(spark, str(tmp_path / "fast2"))
    again.load(dumped)

    monkeypatch.setattr("kcidb_spark.store.local_records_df", _stock)
    slow = Store(spark, str(tmp_path / "slow"))
    slow.load(rep, timestamp=LOAD_TS)
    slow_again = Store(spark, str(tmp_path / "slow2"))
    slow_again.load(dumped)

    assert _raw_rows(fast) == _raw_rows(slow)
    assert _raw_rows(again) == _raw_rows(slow_again)


def test_arrow_frame_carries_null_members(spark):
    """Packed rows with explicit NULL members, empty lists and an
    all-NULL struct: same schema and rows as the row path, and the
    frame is a LocalRelation."""
    rows = pack_rows("tests", _odd_report()["tests"], LOAD_TS)
    rows.append({"id": "origin:test-3", "build_id": "origin:build-1",
                 "origin": "origin", "environment": {"comment": None,
                                                     "compatible": []},
                 "number": None, "path": None, "input_files": [],
                 "_timestamp": LOAD_TS})
    schema = schema_for("tests", with_metadata=True)
    fast = local_records_df(spark, rows, schema)
    assert _is_local(fast)
    slow = spark.createDataFrame(rows, schema)
    assert fast.schema == slow.schema
    assert _rows(fast) == _rows(slow)


@pytest.mark.parametrize("force", ["naive time", "conversion error"])
def test_arrow_frame_falls_back(spark, monkeypatch, force):
    """A naive datetime (local time on the row path, UTC under Arrow)
    or any Arrow conversion error takes the stock path, same rows."""
    import pyarrow as pa

    rows = pack_rows("tests", _odd_report()["tests"], LOAD_TS)
    if force == "naive time":
        rows[0]["_timestamp"] = LOAD_TS.replace(tzinfo=None)
    else:
        def boom(*a, **k):
            raise pa.ArrowInvalid("forced")

        monkeypatch.setattr("pyspark.sql.pandas.types.to_arrow_schema", boom)
    schema = schema_for("tests", with_metadata=True)
    df = local_records_df(spark, rows, schema)
    assert not _is_local(df)
    assert _rows(df) == _rows(spark.createDataFrame(rows, schema))


def _column_form_dedup(raw, keys):
    """The dedup view as a Column tree (the form the expression
    strings replace)."""
    others = [c for c in raw.columns if c not in keys and c != "_timestamp"]
    aggs = [
        F.max(
            F.when(
                F.col(c).isNotNull(),
                F.struct(F.col("_timestamp").alias("t"), F.col(c).alias("v")),
            )
        )["v"].alias(c)
        for c in others
    ]
    aggs.append(F.max("_timestamp").alias("_timestamp"))
    return raw.groupBy(*keys).agg(*aggs).select(*raw.columns)


def _plan(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", text)


@pytest.mark.parametrize("table", TABLES)
def test_dedup_view_plans_like_column_form(spark, tmp_path, table):
    from kcidb_spark.schema.graph import ID_FIELDS

    store = Store(spark, str(tmp_path / "s"))
    store.load(COMPREHENSIVE, timestamp=LOAD_TS)
    raw = store.raw(table)
    assert _plan(dedup_view(raw, table, with_metadata=True)) == _plan(
        _column_form_dedup(raw, list(ID_FIELDS[table]))
    )


# -- Spark job budgets ----------------------------------------------------
#: Jobs per call, counted by job-id range (the way perfbench
#: attributes jobs); before the request-scale rework these calls ran
#: 30, 27 and 12, and the closure ran 23 before its key walk.  A
#: literal id frame built as a Python RDD (its broadcast needs a job),
#: a second execution of the spool plan or a table fetched twice by
#: the closure breaks a budget.
SUBMIT_JOBS = 10
CLOSURE_JOBS = 9
PATTERN_JOBS = 12


def _jobs(spark, fn):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = int(dag.nextJobId())
    out = fn()
    return int(dag.nextJobId()) - first, out


def _submission(n: int, build_status: str) -> dict:
    """One checkout with two builds and three tests, origin "test" (so
    the default "test" subscription notifies on every object)."""
    c = f"test:c{n}"
    return {
        "version": {"major": 5, "minor": 3},
        "checkouts": [{"id": c, "origin": "test"}],
        "builds": [{"id": f"test:b{n}.{k}", "origin": "test",
                    "checkout_id": c, "status": build_status}
                   for k in range(2)],
        "tests": [{"id": f"test:t{n}.{k}", "origin": "test",
                   "build_id": f"test:b{n}.0", "status": "PASS"}
                  for k in range(3)],
    }


def test_request_scale_job_budgets(spark, tmp_path, monkeypatch):
    """One 2-report submit (one report re-submits a loaded checkout),
    one closure query with parents and children, and one ORM pattern
    query, each within its job budget and with its expected result."""
    import kcidb_spark.closure as closure_mod
    from kcidb_spark.closure import query_store
    from kcidb_spark.orm import compile_patterns, parse_pattern, type_views
    from kcidb_spark.streaming import IngestPipeline, NotificationSpool
    from kcidb_spark.streaming.notify import default_subscriptions

    store = Store(spark, str(tmp_path / "store"))
    spool = NotificationSpool(spark, str(tmp_path / "spool"))
    pipeline = IngestPipeline(store, spool, default_subscriptions())
    store.load(merge(_submission(0, "PASS"), [_submission(1, "PASS")]))

    batch = [json.dumps(_submission(1, "FAIL")),
             json.dumps(_submission(2, "PASS"))]
    jobs, _ = _jobs(spark, lambda: pipeline.ingest_batch(batch))
    # "test" on 2 checkouts + 4 builds + 6 tests, "build_failures" on
    # the re-submitted checkout's 2 builds.
    assert pipeline.spooled == 14
    assert jobs <= SUBMIT_JOBS, f"submit ran {jobs} jobs"

    fetches, fetch = [], closure_mod.key_rows

    def key_rows(*args):
        df = fetch(*args)
        fetches.append(df._jdf.queryExecution().logical().toString())
        return df

    monkeypatch.setattr(closure_mod, "key_rows", key_rows)
    jobs, report = _jobs(spark, lambda: query_store(
        store, ids={"checkouts": ["test:c1"]}, parents=True, children=True))
    monkeypatch.undo()
    assert {t: len(report.get(t, [])) for t in TABLES} == {
        "checkouts": 1, "builds": 2, "tests": 3, "issues": 0, "incidents": 0}
    assert jobs <= CLOSURE_JOBS, f"closure ran {jobs} jobs"
    # One fetch per table holding matches, none over a Python RDD.
    assert len(fetches) == 3
    assert not any("LogicalRDD" in plan for plan in fetches)

    def pattern():
        views = type_views({t: store.table(t, with_metadata=True)
                            for t in TABLES})
        pats = parse_pattern('>checkout["test:c1"]>build#>test#')
        dfs = compile_patterns(spark, views, pats)
        # The id restriction is a local relation, not a Python RDD
        # (which costs tasks on every action but no extra job).
        assert not any("LogicalRDD" in df._jdf.queryExecution().logical()
                       .toString() for df in dfs.values())
        return {t: len(df.collect()) for t, df in dfs.items()}

    jobs, rows = _jobs(spark, pattern)
    assert rows == {"build": 2, "test": 3}
    assert jobs <= PATTERN_JOBS, f"pattern query ran {jobs} jobs"


def test_key_rows_filter_reaches_the_scan(spark, tmp_path):
    """A fetch's key IN-list is pushed through the dedup aggregate to
    the parquet scan; a composite key pushes its first field."""
    from kcidb_spark.store import key_rows

    store = Store(spark, str(tmp_path / "s"))
    store.load(_odd_report(), timestamp=LOAD_TS)

    def pushed(table, keys):
        text = (key_rows(store, table, keys)._jdf.queryExecution()
                .executedPlan().toString())
        scan = next(ln for ln in text.splitlines() if "FileScan" in ln)
        return scan.split("PushedFilters: ", 1)[1]

    assert "In(id, [origin:test-1,origin:test-2])" in pushed(
        "tests", [("origin:test-2",), ("origin:test-1",)])
    assert "In(id, [origin:issue-1,origin:issue-2])" in pushed(
        "issues", [("origin:issue-1", 3), ("origin:issue-2", 1)])
    assert key_rows(store, "issues", [("origin:issue-2", 1)]).count() == 1
    assert key_rows(store, "issues", [("origin:issue-2", 2)]).count() == 0
    assert key_rows(store, "tests", []).count() == 0
