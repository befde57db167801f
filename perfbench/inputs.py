"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, directory)``: it writes
files under the directory and returns a small plan (what the workload
will submit, probe and expect).  Nothing here imports Spark, so all
generation cost is paid before the session starts and never inside a
timed call — the program under test only ever sees the written files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# kcidb_lifecycle: v5.3 report batches
# ---------------------------------------------------------------------------

#: Origins of generated reports; the built-in "test" subscription
#: fires on objects whose origin is "test".
ORIGINS = ("test", "ci_a", "ci_b")
BUILDS_PER_CHECKOUT = 3
TESTS_PER_BUILD = 4
INCIDENTS_PER_REPORT = 2
ARCHES = ("x86_64", "arm64", "riscv64")
TEST_PATHS = ("boot", "ltp.sem01", "kselftest.net", "baseline.dmesg")


#: Batches loaded untimed before the first timed cycle, so that the
#: first timed submit re-submits earlier ids and every read after its
#: load (the subscription match, the closure and pattern queries)
#: meets superseded rows.
HISTORY_BATCHES = 1


@dataclass
class KcidbPlan:
    """What the kcidb workload submits and what it must read back.

    Per-batch lists cover the ``HISTORY_BATCHES`` history batches first,
    then one batch per timed cycle."""

    #: One JSON-lines file of report strings per batch.
    batch_files: list[str]
    #: Per batch: checkout id queried by closure.query_store.
    closure_ids: list[str]
    #: Per batch: checkout id whose builds and tests the ORM pattern
    #: selects.
    pattern_ids: list[str]
    #: checkout id -> {"builds": n, "tests": n, "incidents": n}.
    subtree: dict[str, dict[str, int]]
    #: Per batch: cumulative notifications the default subscriptions
    #: must have spooled after that batch's submit (0 for history
    #: batches, which bypass the pipeline).
    spooled_after: list[int]
    #: Per batch: ids per table submitted up to and including it.
    ids_after: list[dict[str, int]]
    #: Per batch: checkout ids it re-submits.
    resubmitted: list[list[str]] = field(default_factory=list)
    #: Bytes of report JSON per batch.
    input_bytes: list[int] = field(default_factory=list)


def _ts(rng: np.random.Generator) -> str:
    day = int(rng.integers(1, 28))
    sec = int(rng.integers(0, 86400))
    return (
        f"2025-03-{day:02d}T{sec // 3600:02d}:{sec // 60 % 60:02d}:"
        f"{sec % 60:02d}.000000+00:00"
    )


def _status(rng: np.random.Generator) -> str:
    return str(rng.choice(["PASS", "FAIL", "ERROR"], p=[0.7, 0.2, 0.1]))


def _report(rng: np.random.Generator, n: int, origin: str, rev: int) -> dict:
    """One checkout subtree.  ``rev`` > 0 re-submits the same ids with
    re-drawn statuses, durations and comments."""
    cid = f"{origin}:c{n}"
    checkout = {
        "id": cid,
        "origin": origin,
        "tree_name": str(rng.choice(["mainline", "next", "stable"])),
        "git_repository_url": "https://git.example.org/linux.git",
        "git_commit_hash": "".join(rng.choice(list("0123456789abcdef"), 40)),
        "git_repository_branch": "master",
        "start_time": _ts(rng),
        "valid": bool(rng.random() < 0.95),
        "comment": f"checkout {n} rev {rev}",
    }
    builds, tests = [], []
    for j in range(BUILDS_PER_CHECKOUT):
        bid = f"{origin}:b{n}_{j}"
        builds.append({
            "id": bid,
            "checkout_id": cid,
            "origin": origin,
            "architecture": ARCHES[j % len(ARCHES)],
            "compiler": "gcc-13",
            "config_name": "defconfig",
            "start_time": _ts(rng),
            "duration": round(float(rng.uniform(60, 3600)), 3),
            "status": _status(rng),
            "comment": f"build rev {rev}",
        })
        for k in range(TESTS_PER_BUILD):
            tests.append({
                "id": f"{origin}:t{n}_{j}_{k}",
                "build_id": bid,
                "origin": origin,
                "path": TEST_PATHS[k % len(TEST_PATHS)],
                "start_time": _ts(rng),
                "duration": round(float(rng.uniform(1, 600)), 3),
                "status": _status(rng),
                "comment": f"test rev {rev}",
            })
    iid = f"{origin}:i{n}"
    issue = {
        "id": iid,
        "version": 1,
        "origin": origin,
        "report_subject": f"regression in checkout {n}",
        "comment": f"issue rev {rev}",
    }
    incidents = []
    for j in range(INCIDENTS_PER_REPORT):
        inc = {
            "id": f"{origin}:x{n}_{j}",
            "origin": origin,
            "issue_id": iid,
            "issue_version": 1,
            "present": True,
        }
        # One incident on a build, the rest on tests of the same build.
        if j == 0:
            inc["build_id"] = builds[0]["id"]
        else:
            inc["test_id"] = tests[j]["id"]
        incidents.append(inc)
    return {
        "version": {"major": 5, "minor": 3},
        "checkouts": [checkout],
        "builds": builds,
        "tests": tests,
        "issues": [issue],
        "incidents": incidents,
    }


def kcidb_inputs(
    root: str,
    seed: int,
    cycles: int,
    reports_per_batch: int,
    resubmits: int,
) -> KcidbPlan:
    """Write ``HISTORY_BATCHES + cycles`` batches of ``reports_per_batch``
    reports each.

    Every batch after the first re-submits ``resubmits`` checkouts of
    earlier batches with changed fields, so the store's dedup-at-read
    merge has superseded rows to resolve.  History batches are loaded
    straight into the store; timed batches go through the ingest
    pipeline, whose notifications the plan predicts by replaying the
    default subscriptions over the generator's own merged state: "test"
    fires once per checkout/build/test/incident id of origin "test"
    (issues carry no change fan-out), and "build_failures" once per
    build id whose merged status was FAIL when it was submitted.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    plan = KcidbPlan([], [], [], {}, [], [])
    fired: set[tuple[str, str]] = set()
    ids: dict[str, set] = {t: set() for t in
                           ("checkouts", "builds", "tests", "issues",
                            "incidents")}
    known: list[tuple[int, str]] = []   # (n, origin) of submitted checkouts
    revs: dict[int, int] = {}
    next_n = 0
    for batch in range(HISTORY_BATCHES + cycles):
        # Re-submissions pick checkouts of earlier batches, each at most
        # once per batch: two copies of an id in one load share a load
        # timestamp, and the merge would then pick between them by value.
        prior = list(known)
        picks = [prior.pop(int(rng.integers(len(prior))))
                 for _ in range(min(resubmits, len(prior)))]
        picks += [None] * (reports_per_batch - len(picks))
        reports = []
        for pick in picks:
            if pick is not None:
                n, origin = pick
                revs[n] += 1
            else:
                n, origin = next_n, ORIGINS[int(rng.integers(len(ORIGINS)))]
                next_n += 1
                revs[n] = 0
                known.append((n, origin))
            rep = _report(rng, n, origin, revs[n])
            reports.append(rep)
            cid = rep["checkouts"][0]["id"]
            plan.subtree[cid] = {
                "builds": len(rep["builds"]),
                "tests": len(rep["tests"]),
                "incidents": len(rep["incidents"]),
            }
            for table in ids:
                ids[table].update(o["id"] for o in rep[table])
        # Notifications match the merged view after the batch's load,
        # where this batch's copy of each id is the latest.
        for rep in reports if batch >= HISTORY_BATCHES else ():
            for table, kind in (("checkouts", "checkout"), ("builds", "build"),
                                ("tests", "test"), ("incidents", "incident")):
                for o in rep[table]:
                    if o["origin"] == "test":
                        fired.add(("test", f"{kind}:{o['id']}"))
                    if kind == "build" and o["status"] == "FAIL":
                        fired.add(("build_failures", o["id"]))
        lines = [json.dumps(r, sort_keys=True) for r in reports]
        path = os.path.join(root, f"batch_{batch:04d}.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        plan.batch_files.append(path)
        plan.input_bytes.append(sum(len(s.encode()) for s in lines))
        plan.spooled_after.append(len(fired))
        plan.ids_after.append({t: len(v) for t, v in ids.items()})
        plan.resubmitted.append([_checkout_id(p) for p in picks if p])
        # Queries target checkouts submitted in this or an earlier batch.
        plan.closure_ids.append(
            _checkout_id(known[int(rng.integers(len(known)))]))
        plan.pattern_ids.append(
            _checkout_id(known[int(rng.integers(len(known)))]))
    return plan


def _checkout_id(known: tuple[int, str]) -> str:
    n, origin = known
    return f"{origin}:c{n}"


# ---------------------------------------------------------------------------
# registry_analytics: the synthetic star schema the registry queries read
# ---------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_DAY_US = 86_400 * 1_000_000


def _days(rng, start: str, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, span, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def analytics_tables(root: str, seed: int, sf: float) -> int:
    """Write the ten tables of the registry's star schema at scale
    factor ``sf`` (lineitem ≈ 6M·sf rows) and return their total bytes.

    Column types and value domains follow the tables the registry's
    oracles were written against, so every filter, join key and text
    field the queries touch has matching rows.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    pick = lambda vals, n: np.array(vals, dtype=object)[  # noqa: E731
        rng.integers(0, len(vals), n)]

    _write(root, "region", {"r_regionkey": i32(np.arange(5)),
                            "r_name": list(_REGIONS)})
    _write(root, "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(rng.integers(0, 5, 25)),
    })
    _write(root, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust),
    })
    _write(root, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    partkey = np.arange(n_part, dtype=np.int64)
    price = np.round(900 + (partkey % 1000) * 0.1, 2)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    _write(root, "part", {
        "p_partkey": partkey,
        "p_name": pick(names, n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(_PTYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": price,
    })
    _write(root, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    })
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(root, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part], 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": pick(("A", "N", "R"), n_line),
        "l_linestatus": pick(("F", "O"), n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_line),
    })
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(base + rng.integers(0, 30 * _DAY_US, n_evt))
    _write(root, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_evt),
        "event_type": pick(_EVENTS, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if texts and rng.random() < 0.05:
            # Near-duplicate of an earlier document, for the dedup
            # queries.
            texts.append(texts[int(rng.integers(len(texts)))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(pick(_WORDS, n_words)))
    _write(root, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS, dtype=object)[
            rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    emb = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(root, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": i32(labels),
    })
    return sum(os.path.getsize(os.path.join(root, f))
               for f in os.listdir(root))


# ---------------------------------------------------------------------------
# serve_lifecycle: clustered vectors and Zipf-vocabulary documents
# ---------------------------------------------------------------------------

DIM = 64
#: Probes of each query set per epoch: the probes are the cheapest and
#: the noisiest calls, so each leg is sampled more than once.  Every
#: round of an epoch probes a fresh query set of its own.
PROBE_ROUNDS = 2


@dataclass
class ServePlan:
    """Files and expectations for the serving-store workload."""

    #: (c_id, centroid, norm) — the IVF store's static coarse model.
    cents: list
    vec_batches: list[str]
    doc_batches: list[str]
    #: Fixed query sets re-probed on every "repeat" epoch.
    repeat_vec: str
    repeat_doc: str
    #: Per epoch, ``PROBE_ROUNDS`` fresh query sets, each probed once.
    fresh_vec: list[list[str]]
    fresh_doc: list[list[str]]
    #: Per epoch: file of vec ids / doc ids deleted after that epoch's
    #: ingest, and the ids themselves.
    vec_deletes: list[str]
    doc_deletes: list[str]
    vec_deleted_ids: list[list[int]] = field(default_factory=list)
    doc_deleted_ids: list[list[int]] = field(default_factory=list)
    input_bytes: list[int] = field(default_factory=list)


def _vec_file(path: str, ids: np.ndarray, vecs: np.ndarray) -> int:
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "v": pa.array(list(vecs), pa.list_(pa.float64())),
    }), path)
    return os.path.getsize(path)


def _doc_file(path: str, ids: np.ndarray, texts: list[str]) -> int:
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
    }), path)
    return os.path.getsize(path)


def serve_inputs(
    root: str,
    seed: int,
    epochs: int,
    vecs_per_epoch: int,
    docs_per_epoch: int,
    queries: int,
    n_cents: int,
    vocab: int,
    delete_share: float,
) -> ServePlan:
    """Write per-epoch ingest batches, the repeat query sets,
    ``PROBE_ROUNDS`` fresh query sets per epoch, and per epoch a
    ``delete_share`` of the live ids of both stores to delete."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    centers = rng.normal(size=(n_cents, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cents = [(i, [float(x) for x in c], float(np.linalg.norm(c)))
             for i, c in enumerate(centers)]
    words = np.array([f"w{i}" for i in range(vocab)], dtype=object)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    zipf = ranks ** -1.1
    zipf /= zipf.sum()
    # Query terms come from the mid-frequency band so that every query
    # has candidates but no term matches most of the corpus.
    mid = words[vocab // 100: vocab // 20]

    def vectors(n: int) -> np.ndarray:
        lab = rng.integers(0, n_cents, n)
        v = centers[lab] + rng.normal(scale=0.35, size=(n, DIM))
        return np.round(v, 6)

    def docs(n: int) -> list[str]:
        lens = rng.integers(20, 61, n)
        toks = rng.choice(words, int(lens.sum()), p=zipf)
        ends = np.cumsum(lens)
        return [" ".join(toks[e - m:e]) for e, m in zip(ends, lens)]

    def queries_text(n: int) -> list[str]:
        return [" ".join(rng.choice(mid, int(rng.integers(3, 6)),
                                    replace=False)) for _ in range(n)]

    plan = ServePlan(cents, [], [], "", "", [], [], [], [])
    q_ids = np.arange(10**9, 10**9 + queries, dtype=np.int64)
    plan.repeat_vec = os.path.join(root, "repeat_vec.parquet")
    plan.repeat_doc = os.path.join(root, "repeat_doc.parquet")
    _vec_file(plan.repeat_vec, q_ids, vectors(queries))
    _doc_file(plan.repeat_doc, q_ids, queries_text(queries))
    live_vec: list[int] = []
    live_doc: list[int] = []
    for e in range(epochs):
        ids = np.arange(e * vecs_per_epoch, (e + 1) * vecs_per_epoch,
                        dtype=np.int64)
        dids = np.arange(e * docs_per_epoch, (e + 1) * docs_per_epoch,
                         dtype=np.int64)
        vp = os.path.join(root, f"vec_{e:03d}.parquet")
        dp = os.path.join(root, f"doc_{e:03d}.parquet")
        nbytes = _vec_file(vp, ids, vectors(vecs_per_epoch))
        nbytes += _doc_file(dp, dids, docs(docs_per_epoch))
        plan.vec_batches.append(vp)
        plan.doc_batches.append(dp)
        plan.input_bytes.append(nbytes)
        fresh_v, fresh_d = [], []
        for r in range(PROBE_ROUNDS):
            fv = os.path.join(root, f"fresh_vec_{e:03d}_{r}.parquet")
            fd = os.path.join(root, f"fresh_doc_{e:03d}_{r}.parquet")
            fq = q_ids + (e * PROBE_ROUNDS + r + 1) * queries
            _vec_file(fv, fq, vectors(queries))
            _doc_file(fd, fq, queries_text(queries))
            fresh_v.append(fv)
            fresh_d.append(fd)
        plan.fresh_vec.append(fresh_v)
        plan.fresh_doc.append(fresh_d)
        live_vec.extend(ids.tolist())
        live_doc.extend(dids.tolist())
        vd = sorted(rng.choice(live_vec, int(len(live_vec) * delete_share),
                               replace=False).tolist())
        dd = sorted(rng.choice(live_doc, int(len(live_doc) * delete_share),
                               replace=False).tolist())
        gone_v, gone_d = set(vd), set(dd)
        live_vec = [i for i in live_vec if i not in gone_v]
        live_doc = [i for i in live_doc if i not in gone_d]
        vdp = os.path.join(root, f"vec_del_{e:03d}.parquet")
        ddp = os.path.join(root, f"doc_del_{e:03d}.parquet")
        pq.write_table(pa.table({"vec_id": pa.array(vd, pa.int64())}), vdp)
        pq.write_table(pa.table({"doc_id": pa.array(dd, pa.int64())}), ddp)
        plan.vec_deletes.append(vdp)
        plan.doc_deletes.append(ddp)
        plan.vec_deleted_ids.append([int(i) for i in vd])
        plan.doc_deleted_ids.append([int(i) for i in dd])
    return plan
