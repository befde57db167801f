"""Reference-fidelity notification rendering.

The golden files under tests/golden/ were produced by rendering the
REFERENCE's own Jinja2 templates (kcidb/templates/revision*.j2 with
the reference ENV settings: trim_blocks, lstrip_blocks,
keep_trailing_newline) over this exact fixture revision — so a passing
test means the engine-side Column rendering is byte-identical to what
the reference monitor would email for this revision.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from kcidb_spark.store import Store
from kcidb_spark.streaming.render import mainline_messages, revision_frame

GOLDEN = Path(__file__).parent / "golden"

MAINLINE_URL = (
    "https://git.kernel.org/pub/scm/linux/kernel/git/torvalds/linux.git"
)
HASH = "1a2b3c4d5e6f7a8b9c0d1e2f3a4b5c6d7e8f9a0b"

FIXTURE = {
    "version": {"major": 5, "minor": 3},
    "checkouts": [
        {
            "id": "redhat:c1",
            "origin": "redhat",
            "git_repository_url": MAINLINE_URL,
            "git_repository_branch": "master",
            "git_commit_hash": HASH,
            "git_commit_name": "v6.7-rc3",
            "patchset_hash": "",
            "comment": "mainline tip",
            "valid": True,
        }
    ],
    "builds": [
        {
            "id": "redhat:b1",
            "origin": "redhat",
            "checkout_id": "redhat:c1",
            "architecture": "x86_64",
            "config_name": "defconfig",
            "status": "PASS",
        },
        {
            "id": "google:b2",
            "origin": "google",
            "checkout_id": "redhat:c1",
            "architecture": "arm64",
            "config_name": "defconfig",
            "status": "FAIL",
        },
    ],
    "tests": [
        {
            "id": "redhat:t1",
            "origin": "redhat",
            "build_id": "redhat:b1",
            "path": "ltp.sem01",
            "status": "PASS",
        },
        {
            "id": "redhat:t2",
            "origin": "redhat",
            "build_id": "redhat:b1",
            "path": "ltp.sem02",
            "status": "FAIL",
        },
        {
            "id": "google:t3",
            "origin": "google",
            "build_id": "google:b2",
            "path": "boot",
            "status": "ERROR",
        },
    ],
}


@pytest.fixture(scope="module")
def views(spark, tmp_path_factory):
    store = Store(spark, str(tmp_path_factory.mktemp("render") / "store"))
    store.load(FIXTURE)
    return {t: store.table(t) for t in ("checkouts", "builds", "tests")}


def test_revision_frame_summary(spark, views):
    rows = revision_frame(
        views["checkouts"], views["builds"], views["tests"]
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["summary"] == 'linux.git:master@v6.7-rc3 "mainline tip"'
    assert r["builds_status"] == "FAIL"
    assert r["tests_status"] == "FAIL"
    assert r["repo_urls"] == [MAINLINE_URL]


def test_mainline_subject_golden(spark, views):
    msgs = mainline_messages(
        views["checkouts"], views["builds"], views["tests"]
    ).collect()
    assert len(msgs) == 1
    expected = (GOLDEN / "revision_subject.txt").read_text()
    assert msgs[0]["subject"] == expected


def test_mainline_body_golden(spark, views):
    msgs = mainline_messages(
        views["checkouts"], views["builds"], views["tests"]
    ).collect()
    expected = (GOLDEN / "revision_description.txt").read_text()
    got = msgs[0]["body"]
    if got != expected:  # line-diff for a readable failure
        import difflib

        diff = "\n".join(
            difflib.unified_diff(
                expected.splitlines(), got.splitlines(),
                "reference-jinja", "engine", lineterm="",
            )
        )
        raise AssertionError(f"body differs from reference render:\n{diff}")


def test_tests_failed_subject(spark, views):
    """builds all PASS + one non-syzbot FAIL test → the Tests subject
    (mainline.py's second branch)."""
    import copy

    from pyspark.sql import functions as F

    fx = copy.deepcopy(FIXTURE)
    for b in fx["builds"]:
        b["status"] = "PASS"
    chk = views["checkouts"]
    spark_ = chk.sparkSession
    store = None
    # lightweight: rebuild views from the modified fixture in-memory
    from kcidb_spark.store import Store as _Store
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        store = _Store(spark_, d + "/s")
        store.load(fx)
        msgs = mainline_messages(
            store.table("checkouts"),
            store.table("builds"),
            store.table("tests"),
        ).collect()
        assert len(msgs) == 1
        assert msgs[0]["subject"].startswith("Tests failed for ")

    # syzbot-only FAIL tests must NOT notify
    fx2 = copy.deepcopy(fx)
    for t in fx2["tests"]:
        if t["status"] == "FAIL":
            t["origin"] = "syzbot"
            t["id"] = "syzbot:" + t["id"].split(":", 1)[1]
    with tempfile.TemporaryDirectory() as d:
        store = _Store(spark_, d + "/s")
        store.load(fx2)
        msgs = mainline_messages(
            store.table("checkouts"),
            store.table("builds"),
            store.table("tests"),
        ).collect()
        assert msgs == []


FIXTURE_RICH = {
    "version": {"major": 5, "minor": 3},
    "checkouts": [
        {
            "id": "cki:c1", "origin": "cki",
            "git_repository_url": MAINLINE_URL,
            "git_repository_branch": "master",
            "git_commit_hash": "ffee1a2b3c4d5e6f7a8b9c0d1e2f3a4b5c6d7e8f",
            "patchset_hash": "abcdef0123",
            "patchset_files": [
                {"name": f"p{i}.patch", "url": f"https://lore.example/p{i}.patch"}
                for i in range(7)
            ],
            "comment": "tip with patches",
            "valid": False,
        },
        {
            "id": "redhat:c2", "origin": "redhat",
            "git_repository_url": MAINLINE_URL,
            "git_repository_branch": "master",
            "git_commit_hash": "ffee1a2b3c4d5e6f7a8b9c0d1e2f3a4b5c6d7e8f",
            "patchset_hash": "abcdef0123",
            "valid": True,
        },
    ],
    "builds": (
        [
            {"id": f"o{i % 3}:b{i}", "origin": f"o{i % 3}",
             "checkout_id": "cki:c1", "architecture": "arm64",
             "config_name": "defconfig", "status": "FAIL"}
            for i in range(8)
        ]
        + [
            {"id": "o2:b8", "origin": "o2", "checkout_id": "cki:c1",
             "architecture": "arm64", "config_name": "defconfig",
             "status": "ERROR"},
            {"id": "o0:b9", "origin": "o0", "checkout_id": "cki:c1",
             "architecture": "riscv", "comment": "broken toolchain",
             "status": "FAIL"},
            {"id": "o1:b10", "origin": "o1", "checkout_id": "cki:c1",
             "architecture": "riscv", "config_name": "allmod",
             "status": "FAIL"},
            {"id": "o2:b11", "origin": "o2", "checkout_id": "cki:c1",
             "architecture": "s390", "config_name": "a0", "status": "FAIL"},
            {"id": "o0:b12", "origin": "o0", "checkout_id": "cki:c1",
             "architecture": "s390", "config_name": "a1", "status": "FAIL"},
            {"id": "o1:b13", "origin": "o1", "checkout_id": "cki:c1",
             "architecture": "s390", "config_name": "a2", "status": "FAIL"},
            {"id": "o2:b14", "origin": "o2", "checkout_id": "cki:c1",
             "architecture": "x86_64", "config_name": "defconfig",
             "status": "PASS"},
            {"id": "o0:b15", "origin": "o0", "checkout_id": "cki:c1",
             "architecture": "x86_64", "config_name": "defconfig"},
            {"id": "o1:b16", "origin": "o1", "checkout_id": "cki:c1",
             "config_name": "defconfig", "status": "DONE"},
        ]
    ),
    "tests": [
        {"id": "cki:t0", "origin": "cki", "build_id": "o0:b0",
         "status": "FAIL"},  # no path → "?" node
        {"id": "cki:t1", "origin": "cki", "build_id": "o0:b0",
         "path": "aoot.one", "status": "FAIL"},
        {"id": "syzbot:t2", "origin": "syzbot", "build_id": "o0:b0",
         "path": "boot", "status": "ERROR"},
        {"id": "cki:t3", "origin": "cki", "build_id": "o0:b0",
         "path": "cpu.hotplug", "status": "MISS"},
        {"id": "cki:t4", "origin": "cki", "build_id": "o0:b0",
         "path": "dtp.x", "status": "PASS"},
        {"id": "cki:t5", "origin": "cki", "build_id": "o0:b0",
         "path": "etp.y", "status": "DONE"},
        {"id": "cki:t6", "origin": "cki", "build_id": "o0:b0",
         "path": "ftp.z", "status": "SKIP"},
        {"id": "cki:t7", "origin": "cki", "build_id": "o0:b0",
         "path": "gtp.a", "status": "FAIL"},
        {"id": "cki:t8", "origin": "cki", "build_id": "o0:b0",
         "path": "htp.b", "status": "FAIL"},
        {"id": "cki:t9", "origin": "cki", "build_id": "o0:b0",
         "path": "", "status": "PASS"},  # empty path: not a node
    ],
}


def test_rich_golden(spark, tmp_path):
    """The rich fixture pins dynamic column widths (❌ 13 → 2-char
    count alignment), list caps with '...', count-desc failure sort,
    the patches block, '?' architecture and '?' test node, and a
    NULL build status column."""
    store = Store(spark, str(tmp_path / "store"))
    store.load(FIXTURE_RICH)
    msgs = mainline_messages(
        store.table("checkouts"), store.table("builds"), store.table("tests")
    ).collect()
    assert len(msgs) == 1
    assert msgs[0]["subject"] == (
        GOLDEN / "revision_subject_rich.txt"
    ).read_text()
    expected = (GOLDEN / "revision_description_rich.txt").read_text()
    got = msgs[0]["body"]
    if got != expected:
        import difflib

        diff = "\n".join(
            difflib.unified_diff(
                expected.splitlines(), got.splitlines(),
                "reference-jinja", "engine", lineterm="",
            )
        )
        raise AssertionError(f"rich body differs:\n{diff}")


def test_rich_messages_spool_dedup(spark, tmp_path, views):
    """Rich messages flow through the standard spool with idempotent
    redelivery (same id scheme as flat subscriptions), and a
    redelivered batch writes nothing."""
    from kcidb_spark.streaming import NotificationSpool
    from kcidb_spark.streaming.render import as_notifications

    msgs = mainline_messages(
        views["checkouts"], views["builds"], views["tests"]
    )
    spool = NotificationSpool(spark, str(tmp_path / "spool"))
    assert spool.spool(as_notifications(msgs)) == 1
    files = sorted((tmp_path / "spool").rglob("*"))
    assert spool.spool(as_notifications(msgs)) == 0  # redelivery
    # ... which leaves no trace: no empty part file, no staging dir.
    assert sorted((tmp_path / "spool").rglob("*")) == files
    row = spool.all().collect()[0]
    assert row["obj_type"] == "revision"
    assert row["subject"].startswith("Builds failed for ")


def test_render_email_semantics():
    """output.py render() semantics: caps with scissors marker,
    control-char replacement, headers, plain + linkified-HTML parts."""
    from kcidb_spark.streaming.email_out import (
        clamp_subject,
        render_email,
    )

    long_subject = "S" * 300
    clamped = clamp_subject(long_subject)
    assert len(clamped) == 256 and clamped.endswith("✂️")
    assert clamp_subject("bad\x01subject") == "bad⯑subject"

    body = "See https://kcidb.kernelci.org/x?a=1&b=2 for <details>\n" + (
        "y" * 70000
    )
    msg = render_email(
        subject="Builds failed for linux.git:master",
        body=body,
        to=["Linux Kernel Mailing List <linux-kernel@vger.kernel.org>"],
        notification_id="mainline:revision:QQ==:Ug==",
    )
    assert msg["Subject"] == "Builds failed for linux.git:master"
    assert msg["X-KCIDB-Notification-ID"] == "mainline:revision:QQ==:Ug=="
    parts = list(msg.iter_parts())
    assert [p.get_content_type() for p in parts] == [
        "text/plain", "text/html",
    ]
    plain = parts[0].get_content()
    assert plain.endswith("✂️\n") or plain.endswith("✂️")
    html_part = parts[1].get_content()
    assert '<a href="https://kcidb.kernelci.org/x?a=1&amp;b=2">' in html_part
    assert "&lt;details&gt;" in html_part  # escaped, not raw HTML


def test_test_description_golden(spark, tmp_path):
    """Single-test description/summary rendering is byte-identical to
    the reference test_description.txt.j2 / test_summary.txt.j2 for a
    full-featured test and a minimal one (no path/build/env/times)."""
    from kcidb_spark.streaming.render import test_description_frame

    report = {
        "version": {"major": 5, "minor": 3},
        "checkouts": [
            {
                "id": "redhat:c1",
                "origin": "redhat",
                "git_repository_url": MAINLINE_URL,
                "git_repository_branch": "master",
                "git_commit_hash": HASH,
                "git_commit_name": "v6.7-rc3",
                "patchset_hash": "",
            }
        ],
        "builds": [
            {
                "id": "redhat:b1",
                "origin": "redhat",
                "checkout_id": "redhat:c1",
                "architecture": "x86_64",
                "config_name": "defconfig",
                "status": "PASS",
            }
        ],
        "tests": [
            {
                "id": "redhat:t2",
                "origin": "redhat",
                "build_id": "redhat:b1",
                "path": "ltp.sem02",
                "status": "FAIL",
                "environment": {"comment": "qemu-x86_64 8G"},
                "start_time": "2024-05-01T10:00:00+00:00",
                "duration": 12.5,
                "output_files": [
                    {"name": "log.txt",
                     "url": "https://artifacts.example/log.txt"},
                    {"name": "dmesg",
                     "url": "https://artifacts.example/dmesg"},
                ],
                "comment": "flaky since v6.6",
            },
            {
                "id": "google:t9",
                "origin": "google",
                "build_id": "missing:b0",  # no such build row
            },
        ],
    }
    store = Store(spark, str(tmp_path / "store"))
    store.load(report)
    frame = test_description_frame(
        store.table("checkouts"), store.table("builds"), store.table("tests")
    )
    rows = {r["id"]: r for r in frame.collect()}
    assert rows["redhat:t2"]["summary"] == 'ltp.sem02 "flaky since v6.6"'
    assert rows["google:t9"]["summary"] == "google:t9"
    for tid, golden in (
        ("redhat:t2", "test_description_full.txt"),
        ("google:t9", "test_description_min.txt"),
    ):
        expected = (GOLDEN / golden).read_text()
        got = rows[tid]["description"]
        if got != expected:
            import difflib

            diff = "\n".join(
                difflib.unified_diff(
                    expected.splitlines(), got.splitlines(),
                    "reference-jinja", "engine", lineterm="",
                )
            )
            raise AssertionError(f"{tid} differs:\n{diff}")


def test_build_and_checkout_description_golden(spark, tmp_path):
    """Build and checkout descriptions byte-match the reference
    build_description.txt.j2 / checkout_description.txt.j2 renders."""
    from kcidb_spark.streaming.render import (
        build_description_frame,
        checkout_description_frame,
    )

    report = {
        "version": {"major": 5, "minor": 3},
        "checkouts": [
            {
                "id": "redhat:c1",
                "origin": "redhat",
                "git_repository_url": MAINLINE_URL,
                "git_repository_branch": "master",
                "git_commit_hash": HASH,
                "git_commit_name": "v6.7-rc3",
                "patchset_hash": "",
                "comment": "mainline tip",
                "valid": True,
            }
        ],
        "builds": [
            {
                "id": "redhat:b1",
                "origin": "redhat",
                "checkout_id": "redhat:c1",
                "architecture": "x86_64",
                "compiler": "gcc-12",
                "config_name": "defconfig",
                "config_url": "https://configs.example/defconfig",
                "output_files": [
                    {"name": "vmlinux",
                     "url": "https://artifacts.example/vmlinux"}
                ],
                "start_time": "2024-05-01T09:00:00+00:00",
                "duration": 600.0,
                "command": "make defconfig all",
                "log_url": "https://artifacts.example/build.log",
                "status": "PASS",
            },
            {
                "id": "google:b2",
                "origin": "google",
                "checkout_id": "redhat:c1",
                "architecture": "arm64",
                "config_name": "defconfig",
                "status": "FAIL",
            },
        ],
        "tests": [
            {"id": "redhat:t1", "origin": "redhat", "build_id": "redhat:b1",
             "path": "ltp.sem01", "status": "PASS"},
            {"id": "redhat:t2", "origin": "redhat", "build_id": "redhat:b1",
             "path": "ltp.sem02", "status": "FAIL"},
            {"id": "google:t3", "origin": "google", "build_id": "redhat:b1",
             "path": "boot", "status": "ERROR"},
        ],
    }
    store = Store(spark, str(tmp_path / "store"))
    store.load(report)
    views = (
        store.table("checkouts"), store.table("builds"), store.table("tests")
    )

    def check(frame, obj_id, golden_name):
        rows = {r["id"]: r for r in frame.collect()}
        expected = (GOLDEN / golden_name).read_text()
        got = rows[obj_id]["description"]
        if got != expected:
            import difflib

            diff = "\n".join(
                difflib.unified_diff(
                    expected.splitlines(), got.splitlines(),
                    "reference-jinja", "engine", lineterm="",
                )
            )
            raise AssertionError(f"{obj_id} differs:\n{diff}")

    check(build_description_frame(*views), "redhat:b1",
          "build_description.txt")
    check(checkout_description_frame(*views), "redhat:c1",
          "checkout_description.txt")


_ISSUE_REPORT = {
        "version": {"major": 5, "minor": 3},
        "checkouts": [
            {"id": "redhat:cf", "origin": "redhat",
             "git_repository_url": MAINLINE_URL,
             "git_repository_branch": "fixes"},
            {"id": "redhat:cm", "origin": "redhat",
             "git_repository_url": MAINLINE_URL,
             "git_repository_branch": "master"},
        ],
        "builds": [
            {"id": "redhat:b1", "origin": "redhat",
             "checkout_id": "redhat:cf", "architecture": "x86_64",
             "status": "FAIL"},
            {"id": "google:b2", "origin": "google",
             "checkout_id": "redhat:cm", "architecture": "arm64",
             "config_name": "defconfig", "status": "FAIL"},
        ],
        "tests": [
            {"id": "google:t3", "origin": "google",
             "build_id": "redhat:b1", "path": "boot", "status": "FAIL"},
        ],
        "issues": [
            {"id": "maestro:deadbeef", "origin": "maestro", "version": 1,
             "report_subject": "KASAN: use-after-free in foo",
             "report_url": "https://lore.example/report/1",
             "comment": "seen on arm64 boots",
             "culprit": {"code": True, "tool": False, "harness": False}},
            {"id": "maestro:0000", "origin": "maestro", "version": 0,
             "report_url": "https://lore.example/r2",
             "culprit": {"code": False, "tool": False, "harness": False}},
        ],
        "incidents": [
            {"id": "maestro:i1", "origin": "maestro",
             "issue_id": "maestro:deadbeef", "issue_version": 1,
             "build_id": "google:b2", "present": True},
            {"id": "cki:i3", "origin": "cki",
             "issue_id": "maestro:deadbeef", "issue_version": 1,
             "build_id": "redhat:b1", "present": True},
            {"id": "maestro:i2", "origin": "maestro",
             "issue_id": "maestro:deadbeef", "issue_version": 1,
             "test_id": "google:t3", "present": True},
        ],
    }


def test_issue_and_incident_description_golden(spark, tmp_path):
    """Issue/incident descriptions byte-match the reference
    issue_description.txt.j2 / incident_description.txt.j2 renders
    (detection counts, capped branch list, culprit sentence, linked
    build/test summaries)."""
    from kcidb_spark.streaming.render import (
        incident_description_frame,
        issue_description_frame,
    )

    store = Store(spark, str(tmp_path / "store"))
    store.load(_ISSUE_REPORT)
    views = {
        t: store.table(t)
        for t in ("checkouts", "builds", "tests", "issues", "incidents")
    }

    def diff_check(got, golden_name, label):
        expected = (GOLDEN / golden_name).read_text()
        if got != expected:
            import difflib

            diff = "\n".join(
                difflib.unified_diff(
                    expected.splitlines(), got.splitlines(),
                    "reference-jinja", "engine", lineterm="",
                )
            )
            raise AssertionError(f"{label} differs:\n{diff}")

    issues_rows = {
        r["id"]: r
        for r in issue_description_frame(
            views["checkouts"], views["builds"], views["tests"],
            views["issues"], views["incidents"],
        ).collect()
    }
    diff_check(issues_rows["maestro:deadbeef"]["description"],
               "issue_description_full.txt", "issue full")
    diff_check(issues_rows["maestro:0000"]["description"],
               "issue_description_empty.txt", "issue empty")

    inc_rows = {
        r["id"]: r
        for r in incident_description_frame(
            views["builds"], views["tests"], views["issues"],
            views["incidents"],
        ).collect()
    }
    diff_check(inc_rows["maestro:i1"]["description"],
               "incident_description_build.txt", "incident build")
    diff_check(inc_rows["maestro:i2"]["description"],
               "incident_description_test.txt", "incident test")


def test_issue_version_description_golden(spark, tmp_path):
    """issue_version descriptions byte-match the reference
    issue_version_description.txt.j2 renders (the distinct ORM type,
    kcidb/orm/data.py:437-455): identical to the issue body but with
    &var-version pinned in both dashboard URLs; summary is the shared
    issue.j2 macro."""
    from kcidb_spark.streaming.render import (
        issue_description_frame,
        issue_version_description_frame,
    )

    store = Store(spark, str(tmp_path / "store"))
    store.load(_ISSUE_REPORT)
    views = {
        t: store.table(t)
        for t in ("checkouts", "builds", "tests", "issues", "incidents")
    }
    rows = {
        r["id"]: r
        for r in issue_version_description_frame(
            views["checkouts"], views["builds"], views["tests"],
            views["issues"], views["incidents"],
        ).collect()
    }
    for obj_id, golden in (
        ("maestro:deadbeef", "issue_version_description_full.txt"),
        ("maestro:0000", "issue_version_description_empty.txt"),
    ):
        expected = (GOLDEN / golden).read_text()
        got = rows[obj_id]["description"]
        if got != expected:
            import difflib

            raise AssertionError(
                "\n".join(
                    difflib.unified_diff(
                        expected.splitlines(), got.splitlines(),
                        "reference-jinja", "engine", lineterm="",
                    )
                )
            )
    # issue_version_summary.txt.j2 delegates to the same issue.j2
    # summary macro — identical to the issue frame's summary column.
    iss = {
        r["id"]: r["summary"]
        for r in issue_description_frame(
            views["checkouts"], views["builds"], views["tests"],
            views["issues"], views["incidents"],
        ).collect()
    }
    assert rows["maestro:deadbeef"]["summary"] == "seen on arm64 boots"
    assert rows["maestro:0000"]["summary"] == "https://lore.example/r2"
    assert {k: r["summary"] for k, r in rows.items()} == iss


def test_issue_and_incident_summaries(spark, tmp_path):
    """issue.j2/incident.j2 summary macros: coalescing subjects and
    detected-in phrasing with unknown-object fallbacks."""
    from kcidb_spark.streaming.render import (
        incident_description_frame,
        issue_description_frame,
    )

    report = {
        "version": {"major": 5, "minor": 3},
        "builds": [
            {"id": "o:b1", "origin": "o", "checkout_id": "o:c1",
             "architecture": "arm64"},
            {"id": "o:b2", "origin": "o", "checkout_id": "o:c1"},
        ],
        "tests": [
            {"id": "o:t1", "origin": "o", "build_id": "o:b1",
             "path": "boot"},
            {"id": "o:t2", "origin": "o", "build_id": "o:b2"},
        ],
        "issues": [
            {"id": "o:i1", "origin": "o", "version": 0,
             "report_subject": "subj", "report_url": "https://u/1",
             "comment": "the comment"},
            {"id": "o:i2", "origin": "o", "version": 0,
             "report_url": "https://u/2"},
        ],
        "incidents": [
            {"id": "o:n1", "origin": "o", "issue_id": "o:i1",
             "issue_version": 0, "test_id": "o:t1", "present": True},
            {"id": "o:n2", "origin": "o", "issue_id": "o:i1",
             "issue_version": 0, "test_id": "o:t2", "present": True},
            {"id": "o:n3", "origin": "o", "issue_id": "o:i2",
             "issue_version": 0, "build_id": "o:b1", "present": True},
            {"id": "o:n4", "origin": "o", "issue_id": "o:i1",
             "issue_version": 0, "present": True},
            {"id": "o:n5", "origin": "o", "issue_id": "o:i2",
             "issue_version": 0, "present": True},
        ],
    }
    store = Store(spark, str(tmp_path / "store"))
    store.load(report)
    v = {t: store.table(t)
         for t in ("checkouts", "builds", "tests", "issues", "incidents")}

    iss = {r["id"]: r["summary"] for r in issue_description_frame(
        v["checkouts"], v["builds"], v["tests"], v["issues"], v["incidents"]
    ).collect()}
    assert iss["o:i1"] == "the comment"  # comment wins
    assert iss["o:i2"] == "https://u/2"  # falls through to url

    inc = {r["id"]: r["summary"] for r in incident_description_frame(
        v["builds"], v["tests"], v["issues"], v["incidents"]
    ).collect()}
    assert inc["o:n1"] == "Incident in boot on arm64: subj"
    assert inc["o:n2"] == (
        "Incident in an unknown test on an unknown architecture: subj"
    )
    assert inc["o:n3"] == "Incident in arm64 build"
    assert inc["o:n4"] == "Incident: subj"
    assert inc["o:n5"] == "Incident o:n5"


def test_stock_subscription_families(spark, tmp_path):
    """linux_stable / ltp_maintainers / mark_brown subscription
    analogs: repo-set matching, LTP node rollup wording, and the
    due-held "Testing done" digest (reference
    kcidb/monitor/subscriptions/*.py)."""
    from kcidb_spark.streaming.render import (
        STABLE_REPO_URLS,
        as_notifications,
        ltp_messages,
        mainline_messages,
        testing_done_messages,
    )
    from kcidb_spark.streaming.notify import NotificationSpool

    report = {
        "version": {"major": 5, "minor": 3},
        "checkouts": [
            {"id": "s:c1", "origin": "s",
             "git_commit_hash": "a" * 40, "patchset_hash": "",
             "git_repository_url": STABLE_REPO_URLS[1],
             "git_repository_branch": "linux-6.6.y"},
            {"id": "s:c2", "origin": "s",
             "git_commit_hash": "b" * 40, "patchset_hash": "",
             "git_repository_url": "https://example.com/other.git",
             "git_repository_branch": "main"},
        ],
        "builds": [
            {"id": "s:b1", "origin": "s", "checkout_id": "s:c1",
             "status": "FAIL", "architecture": "x86_64"},
            {"id": "s:b2", "origin": "s", "checkout_id": "s:c2",
             "status": "PASS", "architecture": "x86_64"},
        ],
        "tests": [
            {"id": "s:t1", "origin": "s", "build_id": "s:b2",
             "path": "ltp.sem01", "status": "FAIL"},
            {"id": "s:t2", "origin": "s", "build_id": "s:b2",
             "path": "boot", "status": "PASS"},
        ],
    }
    store = Store(spark, str(tmp_path / "store"))
    store.load(report)
    v = [store.table(t) for t in ("checkouts", "builds", "tests")]

    # linux_stable: only the stable-repo revision (failed builds).
    stable = mainline_messages(*v, repo_url=STABLE_REPO_URLS).collect()
    assert [r["git_commit_hash"] for r in stable] == ["a" * 40]
    assert stable[0]["subject"].startswith("Builds failed for ")

    # ltp: only the revision with a failing ltp.* test.
    ltp = ltp_messages(*v).collect()
    assert [r["git_commit_hash"] for r in ltp] == ["b" * 40]
    assert ltp[0]["subject"].startswith("LTP failed for ")

    # mark_brown shape: matches on repo set, carries a future due.
    done = testing_done_messages(
        *v, repo_url=["https://example.com/other.git"], due_hours=1
    ).collect()
    assert [r["git_commit_hash"] for r in done] == ["b" * 40]
    assert done[0]["subject"].startswith("Testing done for ")
    assert done[0]["due"] is not None

    # The due-held notification spools but is NOT picked until due.
    spool = NotificationSpool(spark, str(tmp_path / "spool"))
    n = spool.spool(as_notifications(
        testing_done_messages(
            *v, repo_url=["https://example.com/other.git"], due_hours=1
        ),
        subscription="mark_brown",
    ))
    assert n == 1
    assert spool.all().count() == 1
    assert spool.unsent().count() == 0  # held by due
    assert spool.mark_sent() == 0
    # With due already passed it sends immediately.
    spool2 = NotificationSpool(spark, str(tmp_path / "spool2"))
    spool2.spool(as_notifications(
        testing_done_messages(
            *v, repo_url=["https://example.com/other.git"], due_hours=0
        ),
        subscription="mark_brown",
    ))
    assert spool2.unsent().count() == 1
    assert spool2.mark_sent() == 1
