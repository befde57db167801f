"""Check that every oracle whose SQL text changed still returns the
same rows.

    python plans/pr8/oracle_equiv.py <old checkout> <new checkout> \
        <out.md> <sf dir> [<sf dir> ...]

Reads each checkout's registry oracle strings (in a subprocess, so the
two versions never share an interpreter), then, for every entry whose
text differs, runs the old and the new string on DuckDB over each
``<sf dir>`` and hashes the result with the correctness gate's
``canon_rows`` (``tests/oracle_harness.py``: order-insensitive,
canonicalised values), and compares the output column names.  Writes
a markdown table — one row per changed entry: whether the
whitespace-normalised texts are identical, then the old and new hash
at each scale — and exits non-zero if any pair of hashes (or column
lists) differs.  Entries present in only one checkout are listed as
such.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

_DUMP = (
    "import json, sys; sys.path.insert(0, sys.argv[1]);"
    "import kcidb_spark.queries;"
    "from kcidb_spark.queries.registry import REGISTRY;"
    "json.dump({k: q.oracle for k, q in REGISTRY.items() if q.oracle},"
    " sys.stdout)"
)


def oracles(checkout: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _DUMP, checkout],
        check=True, capture_output=True, text=True, cwd=checkout,
    ).stdout
    return json.loads(out)


def norm(sql: str) -> str:
    return re.sub(r"\s+", " ", sql).strip()


def main() -> int:
    old_repo, new_repo, out = sys.argv[1:4]
    scales = sys.argv[4:]
    sys.path[:0] = [new_repo, os.path.join(new_repo, "tests")]
    from oracle_harness import canon_rows, duck_connection

    old, new = oracles(old_repo), oracles(new_repo)
    cons = {}
    for sf in scales:
        cons[sf] = duck_connection(sf)
        cons[sf].execute("SET threads = 4")

    def digest(sf: str, sql: str) -> tuple[str, list]:
        df = cons[sf].execute(sql).fetchdf()
        rows = repr(canon_rows(df)).encode()
        return hashlib.sha256(rows).hexdigest()[:16], list(df.columns)

    names = [n for n in sorted(set(old) | set(new))
             if old.get(n) != new.get(n)]
    labels = [os.path.basename(sf.rstrip("/")) for sf in scales]
    head = "| entry | same text (whitespace-normalised) | " + " | ".join(
        f"{lab} old | {lab} new" for lab in labels
    ) + " | equal |"
    lines = [head, "|" + "---|" * (3 + 2 * len(labels))]
    bad = 0
    for n in names:
        if n not in old or n not in new:
            lines.append(f"| `{n}` | only in {'new' if n in new else 'old'} |"
                         + " |" * (2 * len(labels) + 1))
            bad += 1
            continue
        cells, ok = [], True
        for sf in scales:
            (a, cols_a), (b, cols_b) = digest(sf, old[n]), digest(sf, new[n])
            cells += [f"`{a}`", f"`{b}`"]
            ok &= a == b and cols_a == cols_b
        bad += not ok
        lines.append(
            f"| `{n}` | {'yes' if norm(old[n]) == norm(new[n]) else 'no'} | "
            + " | ".join(cells) + f" | {'yes' if ok else '**NO**'} |"
        )
    with open(out, "w") as fh:
        fh.write(
            f"{len(names)} of {len(new)} oracle strings changed; "
            f"{len(names) - bad} return identical rows at every scale.\n\n"
            + "\n".join(lines) + "\n"
        )
    print(f"changed {len(names)}, mismatched {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
