"""Oracle SQL is spelled once (no Spark session).

The DuckDB oracles of the registry are composed from the builders of
``kcidb_spark/queries/oracle_sql.py``.  These guards keep the
collapsed fragments from growing back as copies in the query modules:
each may appear in a string literal (or, for the BM25 term, in code)
only inside ``oracle_sql.py``.  Engine code reuses the same text
through that module (``ranking.rrf_fuse``, the BM25 scorers).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import kcidb_spark.queries as queries

_QUERIES = Path(queries.__file__).parent
_HOME = "oracle_sql.py"

#: Fragment name → pattern over string-literal text.
_LITERALS = {
    "cosine template": r"/\s*\(\s*sqrt\(\s*list_dot_product\(",
    "float-IVF assign chain": r"FROM\s+vecs\s+CROSS\s+JOIN\s+cents",
    "RRF CASE head":
        r"WHEN\s+r_lex\s+IS\s+NOT\s+NULL\s+AND\s+r_sem\s+IS\s+NOT\s+NULL",
}
#: Fragment name → pattern over source code.
_CODE = {"BM25 term format": r"_BM25_TERM_MICRO\s*\.format\("}


def _literals(src: str) -> list[tuple[int, str]]:
    """Every string literal of ``src`` (an f-string's constant parts
    joined), with its line."""
    out = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.append((node.lineno, node.value))
        elif isinstance(node, ast.JoinedStr):
            out.append((node.lineno, "".join(
                v.value for v in node.values if isinstance(v, ast.Constant)
            )))
    return out


def _hits() -> dict[str, set[str]]:
    hits: dict[str, set[str]] = {}
    for path in sorted(_QUERIES.glob("*.py")):
        src = path.read_text()
        for name, pat in _LITERALS.items():
            for line, text in _literals(src):
                if re.search(pat, text):
                    hits.setdefault(name, set()).add(f"{path.name}:{line}")
        for name, pat in _CODE.items():
            for m in re.finditer(pat, src):
                line = src.count("\n", 0, m.start()) + 1
                hits.setdefault(name, set()).add(f"{path.name}:{line}")
    return hits


def test_collapsed_fragments_are_spelled_only_in_oracle_sql():
    hits = _hits()
    for name in (*_LITERALS, *_CODE):
        assert hits.get(name), f"{name}: not found at all — stale pattern"
        stray = sorted(h for h in hits[name] if not h.startswith(_HOME))
        assert stray == [], f"{name} re-spelled outside {_HOME}: {stray}"


def test_streaming_exec_defines_no_oracle():
    tree = ast.parse((_QUERIES / "streaming_exec.py").read_text())
    assert [
        n.name for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name.endswith("_oracle")
    ] == []
