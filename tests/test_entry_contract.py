"""Static contract checks on __spark_entry__.py — no Spark session needed.

The driver's oracle gate builds `oracle_sql()` as a dict literal: a
duplicate key silently shadows earlier copies, so the gate could verify
stale SQL while an edit to a non-last copy is ignored (found in round 1:
"tdigest_summary" appeared three times). These tests AST-parse the module
so duplicates fail loudly at pytest time.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ENTRY = Path(__file__).resolve().parent.parent / "__spark_entry__.py"


def _dict_literal_keys(func_name: str) -> list[str]:
    tree = ast.parse(ENTRY.read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == func_name:
            keys: list[str] = []
            for sub in ast.walk(node):
                if isinstance(sub, ast.Dict):
                    for k in sub.keys:
                        if isinstance(k, ast.Constant) and isinstance(k.value, str):
                            keys.append(k.value)
            return keys
    raise AssertionError(f"{func_name} not found in __spark_entry__.py")


def test_oracle_sql_has_no_duplicate_keys():
    keys = _dict_literal_keys("oracle_sql")
    dupes = {k: n for k, n in Counter(keys).items() if n > 1}
    assert not dupes, f"duplicate oracle_sql keys (later copies shadow earlier): {dupes}"


def test_queries_has_no_duplicate_keys():
    keys = _dict_literal_keys("queries")
    dupes = {k: n for k, n in Counter(keys).items() if n > 1}
    assert not dupes, f"duplicate queries keys: {dupes}"


def test_every_oracle_key_has_a_query():
    import importlib.util

    # import without executing Spark: module-level code only defines functions
    spec = importlib.util.spec_from_file_location("__spark_entry__", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    q = set(mod.queries().keys())
    o = set(mod.oracle_sql().keys())
    assert o <= q, f"oracle_sql keys with no queries() entry: {sorted(o - q)}"


def test_readme_query_count_matches_queries():
    """README's advertised operator count is generated, never hand-counted
    (round-4 audit caught a stale "198" vs an actual 194): the number
    after the <!--QUERY_COUNT--> marker must equal len(queries())."""
    import importlib.util
    import re

    spec = importlib.util.spec_from_file_location("__spark_entry__", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    readme = (ENTRY.parent / "README.md").read_text()
    m = re.search(r"<!--QUERY_COUNT-->(\d+)", readme)
    assert m, "README.md lost its <!--QUERY_COUNT--> marker"
    assert int(m.group(1)) == len(mod.queries()), (
        f"README claims {m.group(1)} queries; len(queries()) is "
        f"{len(mod.queries())} — update the marker line"
    )


def test_sql_round_matches_duckdb_round():
    """Five t-digest queries round with ``_sql_round`` so that an exact
    binary half rounds away from zero, as their DuckDB ``ROUND(x, 6)``
    oracles do (``np.round`` would round it to even)."""
    import duckdb

    from __spark_entry__ import _sql_round

    cases = [
        (48.0390625, 6, 48.039063),
        (-48.0390625, 6, -48.039063),
        (0.49999999999999994, 0, 0.0),  # just below a half: no round-up
    ]
    for x, digits, want in cases:
        assert _sql_round(x, digits) == want
        oracle = duckdb.sql(f"SELECT ROUND(CAST({x!r} AS DOUBLE), {digits})")
        assert oracle.fetchone()[0] == want
