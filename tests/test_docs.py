"""Docs-vs-registry freshness guards and the operator table's invariants."""

from __future__ import annotations

import os
import re
from collections import Counter

import __spark_entry__ as entry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_operators_md_covers_registry():
    """The queries() table in docs/OPERATORS.md lists exactly the
    queries() operators, once each, under their builder's module."""
    text = open(os.path.join(ROOT, "docs", "OPERATORS.md")).read()
    table = text.split("\n## ", 1)[0]  # later sections are not queries()
    rows = re.findall(r"^\| `(\w+)` \| (\w+) \|", table, re.M)
    names = [n for n, _ in rows]
    qs = entry.queries()
    assert sorted(set(names)) == sorted(qs), "regenerate docs/OPERATORS.md"
    assert [n for n, c in Counter(names).items() if c > 1] == []
    wrong = {n: m for n, m in rows if qs[n].__module__.rsplit(".", 1)[-1] != m}
    assert not wrong, f"module column disagrees with the builder: {wrong}"


def test_operator_table_invariants():
    names = [op.name for op in entry.OPERATORS]
    assert [n for n, c in Counter(names).items() if c > 1] == []
    for op in entry.OPERATORS:
        assert callable(op.build), op.name
        assert isinstance(op.oracle, str) and op.oracle.strip(), op.name
        assert set(op.tags) <= entry.TAGS, op.name


def test_readme_operator_count_matches():
    m = re.search(r"`queries\(\)` \((\d+) operators\)", open(os.path.join(ROOT, "README.md")).read())
    assert m and int(m.group(1)) == len(entry.queries())
