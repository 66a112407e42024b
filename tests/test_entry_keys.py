"""Static guards for the key table ``__spark_entry__._KEYS``: every key is
declared once, as a (name, builder, twin) row, and ``queries()`` and
``oracle_sql()`` are read off it."""

from __future__ import annotations

import ast
import json
import os

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_key_order_is_the_recorded_bench_order():
    """bench.py times the keys in ``queries()`` order, so the order stays
    the one the 4-core BENCH trajectory recorded."""
    with open(os.path.join(REPO, "BENCH_LOCAL4_SF0.1.json")) as f:
        recorded = json.load(f)["runs"]["b03b8ad"][0]["queries"]
    assert list(entry.queries()) == list(recorded)


def test_every_key_has_one_builder_and_one_twin():
    """Names are unique, every builder is callable, every twin returns a
    non-empty SQL string (the same one on every call), and the two
    dictionaries hold the same keys."""
    names = [name for name, _build, _twin in entry._KEYS]
    assert len(names) == len(set(names)) == len(entry.queries())
    for name, build, twin in entry._KEYS:
        assert callable(build), name
        sql = twin()
        assert isinstance(sql, str) and sql.strip(), name
    assert set(entry.oracle_sql()) == set(entry.queries())
    assert entry.oracle_sql() == entry.oracle_sql()


def test_no_key_registry_outside_the_table():
    """No dict literal in the entry module or in the scripts that read it
    is keyed by a key name: a key is declared in its ``_KEYS`` row only."""
    names = set(entry.queries())
    paths = [entry.__file__, os.path.join(REPO, "bench.py"), os.path.join(REPO, "bench_extra.py")]
    tools = os.path.join(REPO, "tools")
    paths += [os.path.join(tools, n) for n in sorted(os.listdir(tools)) if n.endswith(".py")]
    found = []
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict):
                found += [
                    (os.path.basename(path), k.value)
                    for k in node.keys
                    if isinstance(k, ast.Constant) and k.value in names
                ]
    assert found == []
