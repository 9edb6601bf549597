"""The gate tier's hand-kept lists in conftest.py stay true to the tree:
every GATE_SLOW_TESTS entry names a test function that exists, every
PARITY_FRESH entry names a registered query, and neither literal repeats
an entry (a set literal would hide the repeat). The query table in
__spark_entry__.py repeats no key (a dict literal keeps the last
duplicate and silently drops a query), and each remaining ``q_*``
builder is the value of exactly one row. No Spark session."""

from __future__ import annotations

import ast
import os

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
ENTRY = os.path.join(os.path.dirname(TESTS_DIR), "__spark_entry__.py")


def _set_literal(name: str) -> list[str]:
    """Elements of the top-level ``name = {...}`` set literal in
    conftest.py, in source order and with repeats kept."""
    with open(os.path.join(TESTS_DIR, "conftest.py")) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and [getattr(t, "id", None) for t in node.targets] == [name]
        ):
            assert isinstance(node.value, ast.Set), name
            return [ast.literal_eval(e) for e in node.value.elts]
    raise AssertionError(f"{name} not assigned in conftest.py")


def _test_functions(filename: str) -> set[str]:
    with open(os.path.join(TESTS_DIR, filename)) as fh:
        tree = ast.parse(fh.read())
    return {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("test_")
    }


def test_gate_slow_tests_name_existing_tests():
    entries = _set_literal("GATE_SLOW_TESTS")
    assert entries
    assert len(entries) == len(set(entries)), "duplicate GATE_SLOW_TESTS entry"
    missing = []
    for entry in entries:
        filename, _, test = entry.partition("::")
        path = os.path.join(TESTS_DIR, filename)
        if not os.path.isfile(path) or test not in _test_functions(filename):
            missing.append(entry)
    assert missing == []


def test_parity_fresh_names_registered_queries():
    import __spark_entry__

    entries = _set_literal("PARITY_FRESH")
    assert entries
    assert len(entries) == len(set(entries)), "duplicate PARITY_FRESH entry"
    registered = __spark_entry__.queries()
    assert sorted(e for e in entries if e not in registered) == []


def _entry_module() -> ast.Module:
    with open(ENTRY) as fh:
        return ast.parse(fh.read())


def _query_table(tree: ast.Module) -> ast.Dict:
    for node in tree.body:
        if isinstance(node, ast.AnnAssign) and getattr(node.target, "id", None) == "_QUERIES":
            assert isinstance(node.value, ast.Dict)
            return node.value
    raise AssertionError("_QUERIES not assigned in __spark_entry__.py")


def test_query_table_repeats_no_key():
    keys = [ast.literal_eval(k) for k in _query_table(_entry_module()).keys]
    assert keys
    assert sorted({k for k in keys if keys.count(k) > 1}) == []


def test_each_query_builder_is_one_row():
    tree = _entry_module()
    refs = [
        v.id for v in _query_table(tree).values if isinstance(v, ast.Name)
    ]
    builders = [
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_")
    ]
    assert builders
    assert sorted(b for b in builders if refs.count(b) != 1) == []
