"""The query registry's rotation file: a missing file keeps the
registry order, a corrupt one must fail loudly; the registry, its
oracle SQL and the committed rotation order name the same queries,
and every top-level definition of the driver contract is reachable
from them."""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as E  # noqa: E402

QS = {"a": 1, "b": 2, "c": 3}


def test_rotation_file_orders_registry(tmp_path):
    path = tmp_path / "rotation_order.json"
    path.write_text(json.dumps({"order": ["c", "a"]}))
    assert list(E._rotate(QS, str(path))) == ["c", "a", "b"]


def test_missing_rotation_file_keeps_order(tmp_path):
    assert list(E._rotate(QS, str(tmp_path / "absent.json"))) == ["a", "b", "c"]


def test_truncated_rotation_file_raises(tmp_path):
    path = tmp_path / "rotation_order.json"
    path.write_text(json.dumps({"order": ["c", "a"]})[:-5])
    with pytest.raises(RuntimeError, match="corrupt rotation order file"):
        E._rotate(QS, str(path))


def test_registry_oracle_and_rotation_agree():
    names = set(E.queries())
    assert names == set(E.oracle_sql())
    path = Path(E.__file__).with_name("rotation_order.json")
    order = json.loads(path.read_text())["order"]
    assert sorted(order) == sorted(names)


def test_every_entry_definition_is_reachable():
    """A definition no query, oracle or entry point reaches is dead code
    a deleted query left behind."""
    tree = ast.parse(Path(E.__file__).read_text())
    defs = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            defs.update((t.id, node) for t in targets if isinstance(t, ast.Name))
    seen, todo = set(), ["entry", "queries", "oracle_sql", "_rotate"]
    while todo:
        name = todo.pop()
        if name in defs and name not in seen:
            seen.add(name)
            todo += [n.id for n in ast.walk(defs[name]) if isinstance(n, ast.Name)]
    assert sorted(set(defs) - seen) == []
