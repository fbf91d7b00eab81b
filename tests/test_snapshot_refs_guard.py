"""Snapshot refs resolve in one place and every pruning writer plans on
its own manifest load: the published-history walk (``_main_ancestors``)
is called only by ``snapshots._pin``, and no program module carries a
"planned against snapshot" re-plan gate — ``_commit``'s version CAS is
the one freshness check. SQL MERGE has one executor: only its retry
attempt calls the CDC applier. Row-level writes go through the one
change writer, never the reference upsert operators. Every new
snapshot entry lands through the one commit helper
(``snapshots._commit_entry``)."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
FILES = [
    ROOT / "__spark_entry__.py",
    *(ROOT / "e_commerce_lakehouse_spark").rglob("*.py"),
]


class _Callers(ast.NodeVisitor):
    """Enclosing function path of every call to ``name``."""

    def __init__(self, name: str):
        self.name, self.stack, self.found = name, [], []

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        f = node.func
        if getattr(f, "id", None) == self.name or getattr(f, "attr", None) == self.name:
            self.found.append(".".join(self.stack) or "<module>")
        self.generic_visit(node)


def test_main_ancestors_called_only_by_pin():
    callers = set()
    for f in FILES:
        v = _Callers("_main_ancestors")
        v.visit(ast.parse(f.read_text()))
        callers |= {f"{f.relative_to(ROOT)}:{c}" for c in v.found}
    assert callers == {"e_commerce_lakehouse_spark/sources/snapshots.py:_pin"}


def test_no_replan_freshness_gates():
    hits = [
        f"{f.relative_to(ROOT)}:{n}"
        for f in FILES
        for n, line in enumerate(f.read_text().splitlines(), 1)
        if "planned against snapshot" in line
    ]
    assert not hits, "re-plan freshness gate left in:\n" + "\n".join(hits)


def _callers(name: str, files=FILES) -> set[str]:
    """``path:enclosing function`` of every call to ``name``."""
    out = set()
    for f in files:
        v = _Callers(name)
        v.visit(ast.parse(f.read_text()))
        out |= {f"{f.relative_to(ROOT)}:{c}" for c in v.found}
    return out


def test_sql_merge_has_one_executor():
    f = ROOT / "e_commerce_lakehouse_spark/sources/sql_dml.py"
    v = _Callers("_changes")
    v.visit(ast.parse(f.read_text()))
    assert set(v.found) == {"_merge._run"}, v.found


def test_row_level_writes_use_the_one_change_writer():
    """``operators.upsert.merge_upsert`` / ``apply_changes`` stay the
    reference model (the driver contract and the tests use them): no
    storage or streaming module writes a table through them. Matched
    rows are position-tagged only by the change writer."""
    pkg = ROOT / "e_commerce_lakehouse_spark"
    write_paths = [*(pkg / "sources").rglob("*.py"), *(pkg / "streaming").rglob("*.py")]
    for name in ("merge_upsert", "apply_changes"):
        assert not _callers(name, write_paths), name
    deletes = "e_commerce_lakehouse_spark/sources/deletes.py"
    assert _callers("_tag_positions") == {f"{deletes}:_write_changes"}


def _ref_writes(tree) -> list[tuple[str, int, str]]:
    """``(enclosing function, line, kind)`` of every
    ``<x>["snapshots"].append(...)`` call and every assignment to
    ``<x>["current"]``."""

    def key(node):
        return (
            node.slice.value
            if isinstance(node, ast.Subscript) and isinstance(node.slice, ast.Constant)
            else None
        )

    out = []

    def walk(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "append"
            and key(node.func.value) == "snapshots"
        ):
            out.append((fn, node.lineno, "snapshots.append"))
        targets = (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, (ast.AugAssign, ast.AnnAssign))
            else []
        )
        for t in targets:
            for sub in ast.walk(t):
                if key(sub) == "current" and isinstance(sub.ctx, ast.Store):
                    out.append((fn, node.lineno, "current ="))
        for child in ast.iter_child_nodes(node):
            walk(child, fn)

    walk(tree, "<module>")
    return out


def test_snapshot_entries_commit_through_one_helper():
    """Appending an entry and moving ``current`` happen only inside
    ``snapshots._commit_entry``; the one other ref move is
    ``fast_forward``'s publish, which points ``current`` at an existing
    snapshot."""
    allowed = {
        ("e_commerce_lakehouse_spark/sources/snapshots.py", "_commit_entry", "snapshots.append"),
        ("e_commerce_lakehouse_spark/sources/snapshots.py", "_commit_entry", "current ="),
        ("e_commerce_lakehouse_spark/sources/snapshots.py", "fast_forward", "current ="),
    }
    found = set()
    stray = []
    for f in FILES:
        rel = str(f.relative_to(ROOT))
        for fn, line, kind in _ref_writes(ast.parse(f.read_text())):
            found.add((rel, fn, kind))
            if (rel, fn, kind) not in allowed:
                stray.append(f"{rel}:{line} {fn}: {kind}")
    assert not stray, "entry built outside the commit helper:\n" + "\n".join(stray)
    assert found == allowed
