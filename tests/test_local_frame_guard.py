"""Driver rows enter Spark through `session.local_frame` only.

A `createDataFrame` over a Python list plans a `LogicalRDD`: every job
that reads it (a broadcast, a collect) runs Python-worker tasks that
cost hundreds of milliseconds on a handful of rows.  `local_frame`
sends the rows as one Arrow table instead, which plans a
`LocalRelation` with exact size statistics.  This guard keeps a new
list-built table from bringing a Python-worker job back.

No Spark session needed: it reads the package's source.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ferenda_spark"

#: files allowed to call createDataFrame directly, with the reason:
#: similarity.py is part of the training-data surface, outside the
#: KG build and query path.
EXEMPT = {"operators/similarity.py"}


def _create_dataframe_uses(tree: ast.AST) -> list[tuple[int, str | None]]:
    """(line, enclosing top-level function) of every `.createDataFrame`
    attribute in the module."""
    uses = []
    for top in tree.body:
        owner = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr == "createDataFrame":
                uses.append((node.lineno, owner))
    return uses


def test_no_create_dataframe_outside_local_frame():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in EXEMPT:
            continue
        for line, owner in _create_dataframe_uses(ast.parse(path.read_text())):
            if (rel, owner) != ("session.py", "local_frame"):
                stray.append(f"{rel}:{line}")
    assert stray == [], f"createDataFrame outside session.local_frame: {stray}"


def test_guard_sees_local_frame_and_the_exemption():
    """The guard is not vacuous: it finds the one sanctioned call and
    the exempt file's calls."""
    session = ast.parse((PKG / "session.py").read_text())
    assert [o for _, o in _create_dataframe_uses(session)] == ["local_frame"]
    for rel in EXEMPT:
        assert _create_dataframe_uses(ast.parse((PKG / rel).read_text()))
