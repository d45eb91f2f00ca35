"""``sources/tables.py`` is the one module that moves parquet
directories: every whole-table replace in ``qaapi_spark`` lands the new
table at ``<dir>.next`` and calls its crash-safe ``swap``.  A second
rename scheme elsewhere would reopen the crash window ``swap`` closes
(old table deleted before the new one is in place), so this guard
parses the package and fails on any other call that moves a path.
A hard link counts as a move: a bucket merge links the buckets it
leaves alone into ``<dir>.next`` before the swap."""

from __future__ import annotations

import ast
from pathlib import Path

import qaapi_spark

PKG = Path(qaapi_spark.__file__).resolve().parent
OWNER = PKG / "sources" / "tables.py"

# (module, function) pairs that move a path on the local filesystem
_MOVERS = {
    ("os", "rename"), ("os", "renames"), ("os", "replace"), ("os", "link"), ("shutil", "move")
}


def path_moves(source: str) -> list[str]:
    """``line: call`` of every path-moving call in ``source``:
    ``os.rename``/``os.renames``/``os.replace``/``os.link``/``shutil.move`` (also
    through ``import os as x`` or ``from shutil import move``), and
    any ``.rename(...)`` method call — Hadoop ``FileSystem.rename``
    through py4j, or ``pathlib.Path.rename``."""
    tree = ast.parse(source)
    modules: dict[str, str] = {}  # local name -> "os" / "shutil"
    funcs: set[str] = set()  # local names bound to a mover
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in ("os", "shutil"):
                    modules[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module in ("os", "shutil"):
            for a in node.names:
                if (node.module, a.name) in _MOVERS:
                    funcs.add(a.asname or a.name)
    hits = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Attribute):
            qualified = isinstance(f.value, ast.Name) and (
                (modules.get(f.value.id), f.attr) in _MOVERS
            )
            moves = qualified or f.attr == "rename"
        else:
            moves = isinstance(f, ast.Name) and f.id in funcs
        if moves:
            hits.append(f"{node.lineno}: {ast.unparse(f)}")
    return hits


def test_path_moves_detects_every_spelling():
    src = (
        "import os\nimport os as _os\nimport shutil\n"
        "from shutil import move as mv\nfrom os import replace\n"
        "os.rename(a, b)\n_os.replace(a, b)\nshutil.move(a, b)\n"
        "mv(a, b)\nreplace(a, b)\nfs.rename(p, q)\n"
        "s.replace('x', 'y')\nos.path.join(a, b)\nos.link(a, b)\n"
    )
    assert [h.split(":")[0] for h in path_moves(src)] == [
        "6", "7", "8", "9", "10", "11", "14"
    ]


def test_only_sources_tables_moves_directories():
    assert path_moves(OWNER.read_text()), "the scan no longer sees swap's renames"
    offenders = {
        str(p.relative_to(PKG)): hits
        for p in sorted(PKG.rglob("*.py"))
        if p != OWNER and (hits := path_moves(p.read_text()))
    }
    assert not offenders, (
        "directory moves outside sources/tables.py — replace a table by "
        f"writing <dir>.next and calling sources.tables.swap: {offenders}"
    )
