"""Stage IO must go through the Hadoop FileSystem API (sources/fs.py),
not one machine's local filesystem, so it holds on a real cluster: the
commit modules may not use shutil, os file operations or builtin
open(), and only sources/fs.py may obtain a Hadoop FileSystem."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "rkts_migration_spark"
COMMIT_MODULES = ("sources/tables.py", "sources/xml_sink.py",
                  "streaming/incremental.py")
LOCAL_FS_CALLS = {"os.replace", "os.walk", "os.path.exists", "os.makedirs"}


def _dotted(node: ast.AST) -> str:
    if isinstance(node, ast.Attribute):
        return f"{_dotted(node.value)}.{node.attr}"
    return node.id if isinstance(node, ast.Name) else ""


def _local_fs_uses(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names if a.name == "shutil"]
        elif isinstance(node, ast.ImportFrom) and node.module == "shutil":
            found.append("from shutil")
        elif isinstance(node, ast.Attribute) and _dotted(node) in LOCAL_FS_CALLS:
            found.append(_dotted(node))
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
              and node.func.id == "open"):
            found.append("open(")
    return found


def _fs_getters(tree: ast.AST) -> list[str]:
    return [_dotted(n) for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            and (n.attr == "getFileSystem"
                 or _dotted(n).endswith("FileSystem.newInstance"))]


def test_commit_modules_use_no_local_filesystem_calls():
    found = {m: _local_fs_uses(ast.parse((PKG / m).read_text()))
             for m in COMMIT_MODULES}
    assert not any(found.values()), found


def test_only_fs_module_obtains_a_filesystem():
    found = {str(p.relative_to(PKG)): _fs_getters(ast.parse(p.read_text()))
             for p in PKG.rglob("*.py") if p != PKG / "sources" / "fs.py"}
    assert not any(found.values()), {k: v for k, v in found.items() if v}
    assert _fs_getters(ast.parse((PKG / "sources" / "fs.py").read_text()))
