"""No package-level definition may sit unreferenced.

Every module-level function, class and assigned name in the package
must be named somewhere in the repo's ``.py`` files outside its own
definition; a use in a test counts. Names are matched as whole words,
so a reference through an attribute (``registry.REGISTRY``), an import
or a string key all count. Excluded from the search: the archived plan
dumps under ``plans/r1*``, ``spark-warehouse`` and ``.perfbench``.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "data_engineering_course_project_2023_spark")
_SKIP_DIRS = {".git", "__pycache__", "spark-warehouse", ".perfbench"}
_WORD = re.compile(r"\w+")

# Definitions kept on purpose although nothing names them. Empty: delete
# dead code instead of listing it here.
ALLOWED: set[str] = set()


def _repo_py_files() -> list[str]:
    out = []
    for d, dirs, files in os.walk(ROOT):
        at_plans = os.path.relpath(d, ROOT) == "plans"
        dirs[:] = [
            x for x in dirs
            if x not in _SKIP_DIRS and not (at_plans and x.startswith("r1"))
        ]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return out


def _module_definitions(tree: ast.Module) -> list[tuple[str, int, int]]:
    """(name, first line, last line) of each top-level definition."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = [node.target.id]
        else:
            continue
        out += [(n, node.lineno, node.end_lineno) for n in names]
    return out


def test_no_unreferenced_package_definitions():
    sources = {}
    for path in _repo_py_files():
        with open(path, encoding="utf-8") as f:
            sources[path] = f.read()
    # a whole-word grep for an identifier is a lookup of its \w+ token
    repo_words = Counter(w for src in sources.values() for w in _WORD.findall(src))

    dead = []
    for path, src in sources.items():
        if not path.startswith(PKG + os.sep):
            continue
        lines = src.splitlines()
        for name, first, last in _module_definitions(ast.parse(src)):
            if (name.startswith("__") and name.endswith("__")) or name in ALLOWED:
                continue
            span = "\n".join(lines[first - 1:last])
            own = sum(1 for w in _WORD.findall(span) if w == name)
            if repo_words[name] == own:
                dead.append(f"{os.path.relpath(path, ROOT)}:{first} {name}")
    assert not dead, "referenced nowhere but their own definition:\n" + "\n".join(
        sorted(dead)
    )
