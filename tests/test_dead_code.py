"""No package-level definition may sit unreferenced, and the set of
definitions only tests reach may only shrink.

Every module-level function, class and assigned name in the package
must be named somewhere in the code of the repo's ``.py`` files outside
its own definition; a use in a test counts. Names are matched as whole
words in names and string literals, so a reference through an attribute
(``registry.REGISTRY``), an import or a string key all count, while a
mention in a comment, a docstring or another bare string statement does
not. Excluded from the search: the archived plan dumps under
``plans/r1*``, ``spark-warehouse`` and ``.perfbench``.
"""

from __future__ import annotations

import ast
import io
import os
import re
import tokenize
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "data_engineering_course_project_2023_spark")
_SKIP_DIRS = {".git", "__pycache__", "spark-warehouse", ".perfbench"}
_WORD = re.compile(r"\w+")

# Definitions kept on purpose although nothing names them. Empty: delete
# dead code instead of listing it here.
ALLOWED: set[str] = set()

# Definitions named only under tests/. Wire an entry in or delete it
# with its tests, then remove it here; never add to this set.
TEST_ONLY: set[str] = {
    "ARXIV_RAW", "CDC_LOG_SCHEMA", "cdc_materialize_stream",
    "cdc_state_view", "dedup_events_batch", "dsir_model_snapshot_stream",
    "enrich_by_key", "export_training_shards", "fetch_extract_cleanup",
    "finalize_funnel", "frame_sample", "novelty_ingest_batch",
    "read_binary_dir",
    "running_user_totals_stream", "sentence_split_udtf", "stream_log_dir",
    "write_zordered",
    # named elsewhere only in comments or docstrings
    "attribution_join_outer_stream", "compact_parquet",
    "decode_json_values", "dsir_model_batch", "file_topic_envelopes",
    "hdr_quantiles_batch", "hdr_snapshot_stream", "novelty_ingest_stream",
    "quantize_py", "reconcile_cogroup", "running_user_totals_batch",
    "shuffle_summary", "stream_to_jdbc", "topk_snapshot_stream",
    "topk_tokens_batch", "with_event_time", "write_sorted_ranges",
}
TESTS = os.path.join(ROOT, "tests") + os.sep


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


def _code_words(src: str) -> list[tuple[int, str]]:
    """(line, word) of each whole word in the code of ``src``: names and
    string literals, not comments or bare string statements (docstrings
    among them)."""
    prose = [
        ((n.lineno, n.col_offset), (n.end_lineno, n.end_col_offset))
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Expr)
        and isinstance(n.value, ast.Constant)
        and isinstance(n.value.value, str)
    ]
    out = []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT or (
            tok.type == tokenize.STRING
            and any(a <= tok.start and tok.end <= b for a, b in prose)
        ):
            continue
        out += [(tok.start[0], w) for w in _WORD.findall(tok.string)]
    return out


def _package_definitions():
    """(location, name, uses outside its own definition in non-test
    files, uses in tests) of each package definition."""
    sources = {}
    for path in _repo_py_files():
        with open(path, encoding="utf-8") as f:
            sources[path] = f.read()
    code = {path: _code_words(src) for path, src in sources.items()}
    words = {True: Counter(), False: Counter()}
    for path, found in code.items():
        words[path.startswith(TESTS)].update(w for _line, w in found)

    for path, src in sources.items():
        if not path.startswith(PKG + os.sep):
            continue
        for name, first, last in _module_definitions(ast.parse(src)):
            if (name.startswith("__") and name.endswith("__")) or name in ALLOWED:
                continue
            own = sum(
                1 for line, w in code[path] if w == name and first <= line <= last
            )
            where = f"{os.path.relpath(path, ROOT)}:{first} {name}"
            yield where, name, words[False][name] - own, words[True][name]


def test_no_unreferenced_package_definitions():
    dead = [
        where for where, _name, outside, in_tests in _package_definitions()
        if outside == 0 and in_tests == 0
    ]
    assert not dead, "referenced nowhere but their own definition:\n" + "\n".join(
        sorted(dead)
    )


def test_test_only_definitions_only_shrink():
    found = {
        name: where for where, name, outside, in_tests in _package_definitions()
        if outside == 0 and in_tests > 0
    }
    new = sorted(where for name, where in found.items() if name not in TEST_ONLY)
    assert not new, "named only under tests/ (wire in or delete):\n" + "\n".join(new)
    stale = sorted(TEST_ONLY - set(found))
    assert not stale, f"no longer test-only, remove from TEST_ONLY: {stale}"
