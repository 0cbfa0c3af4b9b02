"""Dead-code guard: every module-level function and every method of a
module-level class in the package is referenced somewhere.

A reference is a whole-word occurrence of the name in any other ``.py``
file of the repository (package, tests, bench scripts, ``perfbench/``,
``__spark_entry__.py``) or a second occurrence in its own file.  Names
reached only through strings (``getattr`` wrap lists) count, because the
match is on text.  Functions nested in other functions (Spark kernels,
closures) and dunder methods are exempt."""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "augdiff_pipeline_spark")
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _sources() -> dict[str, str]:
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    out[path] = fh.read()
    return out


def _defs(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, FUNCS):
            yield node
        elif isinstance(node, ast.ClassDef):
            yield from (n for n in node.body if isinstance(n, FUNCS))


def test_every_package_def_is_referenced():
    sources = _sources()
    words = {path: Counter(re.findall(r"\w+", src)) for path, src in sources.items()}
    files_with = Counter(w for counts in words.values() for w in counts)
    dead = []
    for path, src in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in _defs(ast.parse(src)):
            name = node.name
            if name.startswith("__") and name.endswith("__"):
                continue
            own = words[path][name]
            if own < 2 and files_with[name] - (own > 0) == 0:
                dead.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {name}")
    assert not dead, "defined but never referenced:\n" + "\n".join(dead)
