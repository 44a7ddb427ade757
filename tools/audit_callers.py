"""Caller audit: every top-level function and class in the package is
reached from production code, or the allowlist below says why not.

Production code is the package itself plus the repo's entry points:
``bench.py``, ``__spark_entry__.py``, ``tools/`` and ``perfbench/``
(its ``tests/`` excluded). ``tests/`` never count, so a function that
only a test calls fails the audit.

The scan is by name, over the AST, and follows references
transitively:

- the roots are every statement of the entry-point files, and the
  package's module-level statements that are not definitions (an
  ``if __name__ == "__main__":`` block, a decorator, a base class);
- a top-level ``def``/``class``, or a module-level assignment such as
  a ``QUERIES`` dict, is reached when its name appears as an
  ``ast.Name`` id or an ``ast.Attribute`` attr in reached code, and
  then its own body is followed;
- import lines and the strings of ``__all__`` do not count, so
  importing or exporting a name does not reach it.

Matching is by bare name across modules, so two definitions that share
a name are reached together; the audit can miss an unused function
that way, never flag a used one.

The allowlist holds test references only: functions that no
production code calls but that a test compares production code
against. Allowlisted names are treated as roots, so what they call is
reached through them. An allowlist entry is stale, and fails the
audit, when production reaches it anyway, when it names no
definition, or when no file under ``tests/`` or ``perfbench/tests/``
references it.

Exit code 1 on any unreached, unallowlisted definition or any stale
allowlist entry.

Usage: python tools/audit_callers.py
"""

from __future__ import annotations

import ast
import os
import sys
from collections.abc import Iterable, Iterator

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# "module.path:name" -> why nothing in production calls it. Only test
# references: Python forms of an operator that tests/ or perfbench/tests
# compare the production (Spark expression) form against.
ALLOWED = {
    "operators.row_split:row_split_kernel":
        "the Python reference the row-split tests compare the array-function split against",
    "operators.scaler:_line_scale_py":
        "the difflib reference line_scale is tested against, here and in perfbench/tests",
}

DEFAULT_ROOTS = ("bench.py", "__spark_entry__.py", "tools", "perfbench")
TEST_DIRS = ("tests", os.path.join("perfbench", "tests"))


def _py_files(path: str) -> Iterator[str]:
    if os.path.isfile(path):
        yield path
        return
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(
            d for d in dirnames if d not in ("tests", "__pycache__") and not d.startswith(".")
        )
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _names(nodes: Iterable[ast.AST]) -> set[str]:
    """Name ids and Attribute attrs referenced under ``nodes``; import
    statements and ``__all__`` assignments contribute nothing."""
    out: set[str] = set()
    stack = list(nodes)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)) or _is_all(node):
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _is_all(node: ast.AST) -> bool:
    targets = (
        node.targets if isinstance(node, ast.Assign)
        else [node.target] if isinstance(node, (ast.AugAssign, ast.AnnAssign))
        else []
    )
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _assigned(node: ast.stmt) -> list[str]:
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _module_name(pkg_dir: str, path: str) -> str:
    rel = os.path.relpath(path, pkg_dir)[:-3].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def audit(
    pkg_dir: str,
    roots: Iterable[str] = (),
    allowed: dict[str, str] | None = None,
    tests: Iterable[str] | None = None,
) -> tuple[list[str], list[str]]:
    """Return (unreached, stale): ``module:name`` of each top-level
    function or class that no root reaches and ``allowed`` does not
    name, and each ``allowed`` key that is reached or not defined or,
    when ``tests`` (files or directories) is given, that no test
    references."""
    allowed = {} if allowed is None else allowed
    # name -> bodies to follow once the name is reached
    bodies: dict[str, list[ast.AST]] = {}
    defs: dict[str, str] = {}  # "module:name" -> name, functions and classes
    root_nodes: list[ast.AST] = []
    for path in _py_files(pkg_dir):
        mod = _module_name(pkg_dir, path)
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}:{node.name}"] = node.name
                bodies.setdefault(node.name, []).extend(node.body)
                # evaluated at import: decorators, defaults, bases, annotations
                root_nodes.extend(node.decorator_list)
                if isinstance(node, ast.ClassDef):
                    root_nodes.extend(node.bases + node.keywords)
                else:
                    root_nodes.append(node.args)
                    if node.returns is not None:
                        root_nodes.append(node.returns)
            elif _assigned(node) and not _is_all(node):
                for name in _assigned(node):
                    bodies.setdefault(name, []).append(node)
            else:
                root_nodes.append(node)
    root_nodes.extend(_parse_all(roots))

    allowed_names = {key.split(":", 1)[1] for key in allowed}
    production = _reach(_names(root_nodes), bodies)
    reached = _reach(_names(root_nodes) | allowed_names, bodies)
    unreached = sorted(k for k, n in defs.items() if n not in reached and k not in allowed)
    tested = None if tests is None else _names(_parse_all(tests))
    stale = sorted(
        k for k in allowed
        if k not in defs
        or defs[k] in production
        or (tested is not None and defs[k] not in tested)
    )
    return unreached, stale


def _parse_all(paths: Iterable[str]) -> list[ast.AST]:
    trees = []
    for root in paths:
        for path in _py_files(root):
            with open(path, encoding="utf-8") as fh:
                trees.append(ast.parse(fh.read(), path))
    return trees


def _reach(seed: set[str], bodies: dict[str, list[ast.AST]]) -> set[str]:
    reached, todo = set(), list(seed)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo.extend(_names(bodies.get(name, ())) - reached)
    return reached


def main() -> int:
    roots = [os.path.join(REPO, r) for r in DEFAULT_ROOTS]
    tests = [os.path.join(REPO, t) for t in TEST_DIRS]
    unreached, stale = audit(os.path.join(REPO, "x17a5_spark"), roots, ALLOWED, tests)
    for key in unreached:
        print(f"NO CALLER  {key}")
    for key in stale:
        print(f"STALE      {key}  (allowlisted, but reached, not defined or untested)")
    n = len(unreached) + len(stale)
    print("PASS" if n == 0 else f"FAIL ({n})")
    return 1 if n else 0


if __name__ == "__main__":
    sys.exit(main())
