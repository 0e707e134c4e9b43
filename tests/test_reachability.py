"""Dead-code guard: every public top-level function and class of the
package is named somewhere in the repository's Python code besides its
own definition — by a caller, a test, a script, the benchmark or the
driver contract. Parsed with ``ast``, so a docstring mention does not
count, and neither does a package ``__init__`` re-export (it reaches
nothing by itself). Names inside other string constants do count: SQL
text, ``getattr`` targets and CLI dispatch reach code by name. Queries
registered with ``@register`` are exempt, as the registry reaches them."""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "streaming_etl_pipeline_spark")
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _python_files() -> list[str]:
    out = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return out


def _docstring_ids(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                ids.add(id(first.value))
    return ids


def _names(tree: ast.AST, is_init: bool) -> set[str]:
    docstrings = _docstring_ids(tree)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias) and not is_init:
            names.add(node.name.rsplit(".", 1)[-1])
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
        ):
            names.update(_WORD.findall(node.value))
    return names


def _registered(node: ast.AST) -> bool:
    for dec in node.decorator_list:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", getattr(fn, "attr", None)) == "register":
            return True
    return False


def test_every_public_package_name_is_reached():
    named: set[str] = set()
    defined = []
    for path in _python_files():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        is_init = os.path.basename(path) == "__init__.py"
        named |= _names(tree, is_init)
        if path.startswith(PACKAGE + os.sep) and not is_init:
            rel = os.path.relpath(path, REPO)
            defined += [
                (rel, node.name)
                for node in tree.body
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                and not node.name.startswith("_")
                and not _registered(node)
            ]
    assert defined, "no package definitions found"
    unreached = sorted(f"{rel}::{name}" for rel, name in defined if name not in named)
    assert unreached == [], f"named by nothing: {unreached}"
