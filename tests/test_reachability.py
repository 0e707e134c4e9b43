"""Dead-code guard: every public top-level function and class of the
package is named somewhere in the repository's Python code outside
``tests/`` besides its own definition — by a caller in the package, a
script, the benchmark or the driver contract. A test is not a caller:
code that only its own tests reach is deleted, not maintained. Parsed
with ``ast``, so a docstring mention does not count, and neither does a
package ``__init__`` re-export (it reaches nothing by itself). Names
inside other string constants do count: SQL text, ``getattr`` targets
and CLI dispatch reach code by name. Queries registered with
``@register`` are exempt, as the registry reaches them.

``KEPT`` lists the few unreached names that stay on purpose, each with
its reason. The list can only shrink: an entry fails the guard once it
is no longer defined or once something outside the tests reaches it."""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "streaming_etl_pipeline_spark")
TESTS = os.path.join(REPO, "tests")
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

#: Unreached public names kept on purpose, keyed ``<module>.<name>``
#: relative to the package.
KEPT = {
    # reference parity (SURVEY.md §2 rows)
    "sources.io.read_csv_events": "S6: the reference's CSV batch source",
    "warehouse.write_jdbc": "S7: the reference's JDBC warehouse load",
    "operators.joins.star_join": "J3: the reference's fact-to-dims star join",
    # monitoring the observability aim wants fed; its observe seam wires
    # or deletes them
    "quality.exporter.PrometheusExporter": "Prometheus export of engine metrics",
    "streaming.ingest.store_health": "ingest-store health for the exporter",
    # checks: safety code
    "quality.expectations.validate_or_raise": "fail-fast expectation runner",
    "quality.expectations.fk_check": "referential-integrity check",
    "quality.expectations.row_count_ratio_check": "row-count drift check",
    "quality.expectations.schema_check_or_raise": "schema-drift check",
    # integrity audit
    "sources.io.verify_training_shards": "audit of stored shard manifests",
}


def _python_files() -> list[str]:
    out = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [
            d
            for d in dirs
            if not d.startswith(".") and os.path.join(root, d) != TESTS
        ]
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


def _scan() -> tuple[set[str], dict[str, str]]:
    """Names used outside ``tests/``, and each public package definition
    as ``<module>.<name>`` → its bare name."""
    named: set[str] = set()
    defined: dict[str, str] = {}
    for path in _python_files():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        is_init = os.path.basename(path) == "__init__.py"
        named |= _names(tree, is_init)
        if path.startswith(PACKAGE + os.sep) and not is_init:
            module = os.path.relpath(path, PACKAGE)[: -len(".py")]
            module = module.replace(os.sep, ".")
            for node in tree.body:
                if (
                    isinstance(
                        node,
                        (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                    )
                    and not node.name.startswith("_")
                    and not _registered(node)
                ):
                    defined[f"{module}.{node.name}"] = node.name
    assert defined, "no package definitions found"
    return named, defined


def test_every_public_package_name_is_reached():
    named, defined = _scan()
    unreached = sorted(
        key for key, name in defined.items()
        if name not in named and key not in KEPT
    )
    assert unreached == [], f"named by nothing outside tests/: {unreached}"


def test_kept_names_are_defined_and_still_unreached():
    named, defined = _scan()
    gone = sorted(key for key in KEPT if key not in defined)
    assert gone == [], f"KEPT names no longer defined, drop them: {gone}"
    reached = sorted(key for key in KEPT if defined[key] in named)
    assert reached == [], f"KEPT names now reached, drop them: {reached}"
