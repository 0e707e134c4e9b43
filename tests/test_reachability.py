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
is no longer defined or once something outside the tests reaches it.

The parameter guard applies the same rule one level down: every
defaulted parameter of a public top-level package function must be set
by some call outside ``tests/``. A parameter that only tests set is an
option nothing uses; its default becomes a constant and the branch its
other values selected is deleted. ``KEPT_PARAMS`` lists the exceptions,
and it can only shrink too. Functions in ``KEPT`` are skipped whole."""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "streaming_etl_pipeline_spark")
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

#: Defaulted parameters no call outside ``tests/`` sets, kept on purpose,
#: keyed ``<module>.<function>(<param>)``.
KEPT_PARAMS = {
    # deployment settings
    "session.build_session(master)": "the Spark master URL",
    "session.build_session(shuffle_partitions)": "the shuffle width",
    "streaming.ingest.read_kafka_stream(max_offsets_per_trigger)":
        "the Kafka rate limit per trigger",
    # seams through which a test substitutes a fake
    "pipelines.run.main(argv)": "tests pass the CLI arguments",
    "quality.expectations.check_freshness(now)": "tests pin the clock",
    "machine_state.sibling_processes(patterns)":
        "tests look for a fake bench process",
    "machine_state.thp_canary(budget_s)": "tests bound the canary's run time",
    "machine_state.machine_state(canary_mb)": "tests run a small canary",
    # non-default paths a named test uses as the reference for the default
    "streaming.ingest.ann_index_batch(use_arrow)":
        "the expression encode that tests/test_streaming.py::"
        "test_ann_index_batch_two_epochs compares the Arrow encode with",
    "functions.codecs.png_encode(filter_type)":
        "the filtered scanlines png_decode must read from external PNGs; "
        "tests/test_properties.py::test_png_codec_roundtrip_property",
    "operators.components.pagerank_sql(scale)":
        "the oracle twin of pagerank(scale=), which scripts/soak_pagerank.py "
        "sets; tests/test_oracle_fuzz.py::test_fuzz_pagerank_degenerate_graphs "
        "checks their parity at that scale",
}


def _python_files(repo: str = REPO) -> list[str]:
    """Every ``.py`` file under ``repo`` outside its ``tests/``."""
    tests = os.path.join(repo, "tests")
    out = []
    for root, dirs, files in os.walk(repo):
        dirs[:] = [
            d
            for d in dirs
            if not d.startswith(".") and os.path.join(root, d) != tests
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


def _restated(node: ast.AST) -> str | None:
    """What an argument must be to restate the default ``node``: its
    expression, unless it is a literal."""
    return None if isinstance(node, ast.Constant) else ast.dump(node)


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None, str | None]]:
    """Each defaulted parameter of ``fn`` with its position (``None``
    for a keyword-only one) and what restates its default."""
    pos = fn.args.posonlyargs + fn.args.args
    first = len(pos) - len(fn.args.defaults)
    out = [
        (a.arg, i, _restated(d))
        for i, (a, d) in enumerate(zip(pos[first:], fn.args.defaults), first)
    ]
    out += [
        (a.arg, None, _restated(d))
        for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]
    return out


def _callee(node: ast.AST) -> str | None:
    return getattr(node, "id", getattr(node, "attr", None))


def _param_scan(files: list[str], package: str) -> dict[str, bool]:
    """Each defaulted parameter of a public top-level function under
    ``package``, keyed ``<module>.<function>(<param>)``, mapped to
    whether some call in ``files`` sets it. Calls are matched by callee
    name, through ``import ... as`` aliases; a call sets a parameter by
    keyword, by reaching its position, or through a ``*``/``**`` splat,
    unless it passes the default's own name or expression: passing the
    constant a default is bound to can never select anything else. A
    literal equal to the default still counts, as it pins the value. A
    function named other than as a callee (passed as a callback, stored
    in a table) counts as fully set."""
    calls: dict[str | None, list[tuple[list[str], dict, bool]]] = {}
    referenced: set[str | None] = set()
    params: dict[tuple[str, str], list[tuple[str, int | None, str | None]]] = {}
    for path in files:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        # a name imported ``as`` another is called by its alias
        alias = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        callees = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                callees.add(id(node.func))
                name = _callee(node.func)
                splat = any(isinstance(a, ast.Starred) for a in node.args)
                splat |= any(k.arg is None for k in node.keywords)
                calls.setdefault(alias.get(name, name), []).append((
                    [ast.dump(a) for a in node.args],
                    {k.arg: ast.dump(k.value) for k in node.keywords},
                    splat,
                ))
        for node in ast.walk(tree):
            if (
                isinstance(node, (ast.Name, ast.Attribute))
                and id(node) not in callees
            ):
                name = _callee(node)
                referenced.add(alias.get(name, name))
        is_init = os.path.basename(path) == "__init__.py"
        if path.startswith(package + os.sep) and not is_init:
            module = os.path.relpath(path, package)[: -len(".py")]
            module = module.replace(os.sep, ".")
            for node in tree.body:
                if (
                    isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not node.name.startswith("_")
                    and not _registered(node)
                ):
                    params[(module, node.name)] = _defaulted(node)
    out = {}
    for (module, name), defaulted in params.items():
        seen = calls.get(name, [])
        for param, pos, default in defaulted:
            out[f"{module}.{name}({param})"] = name in referenced or any(
                splat
                or kws.get(param, default) != default
                or (pos is not None and pos < len(args) and args[pos] != default)
                for args, kws, splat in seen
            )
    return out


def _params() -> dict[str, bool]:
    """The package's parameter scan, functions in ``KEPT`` left out."""
    return {
        key: is_set
        for key, is_set in _param_scan(_python_files(), PACKAGE).items()
        if key.split("(")[0] not in KEPT
    }


def test_every_defaulted_public_parameter_is_set():
    unset = sorted(
        key for key, is_set in _params().items()
        if not is_set and key not in KEPT_PARAMS
    )
    assert unset == [], f"set by no call outside tests/: {unset}"


def test_kept_params_exist_and_are_still_unset():
    params = _params()
    gone = sorted(key for key in KEPT_PARAMS if key not in params)
    assert gone == [], f"KEPT_PARAMS no longer defined, drop them: {gone}"
    now_set = sorted(key for key in KEPT_PARAMS if params[key])
    assert now_set == [], f"KEPT_PARAMS now set, drop them: {now_set}"


def test_param_scan_flags_only_what_tests_alone_set(tmp_path):
    """The scan must not pass by checking nothing: of five parameters,
    the one set only from a ``tests/`` file and the one whose callers
    only pass the constant its default is bound to are flagged, while
    the ones set by position, through ``**kw`` and by a literal pin are
    not."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def f(a, only_tests=1):\n    return a\n\n\n"
        "def g(a, by_position=2):\n    return a\n\n\n"
        "def h(a, by_splat=3):\n    return a\n\n\n"
        "LIMIT = 4\n\n\n"
        "def k(a, restated=LIMIT, pinned=5):\n    return a\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from pkg.mod import f\n\nf(0, only_tests=5)\n"
    )
    (tmp_path / "caller.py").write_text(
        "from pkg.mod import LIMIT, g, h, k\n\nkw = {'by_splat': 4}\n"
        "g(0, 7)\nh(0, **kw)\nk(0, LIMIT, 5)\nk(1, restated=LIMIT)\n"
    )
    scan = _param_scan(_python_files(str(tmp_path)), str(pkg))
    assert scan == {
        "mod.f(only_tests)": False,
        "mod.g(by_position)": True,
        "mod.h(by_splat)": True,
        "mod.k(restated)": False,
        "mod.k(pinned)": True,
    }
