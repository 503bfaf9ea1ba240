"""Stale-import and stale-keyword guards: every ``zhtml_spark`` name
that a script imports must exist, and every keyword argument a script
passes to an imported ``zhtml_spark`` callable must name one of its
parameters.  Deleting an API or an option a script still uses then
fails the suite instead of a later run of that script.  The reverse
guard: every public function in the package has a caller outside the
tests, so test-only surface cannot grow back, and every defaulted
parameter of a package or registry function, private helpers included,
is passed by some call outside the tests, so a value only a test varies
is a constant rather than an option.  The iterative ops of
``textops`` materialize and free their rounds only through its one
round helper, and every Python stage meets the Arrow batch format
only through ``udfs.map_rows``.

Scripts are parsed, not run.  Imports nested in functions count, and
so do import lines inside string literals (code snippets a script
hands to a subprocess).
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
import textwrap
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [REPO / "bench.py", REPO / "__spark_entry__.py", *REPO.glob("jobs/*.py")]
)
# perfbench is the benchmark harness: parsed here, never edited for it
KWARG_SCRIPTS = sorted([*SCRIPTS, *REPO.glob("perfbench/*.py")])
PACKAGE = sorted(REPO.glob("zhtml_spark/*.py"))
# public functions kept without a caller outside the tests
NO_CALLER_OK = {
    "predict": "pure-Python lang-id reference for the Spark scores",
    "read_warc": "public WARC directory reader, the entry to sources",
    "list_snapshots": "public audit view of run_job's committed snapshots",
}


def _engine_imports(tree: ast.AST):
    """Yield (module, name) for each engine import in ``tree``; name is
    None for a plain ``import zhtml_spark.x``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level:
            if (node.module or "").split(".")[0] == "zhtml_spark":
                for alias in node.names:
                    yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "zhtml_spark":
                    yield alias.name, None
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            for line in node.value.splitlines():
                line = line.strip()
                if line.startswith(("from zhtml_spark", "import zhtml_spark")):
                    yield from _engine_imports(ast.parse(line))


def _resolves(module: str, name: str | None) -> bool:
    if importlib.util.find_spec(module) is None:
        return False
    if name is None:
        return True
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    # a submodule of a package: ``from zhtml_spark import textops``
    return hasattr(mod, "__path__") and (
        importlib.util.find_spec(f"{module}.{name}") is not None
    )


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_engine_imports_resolve(script):
    tree = ast.parse(script.read_text(), filename=str(script))
    stale = [
        f"{module}.{name}" if name else module
        for module, name in sorted(set(_engine_imports(tree)), key=str)
        if not _resolves(module, name)
    ]
    assert not stale, f"{script.name} imports missing names: {stale}"


def test_guard_sees_nested_and_snippet_imports():
    src = (
        "def main():\n"
        "    from zhtml_spark.udfs import EXTRACT_SCHEMA, gone_udf\n"
        "SNIPPET = '''\n"
        "import sys\n"
        "from zhtml_spark.pipeline import build_session, gone_fn\n"
        "'''\n"
    )
    found = set(_engine_imports(ast.parse(src)))
    assert found == {
        ("zhtml_spark.udfs", "EXTRACT_SCHEMA"),
        ("zhtml_spark.udfs", "gone_udf"),
        ("zhtml_spark.pipeline", "build_session"),
        ("zhtml_spark.pipeline", "gone_fn"),
    }
    assert [n for m, n in sorted(found) if not _resolves(m, n)] == [
        "gone_fn",
        "gone_udf",
    ]


def _stale_keywords(tree: ast.AST) -> list[str]:
    """``f(kw=)`` for each keyword argument in ``tree`` that a call to
    an imported ``zhtml_spark`` callable (``f``, ``m.f`` or
    ``getattr(m, "f")``, resolved by :func:`_callee`) passes but the
    callable does not accept.  Names resolve file-wide (import scope is
    ignored); callables taking ``**kwargs`` accept anything."""
    bound: dict[str, list] = {}
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level:
            continue
        module = node.module or ""
        if module.split(".")[0] != "zhtml_spark":
            continue
        for alias in node.names:
            if _resolves(module, alias.name):
                mod = importlib.import_module(module)
                if hasattr(mod, alias.name):
                    obj = getattr(mod, alias.name)
                else:  # a submodule: ``from zhtml_spark import textops``
                    obj = importlib.import_module(f"{module}.{alias.name}")
                bound.setdefault(alias.asname or alias.name, []).append(obj)
    stale = set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = _callee(f)
        # the module a ``m.f`` or ``getattr(m, "f")`` call reads from
        base = f.value if isinstance(f, ast.Attribute) else (
            f.args[0] if isinstance(f, ast.Call) else None
        )
        if isinstance(f, ast.Name):
            label, targets = f.id, bound.get(f.id, [])
        elif name is not None and isinstance(base, ast.Name):
            label = f"{base.id}.{name}"
            targets = [
                getattr(m, name)
                for m in bound.get(base.id, [])
                if inspect.ismodule(m) and hasattr(m, name)
            ]
        else:
            continue
        for kw in node.keywords:
            if kw.arg is not None and targets and not any(
                _accepts(t, kw.arg) for t in targets
            ):
                stale.add(f"{label}({kw.arg}=)")
    return sorted(stale)


def _accepts(fn, keyword: str) -> bool:
    try:
        params = inspect.signature(fn).parameters
    except (TypeError, ValueError):  # not introspectable: give it a pass
        return True
    return keyword in params or any(
        p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()
    )


@pytest.mark.parametrize("script", KWARG_SCRIPTS, ids=lambda p: p.name)
def test_script_engine_keywords_exist(script):
    tree = ast.parse(script.read_text(), filename=str(script))
    stale = _stale_keywords(tree)
    assert not stale, f"{script.name} passes removed keywords: {stale}"


def test_keyword_guard_flags_removed_option():
    src = (
        "def job(docs):\n"
        "    from zhtml_spark.textops import dedup_survivors\n"
        "    from zhtml_spark import textops\n"
        "    from zhtml_spark.textops import winnow_dup_candidates as wdc\n"
        "    dedup_survivors(docs, n=3, seeds=8, bands=4)\n"
        "    textops.ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=9)\n"
        "    wdc(docs, max_doc_freq=20, shingle='char')\n"
        "    getattr(textops, 'lang_gate')(docs, lang='en')\n"
        "    len(docs, seeds=8)\n"
    )
    assert _stale_keywords(ast.parse(src)) == [
        "dedup_survivors(seeds=)",
        "textops.lang_gate(lang=)",
        "textops.ngram_jaccard_pairs(max_doc_freq=)",
        "wdc(shingle=)",
    ]


def _references(paths) -> set[str]:
    """Every name the files in ``paths`` refer to: Name and Attribute
    nodes and imported names, string-snippet imports included.  A
    top-level function's references to itself and anything inside a
    docstring do not count."""
    refs: set[str] = set()
    for path in paths:
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            body = getattr(node, "body", None)
            if (
                isinstance(body, list)
                and body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                body[0] = ast.Pass()
        for top in tree.body:
            own = top.name if isinstance(top, ast.FunctionDef) else None
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                elif isinstance(node, ast.alias):
                    name = node.name
                else:
                    continue
                if name != own:
                    refs.add(name)
        refs.update(name for _, name in _engine_imports(tree) if name)
    return refs


def test_public_functions_have_a_non_test_caller():
    refs = _references([*PACKAGE, *KWARG_SCRIPTS])
    public = [
        (path.stem, node.name)
        for path in PACKAGE
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_")
    ]
    orphans = sorted(
        f"{module}.{name}"
        for module, name in public
        if name not in refs and name not in NO_CALLER_OK
    )
    assert not orphans, f"public functions only tests call: {orphans}"
    names = {name for _, name in public}
    stale = sorted(n for n in NO_CALLER_OK if n in refs or n not in names)
    assert not stale, f"NO_CALLER_OK entries that now have a caller: {stale}"


# defaulted parameters kept although no non-test caller passes them
NO_CALLER_PARAM_OK = {
    "tokenize.enable_fast_tags": (
        "the state-machine reference the regex fast path is fuzzed against"
    ),
    "run_job._fault_injection": "crash seam of the exactly-once test",
    "run_job.snapshot_id": (
        "per-run identity in the metrics, lineage and checkpoint tables "
        "and the commit record list_snapshots reads"
    ),
    "_components_rounds.max_iter": (
        "the non-convergence check, driven with a small bound"
    ),
    "predict.hash_fn": (
        "pure-Python reference compared against both Spark hash engines"
    ),
    "read_warc.charset": (
        "the only way to build from files the byte-faithful carrier "
        "warc_interleaved_spans needs"
    ),
    "ExtractConfig.include_noscript": (
        "read by the benchmark harness (perfbench/layers.py)"
    ),
}
# the engine's real callers: the package itself, the registry, jobs,
# bench.py and the benchmark harness; a dial only a test turns is a
# constant
CALLER_FILES = sorted([*PACKAGE, *KWARG_SCRIPTS])
# every top-level function here, private helpers included, is checked
DEFAULTED_FILES = [*PACKAGE, REPO / "__spark_entry__.py"]


def _trees(tree: ast.AST):
    """``tree`` and every string literal in it that parses as Python
    with a call in it (code a script hands to a subprocess)."""
    yield tree
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            try:
                snippet = ast.parse(node.value)
            except (SyntaxError, ValueError):
                continue
            if any(isinstance(n, ast.Call) for n in ast.walk(snippet)):
                yield snippet


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of each parameter of
    ``fn`` that has a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
    out += [
        (None, p.arg)
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def _callee(f: ast.expr) -> str | None:
    """The function name a call's ``func`` node names: ``f``,
    ``m.f`` and ``getattr(m, "f")`` give ``f``; a computed callee
    (``getattr(m, name)``, ``ops[i]``, ``make()``) gives None."""
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    if (
        isinstance(f, ast.Call)
        and isinstance(f.func, ast.Name)
        and f.func.id == "getattr"
        and len(f.args) == 2
        and isinstance(f.args[1], ast.Constant)
        and isinstance(f.args[1].value, str)
    ):
        return f.args[1].value
    return None


def _passed(paths) -> tuple[set[str], list[str]]:
    """``f.p`` for each parameter ``p`` that some call to a function
    named ``f`` (or an import alias of it) in ``paths`` passes, by
    keyword as ``f.p`` and by position as ``f.#i``; and ``file:line``
    of each call through a computed callee that passes a keyword,
    which the guard cannot attribute to any function."""
    passed: set[str] = set()
    blind: list[str] = []
    for path in paths:
        for tree in _trees(ast.parse(path.read_text(), filename=str(path))):
            alias = {
                a.asname: a.name
                for n in ast.walk(tree)
                if isinstance(n, ast.ImportFrom)
                for a in n.names
                if a.asname
            }
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                name = _callee(node.func)
                if name is None:
                    if node.keywords:
                        blind.append(f"{path.name}:{node.lineno}")
                    continue
                name = alias.get(name, name)
                passed.update(f"{name}.#{i}" for i in range(len(node.args)))
                passed.update(f"{name}.{kw.arg}" for kw in node.keywords)
    return passed, blind


def _unpassed_parameters(package, callers) -> list[str]:
    passed, blind = _passed(callers)
    unpassed = [f"computed callee passes keywords at {b}" for b in blind]
    for path in package:
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.ClassDef) and node.name == "ExtractConfig":
                for field in node.body:
                    if isinstance(field, ast.AnnAssign):
                        key = f"{node.name}.{field.target.id}"
                        if key not in passed:
                            unpassed.append(key)
            if not isinstance(node, ast.FunctionDef):
                continue
            if node.args.kwarg is not None:
                unpassed.append(f"{node.name}.**{node.args.kwarg.arg}")
            for i, p in _defaulted(node):
                if (
                    f"{node.name}.{p}" not in passed
                    and f"{node.name}.#{i}" not in passed
                ):
                    unpassed.append(f"{node.name}.{p}")
    return sorted(unpassed)


def test_defaulted_parameters_have_a_caller():
    """A defaulted parameter of a top-level package or registry
    function, private helpers included, or an ``ExtractConfig`` field,
    that no call outside the tests passes by keyword or by position
    is a constant with a dial on it;
    ``**kwargs`` catch-alls hide such dials and fail too, and so does a
    call the guard cannot attribute (a computed callee with keywords)."""
    unpassed = _unpassed_parameters(DEFAULTED_FILES, CALLER_FILES)
    extra = sorted(set(unpassed) - set(NO_CALLER_PARAM_OK))
    assert not extra, f"defaulted parameters no caller sets: {extra}"
    stale = sorted(set(NO_CALLER_PARAM_OK) - set(unpassed))
    assert not stale, f"NO_CALLER_PARAM_OK entries that now have a caller: {stale}"


def test_defaults_guard_resolves_getattr_calls(tmp_path):
    """``getattr(m, "f")(…)`` counts as a call to ``f``; a call through
    a computed callee cannot be attributed, so passing it a keyword is
    flagged with its file and line."""
    snippet = tmp_path / "snippet.py"
    # indented, so the guard's own scan of this file skips the literal
    snippet.write_text(textwrap.dedent("""\
        from zhtml_spark import textops
        def job(docs, op):
            getattr(textops, 'kmeans_centroids')(docs, 8, iters=3)
            getattr(textops, op)(docs)
            getattr(textops, op)(docs, n_blocks=3)
            {'a': textops.pagerank}[op](docs, iters=2)
        """))
    passed, blind = _passed([snippet])
    assert {
        "kmeans_centroids.#0", "kmeans_centroids.#1", "kmeans_centroids.iters"
    } <= passed
    assert "pagerank.iters" not in passed
    assert blind == ["snippet.py:5", "snippet.py:6"]


# the one round loop of the iterative ops in textops
ROUND_HELPER = "_Rounds"
ROUND_NAMES = {"_persistent_rdd_ids", "_unpersist_rdd_ids"}


def _round_bookkeeping_outside_helper(tree: ast.AST) -> list[str]:
    """``name@line`` for each ``.localCheckpoint`` or use of the
    persistent-RDD accessors outside the top-level ``_Rounds`` class:
    an iterative op materializes and frees its rounds only through
    the helper, never with a loop of its own."""
    helper = [
        node
        for node in getattr(tree, "body", [])
        if isinstance(node, ast.ClassDef) and node.name == ROUND_HELPER
    ]
    inside = {id(n) for h in helper for n in ast.walk(h)}
    found = []
    for node in ast.walk(tree):
        if id(node) in inside:
            continue
        if isinstance(node, ast.Attribute) and node.attr == "localCheckpoint":
            found.append((node.lineno, "localCheckpoint"))
        elif isinstance(node, ast.Name) and node.id in ROUND_NAMES:
            found.append((node.lineno, node.id))
    return [f"{name}@{line}" for line, name in sorted(found)]


def test_textops_rounds_go_through_the_helper():
    path = REPO / "zhtml_spark" / "textops.py"
    found = _round_bookkeeping_outside_helper(ast.parse(path.read_text()))
    assert not found, f"round bookkeeping outside {ROUND_HELPER}: {found}"


def test_round_guard_flags_a_loop_of_its_own():
    src = textwrap.dedent("""\
        def _persistent_rdd_ids(spark):
            return set()

        class _Rounds:
            def next(self, df):
                before = _persistent_rdd_ids(self._spark)
                return df.localCheckpoint()

        def op(df, spark):
            \"\"\"Docstrings may say localCheckpoint.\"\"\"
            ids = _persistent_rdd_ids(spark)
            for _ in range(3):
                df = df.localCheckpoint()
            free = _unpersist_rdd_ids
            return df
        """)
    assert _round_bookkeeping_outside_helper(ast.parse(src)) == [
        "_persistent_rdd_ids@11",
        "localCheckpoint@13",
        "_unpersist_rdd_ids@14",
    ]


# the one Arrow row stage: no other function runs a Python batch loop
ROW_STAGE = {("udfs", "_row_batches"), ("udfs", "map_rows")}
ROW_STAGE_FILES = sorted([*PACKAGE, *SCRIPTS])


def _python_stages_outside_map_rows(paths) -> list[str]:
    """``file:line in module.function`` for each ``.mapInArrow``,
    ``.mapInPandas`` or ``.applyIn*`` call outside ``udfs._row_batches``
    and ``udfs.map_rows``."""
    found = []
    for path in paths:
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            name = getattr(top, "name", "<module>")
            if (path.stem, name) in ROW_STAGE:
                continue
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and (
                        node.func.attr in ("mapInArrow", "mapInPandas")
                        or node.func.attr.startswith("applyIn")
                    )
                ):
                    found.append(
                        f"{path.name}:{node.lineno} in {path.stem}.{name}"
                    )
    return found


def test_python_stages_go_through_map_rows():
    found = _python_stages_outside_map_rows(ROW_STAGE_FILES)
    assert not found, f"Python stages outside udfs.map_rows: {found}"


def test_row_stage_guard_flags_a_batch_loop_of_its_own(tmp_path):
    udfs = tmp_path / "udfs.py"
    udfs.write_text(textwrap.dedent("""\
        def map_rows(df, cols, fn, schema):
            return df.select(*cols).mapInArrow(fn, schema)

        def extract(df):
            \"\"\"Docstrings may say mapInArrow.\"\"\"
            return df.mapInArrow(lambda b: b, df.schema)
        """))
    job = tmp_path / "job.py"
    job.write_text(textwrap.dedent("""\
        def main(df):
            df.groupBy("k").applyInPandas(len, df.schema)
            return df.mapInPandas(len, df.schema)
        """))
    assert _python_stages_outside_map_rows([udfs, job]) == [
        "udfs.py:6 in udfs.extract",
        "job.py:2 in job.main",
        "job.py:3 in job.main",
    ]
