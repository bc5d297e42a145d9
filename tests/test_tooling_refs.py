"""The measurement tooling the repo still names must exist (no Spark).

bench.py is the frozen driver harness: every ``tools.*`` name it imports,
including the imports inside its functions, must resolve.  The frozen
harnesses and the batch job must still import and call the
``readability_spark`` API the way they do.  The commands the docs tell a
reader to run must name scripts that are in the tree.  Every defaulted
parameter of the operator layer has a caller that sets it.  Every product
definition is reachable from what production runs, and the worker's import
set leaves out the test-only html.parser oracle.
"""

import ast
import importlib
import inspect
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FROZEN_CALLERS = ["bench.py", "perfbench/run.py", "perfbench/inputs.py",
                  "jobs/extract_job.py"]
DOCS = ["CLAUDE.md", "README.md", ".claude/skills/verify/SKILL.md",
        "BENCH/BASELINE.md"]
PY_COMMAND = re.compile(r"\bpython3?\s+(?:-\S+\s+)*([\w./-]+\.py)\b")


def _tools_imports(src):
    found = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and \
                (node.module or "").split(".")[0] == "tools":
            found += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            found += [(a.name, None) for a in node.names
                      if a.name.split(".")[0] == "tools"]
    return found


def test_bench_tools_imports_resolve():
    found = _tools_imports(open(os.path.join(REPO, "bench.py")).read())
    assert ("tools.scaling_bench", "mp_control") in found
    for module, name in found:
        mod = importlib.import_module(module)
        if name is not None:
            assert hasattr(mod, name), f"bench.py imports {module}.{name}"


def test_tools_import_scan_sees_function_level_imports():
    src = ("import os\nfrom tools.top import a, b\n"
           "def f():\n    from tools.gone import g\n"
           "    import tools.other\n    from toolsx import h\n")
    assert _tools_imports(src) == [("tools.top", "a"), ("tools.top", "b"),
                                   ("tools.gone", "g"), ("tools.other", None)]


def _spark_api_calls(src):
    """(module, name) imported from readability_spark.* anywhere in the
    source, and every call of such a name as (name, n_positional,
    keywords); calls that splat arguments are left out."""
    tree, imported = ast.parse(src), {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and \
                (node.module or "").split(".")[0] == "readability_spark":
            imported.update({a.asname or a.name: (node.module, a.name)
                             for a in node.names})
    calls = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
                and node.func.id in imported \
                and not any(isinstance(a, ast.Starred) for a in node.args) \
                and all(k.arg for k in node.keywords):
            calls.append((node.func.id, len(node.args),
                          [k.arg for k in node.keywords]))
    return imported, calls


@pytest.mark.parametrize("path", FROZEN_CALLERS)
def test_frozen_callers_bind_to_spark_api(path):
    imported, calls = _spark_api_calls(
        open(os.path.join(REPO, path)).read())
    assert imported and calls, f"{path}: no readability_spark call found"
    for local, (module, name) in imported.items():
        assert hasattr(importlib.import_module(module), name), \
            f"{path} imports {module}.{name}"
    for local, n_args, kws in calls:
        module, name = imported[local]
        obj = getattr(importlib.import_module(module), name)
        try:
            inspect.signature(obj).bind_partial(
                *[None] * n_args, **dict.fromkeys(kws))
        except TypeError as exc:
            pytest.fail(f"{path}: {name}({n_args} args, {kws}): {exc}")


def test_frozen_caller_scan_pins_surviving_keywords():
    seen = set()
    for path in FROZEN_CALLERS:
        _, calls = _spark_api_calls(open(os.path.join(REPO, path)).read())
        seen |= {(name, kw) for name, _, kws in calls for kw in kws}
    assert {("build_session", "shuffle_partitions"),
            ("build_session", "driver_memory"),
            ("run_pipeline", "whale_safe_bytes"),
            ("run_pipeline", "dedup_payloads"),
            ("run_extraction", "num_buckets"),
            ("generate_rows", "use_fixtures")} <= seen


@pytest.mark.parametrize("doc", DOCS)
def test_doc_python_commands_name_existing_files(doc):
    text = open(os.path.join(REPO, doc)).read()
    scripts = PY_COMMAND.findall(text)
    assert scripts, f"{doc} names no python command"
    missing = sorted({s for s in scripts
                      if not os.path.isfile(os.path.join(REPO, s))})
    assert not missing, f"{doc} runs scripts that do not exist: {missing}"


# defaulted parameters of these modules must each be set by some call
PARAM_DEFINERS = ["readability_spark/ops", "readability_spark/pipeline.py",
                  "readability_spark/streaming.py",
                  "readability_spark/transcripts.py",
                  "readability_spark/udfs.py"]
PARAM_CALLERS = ["readability_core", "readability_spark", "tools", "jobs",
                 "perfbench", "tests", "__spark_entry__.py", "bench.py"]


def _py_files(rel):
    path = os.path.join(REPO, rel)
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs
                         if not d.startswith((".", "__")))
        yield from (os.path.join(root, f) for f in sorted(files)
                    if f.endswith(".py"))


def _defaulted_params(src):
    """(function, parameter, position or None for keyword-only) for every
    parameter with a default, nested functions included."""
    out = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            out += [(node.name, p.arg, i)
                    for i, p in enumerate(pos) if i >= first]
            out += [(node.name, p.arg, None)
                    for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None]
    return out


def _call_shapes(src):
    """callee name -> [(n_positional, keywords)] for every call by bare or
    attribute name; a ``*args`` splat counts as every position and a
    ``**kwargs`` splat as every keyword."""
    shapes = {}
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.Call):
            continue
        name = getattr(node.func, "id", None) or \
            getattr(node.func, "attr", None)
        if name is None:
            continue
        n = (float("inf") if any(isinstance(a, ast.Starred)
                                 for a in node.args) else len(node.args))
        shapes.setdefault(name, []).append(
            (n, {k.arg for k in node.keywords}))
    return shapes


def _unset_params(definers, callers):
    shapes = {}
    for path in callers:
        for name, calls in _call_shapes(open(path).read()).items():
            shapes.setdefault(name, []).extend(calls)
    unset = []
    for path in definers:
        for fn, param, pos in _defaulted_params(open(path).read()):
            if not any(param in kws or None in kws
                       or (pos is not None and n > pos)
                       for n, kws in shapes.get(fn, [])):
                unset.append(f"{os.path.relpath(path, REPO)}: {fn}({param})")
    return unset


def test_every_defaulted_operator_parameter_has_a_caller():
    """A default no call overrides is a constant in disguise, and on an
    oracled operator a trap: the DuckDB side hard-codes the constant, so
    another value would silently leave the gate."""
    definers = [p for rel in PARAM_DEFINERS for p in _py_files(rel)]
    callers = [p for rel in PARAM_CALLERS for p in _py_files(rel)]
    assert len(definers) > 10 and len(callers) > 50
    unset = _unset_params(definers, callers)
    assert not unset, f"defaulted parameters nothing sets: {unset}"


def test_caller_scan_matches_position_keyword_and_splats(tmp_path):
    (tmp_path / "d.py").write_text(
        "def f(a, b=1, c=2, *, d=3):\n    pass\n"
        "def g(x=0):\n    pass\n")
    (tmp_path / "c.py").write_text(
        "import m\nm.f(0, 1)\nf(0, d=4)\ng(**kw)\n")
    files = [str(tmp_path / "d.py")], [str(tmp_path / "c.py")]
    assert [u.rsplit(": ", 1)[1] for u in _unset_params(*files)] == \
        ["f(c)"]


# every top-level definition of the product packages must be reached from
# their __all__, their module-level statements or a name these files read
PRODUCT = ["readability_core", "readability_spark"]
REACH_ROOTS = ["tools", "jobs", "perfbench", "bench.py", "__spark_entry__.py"]
_STREAMING = "streaming surface; test_streaming drives it"
_PORT = "port of the reference library's public API (COVERAGE.md)"
_SEMDEDUP = ("carried semdedup scale path (ARCHITECTURE.md, "
             "'The one super-linear gate path')")
UNREACHED_ALLOWED = {
    "stream_source": _STREAMING,
    "stream_extract": _STREAMING,
    "stream_conversation_stats": _STREAMING,
    "stream_sessionize": _STREAMING,
    "run_stream": _STREAMING,
    "stream_dedup": _STREAMING,
    "find_structural_elements": _PORT,
    "analyze_content_characteristics": _PORT,
    "is_significant_node": _PORT,
    "analyze_url_pattern": _PORT,
    "get_aria_role": _PORT,
    "get_aria_node_type": _PORT,
    "get_node_depth": _PORT,
    "extract_sections": _PORT,
    "semdedup_scaled": _SEMDEDUP,
    "sem_k_for": _SEMDEDUP,
}


def _ast_names(node):
    """Every Name and Attribute name under ``node``; strings and
    docstrings hold no names."""
    return {n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))}


def _unreached(product, roots, allowed=()):
    """'path: name' of every top-level def, class or assignment of the
    ``product`` files that no root reaches, directly or through other
    product definitions.  Roots: ``__all__`` entries, the names read by
    module-level statements and by the ``roots`` files, and ``allowed``.
    Matching is by name across modules; dunder names are exempt."""
    defs, reached = {}, set(allowed)
    for path in product:
        for stmt in ast.parse(open(path).read()).body:
            targets = (stmt.targets if isinstance(stmt, ast.Assign) else
                       [stmt.target] if isinstance(stmt, ast.AnnAssign)
                       else [])
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((path, stmt))
            elif targets and all(isinstance(t, ast.Name) for t in targets):
                for t in targets:
                    if t.id == "__all__":
                        reached |= {e.value for e in stmt.value.elts}
                    defs.setdefault(t.id, []).append((path, stmt))
            else:
                reached |= _ast_names(stmt)
    for path in roots:
        reached |= _ast_names(ast.parse(open(path).read()))
    todo, seen = [n for n in reached if n in defs], set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += [m for _, node in defs[name] for m in _ast_names(node)
                     if m in defs]
    return sorted(f"{os.path.relpath(path, REPO)}: {name}"
                  for name, nodes in defs.items() for path, _ in nodes
                  if name not in seen
                  and not (name.startswith("__") and name.endswith("__")))


def test_every_product_definition_is_reached():
    """Product code is what production runs: a definition only tests
    reach belongs in tests (tests/_reference_forms.py), one nothing
    reaches is deleted.  Each allowlisted name must still need its entry."""
    product = [p for rel in PRODUCT for p in _py_files(rel)]
    roots = [p for rel in REACH_ROOTS for p in _py_files(rel)]
    assert len(product) > 30 and len(roots) > 5
    unreached = _unreached(product, roots, UNREACHED_ALLOWED)
    assert not unreached, f"product definitions nothing reaches: {unreached}"
    bare = {u.rsplit(": ", 1)[1] for u in _unreached(product, roots)}
    assert set(UNREACHED_ALLOWED) <= bare, \
        f"allowlisted but reached: {sorted(set(UNREACHED_ALLOWED) - bare)}"


def test_reach_scan_follows_names_not_strings(tmp_path):
    (tmp_path / "p.py").write_text(
        "__all__ = ['api']\n"
        "def api():\n    return _helper()\n"
        "def _helper():\n    return CONST\n"
        "CONST = 1\n"
        "def _orphan():\n    '_named_in_string'\n    return _orphan()\n"
        "def _named_in_string():\n    pass\n"
        "def _via_attribute():\n    pass\n"
        "def _statement_root():\n    pass\n"
        "_statement_root()\n"
        "def _allowed():\n    return _from_allowed()\n"
        "def _from_allowed():\n    pass\n"
        "def __dunder__():\n    pass\n")
    (tmp_path / "r.py").write_text(
        "import p\np._via_attribute()\nprint('_named_in_string')\n")
    unreached = _unreached([str(tmp_path / "p.py")],
                           [str(tmp_path / "r.py")], {"_allowed"})
    assert [u.rsplit(": ", 1)[1] for u in unreached] == \
        ["_named_in_string", "_orphan"]


def test_worker_import_set_leaves_out_html_parser():
    """A Python worker imports the core and the UDF module; the
    html.parser oracle builder lives in tests, so neither loads it."""
    probe = ("import sys, readability_core, readability_spark.udfs\n"
             "print([m for m in ('html.parser', '_markupbase') "
             "if m in sys.modules])")
    out = subprocess.run([sys.executable, "-c", probe], cwd=REPO,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"
