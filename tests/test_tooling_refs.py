"""The measurement tooling the repo still names must exist (no Spark).

bench.py is the frozen driver harness: every ``tools.*`` name it imports,
including the imports inside its functions, must resolve.  The frozen
harnesses and the batch job must still import and call the
``readability_spark`` API the way they do.  The commands the docs tell a
reader to run must name scripts that are in the tree.
"""

import ast
import importlib
import inspect
import os
import re

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
