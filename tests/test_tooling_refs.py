"""The measurement tooling the repo still names must exist (no Spark).

bench.py is the frozen driver harness: every ``tools.*`` name it imports,
including the imports inside its functions, must resolve.  The commands
the docs tell a reader to run must name scripts that are in the tree.
"""

import ast
import importlib
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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


@pytest.mark.parametrize("doc", DOCS)
def test_doc_python_commands_name_existing_files(doc):
    text = open(os.path.join(REPO, doc)).read()
    scripts = PY_COMMAND.findall(text)
    assert scripts, f"{doc} names no python command"
    missing = sorted({s for s in scripts
                      if not os.path.isfile(os.path.join(REPO, s))})
    assert not missing, f"{doc} runs scripts that do not exist: {missing}"
