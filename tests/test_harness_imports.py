"""Import smoke test for the harnesses: every tools/*.py script and
bench.py must import cleanly (no main() run), so a harness still naming
a deleted helper or a removed config field fails here rather than
mid-benchmark. Most harnesses import the engine lazily inside main(),
so the test also resolves every package import anywhere in each file
and checks every RPTConfig(...) / .with_(...) keyword against the
config's fields. One subprocess, because several tools pin environment
variables at import time."""

import glob
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_IMPORT_ALL = r"""
import ast, dataclasses, importlib, importlib.util, sys
from duckdb_robust_predicate_transfer_spark.config import RPTConfig

fields = {f.name for f in dataclasses.fields(RPTConfig)}
for path in sys.argv[1:]:
    name = "_harness_" + path.rsplit("/", 1)[-1][:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None)), path
    with open(path) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if (isinstance(node, ast.ImportFrom) and node.module
                and node.module.startswith("duckdb_robust")):
            m = importlib.import_module(node.module)
            for a in node.names:
                assert (hasattr(m, a.name) or importlib.util.find_spec(
                    node.module + "." + a.name)), (path, node.module, a.name)
        elif isinstance(node, ast.Call) and (
                getattr(node.func, "id", None) == "RPTConfig"
                or getattr(node.func, "attr", None) == "with_"):
            for kw in node.keywords:
                assert kw.arg in fields, (path, node.lineno, kw.arg)
print("imported", len(sys.argv) - 1)
"""


def test_every_harness_imports():
    paths = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    paths.append(os.path.join(REPO, "bench.py"))
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL, *paths], cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["imported", str(len(paths))]
