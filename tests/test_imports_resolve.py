"""Every ``from corpus_dedup_spark... import name`` in the repo resolves.

Scripts and the benchmark harness are not imported by any other test, so a
deleted or renamed package symbol they still use would otherwise go unseen.
Imports inside functions count too. No Spark session is started: importing a
module only defines its functions.
"""

import ast
import importlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIRS = ("corpus_dedup_spark", "scripts", "tests", "perfbench")
FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py")


def _sources():
    for d in DIRS:
        for root, _dirs, files in os.walk(os.path.join(REPO, d)):
            for f in files:
                if f.endswith(".py"):
                    yield os.path.join(root, f)
    for f in FILES:
        yield os.path.join(REPO, f)


def _package_imports(path):
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    for node in ast.walk(tree):
        if (isinstance(node, ast.ImportFrom) and node.level == 0
                and node.module.split(".")[0] == "corpus_dedup_spark"):
            for alias in node.names:
                yield node.module, alias.name, node.lineno


def _resolves(module, name):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # ``from pkg import submodule``
        importlib.import_module(f"{module}.{name}")
        return True
    except ModuleNotFoundError:
        return False


def test_package_imports_resolve():
    seen = 0
    missing = []
    for path in _sources():
        for module, name, line in _package_imports(path):
            seen += 1
            if not _resolves(module, name):
                missing.append(
                    f"{os.path.relpath(path, REPO)}:{line}: {module}.{name}")
    assert seen > 100  # the walk found the imports at all
    assert not missing, "unresolved imports:\n" + "\n".join(missing)
