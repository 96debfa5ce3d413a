"""Every ``from pathhier_spark... import X`` in the repo resolves.

Imports inside functions only run when the function does, so a deleted
module or name behind a lazy import would otherwise surface in production
first. This parses each source file with ``ast`` and checks every such
import, at module level or nested, against the module it names.
"""

import ast
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ("pathhier_spark", "kgbench", "tests")


def _sources():
    for top in SCANNED:
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            for name in sorted(files):
                if name.endswith(".py"):
                    yield os.path.join(dirpath, name)


def _package_imports(path):
    """(line, module, name) for every ``from pathhier_spark... import name``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.module is None:
            continue
        if node.module.split(".")[0] == "pathhier_spark":
            for alias in node.names:
                yield node.lineno, node.module, alias.name


def _resolves(module, name):
    try:
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            # `from package import submodule`
            importlib.import_module(f"{module}.{name}")
        return True
    except ImportError:
        return False


def test_package_imports_resolve():
    checked, dangling = set(), []
    for path in _sources():
        rel = os.path.relpath(path, ROOT)
        for line, module, name in _package_imports(path):
            checked.add((rel, module, name))
            if not _resolves(module, name):
                dangling.append(f"{rel}:{line}: from {module} import {name}")
    assert not dangling, "\n".join(dangling)
    # the scan reaches imports made inside functions
    pipeline = os.path.join("pathhier_spark", "plans", "pipeline.py")
    stream = os.path.join("pathhier_spark", "streaming", "stream.py")
    assert (pipeline, "pathhier_spark.sources.warehouse", "Warehouse") in checked
    assert (
        stream, "pathhier_spark.plans.pipeline", "run_pipeline_incremental"
    ) in checked
