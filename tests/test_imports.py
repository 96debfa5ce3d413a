"""Every ``from pathhier_spark... import X`` and every ``config.NAME`` in
the repo resolves.

Imports inside functions only run when the function does, and so does a
``config.NAME`` read in a function body, so a deleted module, name or
constant would otherwise surface in production first. This parses each
source file with ``ast`` and checks every such import, at module level or
nested, against the module it names, and every attribute read of the
``pathhier_spark.config`` module against that module.
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


def _config_reads(path):
    """(line, NAME) for every ``config.NAME`` in a file that binds
    ``config`` by ``from pathhier_spark import config``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    bound = {
        a.asname or a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.module == "pathhier_spark"
        for a in node.names
        if a.name == "config"
    }
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in bound
        ):
            yield node.lineno, node.attr


def test_config_attributes_resolve():
    config = importlib.import_module("pathhier_spark.config")
    checked, dangling = set(), []
    for path in _sources():
        rel = os.path.relpath(path, ROOT)
        for line, name in _config_reads(path):
            checked.add((rel, name))
            if not hasattr(config, name):
                dangling.append(f"{rel}:{line}: config.{name}")
    assert not dangling, "\n".join(dangling)
    # the scan reaches reads inside function bodies
    pipeline = os.path.join("pathhier_spark", "plans", "pipeline.py")
    assert (pipeline, "SIMSCORE_THRESHOLD") in checked
