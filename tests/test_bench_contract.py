"""The benchmark's view of the package. ``perfbench/workloads.py`` calls
the frontier (``FR``) and extraction (``X``) operators and
``CrawlEngine`` directly, and ``perfbench/tracing.py`` patches the layer
entry points it lists in ``TRACED``, so every name they reference and
every keyword the workloads pass must exist — checked here from the
source, without a Spark session, so that removing or renaming one fails
this suite and not only the benchmark run."""

import ast
import importlib
import inspect
import os

from librecrawl_spark.operators import extract as X, frontier as FR
from librecrawl_spark.plans.crawl import CrawlEngine

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "perfbench")
WORKLOADS = os.path.join(PERFBENCH, "workloads.py")
TRACING = os.path.join(PERFBENCH, "tracing.py")
MODULES = {"FR": FR, "X": X}


def _tree():
    with open(WORKLOADS) as f:
        return ast.parse(f.read(), WORKLOADS)


def _module_attr(node):
    """(alias, name) for ``FR.name`` / ``X.name``, else None."""
    if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
            and node.value.id in MODULES):
        return node.value.id, node.attr
    return None


def test_referenced_operators_exist():
    refs = {a for n in ast.walk(_tree()) if (a := _module_attr(n))}
    assert {alias for alias, _ in refs} == set(MODULES)
    missing = sorted(f"{alias}.{name}" for alias, name in refs
                     if not hasattr(MODULES[alias], name))
    assert not missing, missing


def test_passed_keywords_are_accepted():
    calls = 0
    bad = []
    for node in ast.walk(_tree()):
        if not isinstance(node, ast.Call):
            continue
        if isinstance(node.func, ast.Name) and node.func.id == "CrawlEngine":
            fn, label = CrawlEngine, "CrawlEngine"
        elif (ref := _module_attr(node.func)):
            fn, label = getattr(MODULES[ref[0]], ref[1]), ".".join(ref)
        else:
            continue
        calls += 1
        params = inspect.signature(fn).parameters
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        bad += [f"{label}({k.arg}=)" for k in node.keywords
                if k.arg is not None and k.arg not in params]
    assert calls >= 3
    assert not bad, bad


def test_traced_hooks_resolve():
    with open(TRACING) as f:
        tree = ast.parse(f.read(), TRACING)
    traced = next(ast.literal_eval(n.value) for n in tree.body
                  if isinstance(n, ast.Assign)
                  and any(getattr(t, "id", None) == "TRACED" for t in n.targets))
    assert len(traced) >= 10
    missing = []
    for module, attr, _ in traced:
        owner = importlib.import_module(module)
        for part in attr.split("."):
            owner = getattr(owner, part, None)
        if not callable(owner):
            missing.append(f"{module}.{attr}")
    assert not missing, missing
