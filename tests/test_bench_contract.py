"""The benchmark's view of the package. ``perfbench/workloads.py`` calls
the frontier (``FR``) and extraction (``X``) operators and
``CrawlEngine`` directly, so every name it references and every keyword
it passes must exist — checked here from the source, without a Spark
session, so that removing one fails this suite and not only the
benchmark run."""

import ast
import inspect
import os

from librecrawl_spark.operators import extract as X, frontier as FR
from librecrawl_spark.plans.crawl import CrawlEngine

WORKLOADS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "perfbench", "workloads.py")
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
