"""Every import of the package resolves. Many imports sit inside
functions, so a deleted module or name they still refer to fails only on
the code path that reaches them; this walks the source instead, without
a Spark session."""

import ast
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "librecrawl_spark"


def _sources():
    for top in (PACKAGE, "scripts", "perfbench", "tests"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))
    yield os.path.join(ROOT, "__spark_entry__.py")


def _package_of(path):
    rel = os.path.relpath(path, ROOT)[:-len(".py")].split(os.sep)
    return ".".join(rel if rel[-1] == "__init__" else rel[:-1])


def _imports(path):
    """(module, [names]) for each import of the package in ``path``;
    relative imports are resolved against the file's package."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PACKAGE:
                    yield a.name, []
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                pkg = _package_of(path).split(".")
                mod = ".".join(pkg[:len(pkg) - node.level + 1] + ([mod] if mod else []))
            if mod.split(".")[0] == PACKAGE:
                yield mod, [a.name for a in node.names if a.name != "*"]


def test_package_imports_resolve():
    broken = []
    for path in _sources():
        where = os.path.relpath(path, ROOT)
        for mod, names in _imports(path):
            try:
                m = importlib.import_module(mod)
            except ImportError as e:
                broken.append(f"{where}: {mod} ({e})")
                continue
            for name in names:
                if hasattr(m, name):
                    continue
                try:
                    importlib.import_module(f"{mod}.{name}")
                except ImportError:
                    broken.append(f"{where}: {mod}.{name}")
    assert not broken, broken
