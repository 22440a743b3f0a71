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


# Modules that nothing on the crawl, resume, issue-report, script or
# benchmark path imports: the off-path families ROADMAP.md still lists for
# deletion. Deleting a family shrinks this set; a new module must be
# reached from that path.
OFF_PATH = {f"operators.{m}" for m in (
    "similarity", "text", "pipeline", "sketch", "keywords", "misc")} | {
    "functions.lint"}


def _module_file(mod):
    base = os.path.join(ROOT, *mod.split("."))
    for f in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(f):
            return f
    return None


def _closure(paths):
    """Package source files ``paths`` import, transitively."""
    todo, reached = list(paths), set()
    while todo:
        path = todo.pop()
        if path is None or path in reached:
            continue
        reached.add(path)
        for mod, names in _imports(path):
            parts = mod.split(".")
            # importing a.b.c runs a and a.b first; a name may be a submodule
            todo += [_module_file(".".join(parts[:k])) for k in range(1, len(parts) + 1)]
            todo += [_module_file(f"{mod}.{n}") for n in names]
    return reached


def test_off_path_modules_are_the_pending_families():
    roots = [os.path.join(ROOT, PACKAGE, "plans", "crawl.py"),
             os.path.join(ROOT, PACKAGE, "operators", "issues.py"),
             os.path.join(ROOT, "scripts", "run_crawl.py")]
    bench = os.path.join(ROOT, "perfbench")
    roots += [os.path.join(bench, f) for f in sorted(os.listdir(bench)) if f.endswith(".py")]
    reached = _closure(roots)
    pkg_dir = os.path.join(ROOT, PACKAGE)
    off = set()
    for p in _sources():
        if p.startswith(pkg_dir + os.sep) and p not in reached:
            rel = os.path.relpath(p, pkg_dir)[:-len(".py")].split(os.sep)
            off.add(".".join(rel[:-1] if rel[-1] == "__init__" else rel))
    assert off == OFF_PATH
