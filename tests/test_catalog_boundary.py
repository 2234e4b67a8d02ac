"""The catalog's import closure is declared here, not discovered.

Starting from the product surface (``pipelines``, ``streaming.loader``,
``plans.catalog``) and the benchmark (``perfbench/*.py``), follow every
``cccatalog_spark`` import: module level, inside function bodies, and
the ``__init__.py`` of each package the import enters. The result must
equal ``CATALOG_MODULES``. A change that pulls another module into the
catalog fails here and has to add it to the list on purpose; a module
outside the list serves no catalog path and can be deleted with its
queries and tests.

Pure ``ast``: no module is imported and no JVM starts.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cccatalog_spark"

SURFACE = [
    "cccatalog_spark.pipelines",
    "cccatalog_spark.streaming.loader",
    "cccatalog_spark.plans.catalog",
]

CATALOG_MODULES = sorted([
    "cccatalog_spark",
    "cccatalog_spark.functions",
    "cccatalog_spark.functions.html",
    "cccatalog_spark.functions.html_select",
    "cccatalog_spark.functions.json_merge",
    "cccatalog_spark.functions.licenses",
    "cccatalog_spark.functions.popularity",
    "cccatalog_spark.functions.sanitize",
    "cccatalog_spark.functions.urls",
    "cccatalog_spark.operators",
    "cccatalog_spark.operators.cc_links",
    "cccatalog_spark.operators.cdc",
    "cccatalog_spark.operators.merge",
    "cccatalog_spark.operators.normalize",
    "cccatalog_spark.operators.popularity",
    "cccatalog_spark.operators.provider_specs",
    "cccatalog_spark.operators.provider_specs_cc",
    "cccatalog_spark.operators.provider_specs_ext",
    "cccatalog_spark.operators.providers",
    "cccatalog_spark.pipelines",
    "cccatalog_spark.plans",
    "cccatalog_spark.plans.catalog",
    "cccatalog_spark.schemas",
    "cccatalog_spark.session",
    "cccatalog_spark.sources",
    "cccatalog_spark.sources.cc_manifest",
    "cccatalog_spark.sources.jdbc",
    "cccatalog_spark.sources.tables",
    "cccatalog_spark.sources.tsv",
    "cccatalog_spark.streaming",
    "cccatalog_spark.streaming.loader",
])


def _path(module: str) -> str | None:
    base = os.path.join(ROOT, *module.split("."))
    if os.path.isfile(os.path.join(base, "__init__.py")):
        return os.path.join(base, "__init__.py")
    if os.path.isfile(base + ".py"):
        return base + ".py"
    return None


def _imported(path: str, module: str | None) -> set[str]:
    """Every ``cccatalog_spark`` module named by an import anywhere in
    ``path``, including ``from pkg import submodule`` forms."""
    is_pkg = path.endswith("__init__.py")
    package = module if is_pkg else (module or "").rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return {m for m in out if m.split(".")[0] == PKG and _path(m)}


def _with_parents(module: str) -> set[str]:
    parts = module.split(".")
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)}


def catalog_closure() -> set[str]:
    todo: set[str] = set()
    for m in SURFACE:
        todo |= _with_parents(m)
    for f in glob.glob(os.path.join(ROOT, "perfbench", "*.py")):
        for m in _imported(f, None):
            todo |= _with_parents(m)
    seen: set[str] = set()
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        for dep in _imported(_path(m), m):
            todo |= _with_parents(dep) - seen
    return seen


def test_catalog_import_closure_is_declared():
    closure = catalog_closure()
    assert sorted(closure - set(CATALOG_MODULES)) == [], (
        "modules pulled into the catalog without being declared"
    )
    assert sorted(set(CATALOG_MODULES) - closure) == [], (
        "declared catalog modules no catalog path imports"
    )
