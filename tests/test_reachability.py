"""Static reachability guard: every top-level def in the package has a
caller outside ``tests/``.

The roots are what a gate, a pipeline or a benchmark runs:
- every catalog query registered with ``@_register`` (the oracle gate);
- the module-level code of every package module (it runs at import);
- every file under ``tools/`` and ``perfbench/`` (test files excluded),
  ``bench.py`` and ``__spark_entry__.py``, taken whole.

From the roots the scan follows, transitively, every name and dotted
attribute that resolves to a package def, through ``import`` and
``from … import`` (relative or absolute, at any scope) and through
re-exports. A def reached only from an unreached def stays unreached, so
a dead caller keeps nothing alive. The scan reads source with ``ast``
only: it imports nothing and starts no Spark.

A def the scan cannot reach fails the test unless ``EXEMPT_MODULES`` or
``EXEMPT_DEFS`` names it with a reason. An exemption that names a missing
or reached def fails too, so the table shrinks as code gets a caller.
"""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "scraper_db_refine_merge_spark"

_N11 = "the paper's read/report/acquisition surface, to be gated by a battery (ROADMAP N11)"

# module (dotted, under the package) -> reason
EXEMPT_MODULES = {
    "plans.api_queries": _N11,
    "plans.reports": _N11,
    "sources.sqlite": _N11,
    "sources.rawjson": _N11,
    "sources.writers": _N11,
    "functions.geo": _N11 + "; only implementation of SURVEY G1/G2",
    "operators.canonicalize": _N11 + "; only implementation of SURVEY J5/J8",
}

# def (dotted, under the package) -> reason
EXEMPT_DEFS = {
    "functions.dq_rules.issue_table": "DQ issue report, left to the N11 battery",
    "functions.dq_rules.dq_summary": "DQ summary report, left to the N11 battery",
    "refine.deduplicate_events": "batch dedup of refined events, left to the N11 battery",
    "streaming.pipeline.fresh_rows": "SURVEY ST2 freshness predicate, left to the N11 battery",
    "streaming.pipeline.refresh_queue": "SURVEY ST3 refresh queue, left to the N11 battery",
    "functions.quality.quality_level": "reached only from plans/reports.py (N11)",
    "functions.quality.weak_fields": "reached only from plans/reports.py (N11)",
    "functions.dates.parse_multi_format": "only implementation of SURVEY F1",
    "functions.strings.normalize_currency_code": "only implementation of SURVEY F10",
    "functions.strings.html_unescape": "only implementation of SURVEY F12",
    "functions.strings.snippet": "only implementation of SURVEY F23",
    "functions.strings.is_sold_out": "only implementation of SURVEY F24's sold-out half",
    "functions.strings.confidence_score": "only implementation of SURVEY F25",
    "functions.dates.dateutil_fallback_udf": "SURVEY F2 dateutil mirror that ROADMAP exempts",
    "operators.merge.insert_if_absent": "crash-atomic writer ROADMAP aim 3 names; N7 decides its fate",
    "operators.pq.pq_quantization_error": "tests/test_pq.py measures codebook training with it",
    "operators._cache.forget": "cache lifecycle (ROADMAP aim 3)",
    "operators._cache.release_all_threads": "cache lifecycle (ROADMAP aim 3)",
}

_DEF_NODES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _package_modules() -> dict[str, str]:
    """Dotted module name -> path, for every module of the package."""
    mods = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), ROOT)[:-3].split(os.sep)
            if rel[-1] == "__init__":
                rel = rel[:-1]
            mods[".".join(rel)] = os.path.join(dirpath, f)
    return mods


def _root_files() -> list[str]:
    files = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    for d in ("tools", "perfbench"):
        files += [
            os.path.join(ROOT, d, f)
            for f in sorted(os.listdir(os.path.join(ROOT, d)))
            if f.endswith(".py") and not f.startswith("test_")
        ]
    return files


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _imports(tree: ast.Module, module: str, is_pkg: bool) -> dict[str, tuple[str, str | None]]:
    """Local name -> (module, attr) for every import in the file, at any
    scope; attr None means the name binds a module."""
    out: dict[str, tuple[str, str | None]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
                else:
                    top = a.name.split(".")[0]
                    out[top] = (top, None)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = module.split(".")
                if not is_pkg:
                    base = base[:-1]
                base = base[: len(base) - (node.level - 1)]
                src = ".".join(base + ([node.module] if node.module else []))
            else:
                src = node.module or ""
            for a in node.names:
                out[a.asname or a.name] = (src, a.name)
    return out


class _Scan:
    """The package's top-level defs and the reference edges between them.
    ``imports`` is keyed by package module name, or by path for a root
    file outside the package."""

    def __init__(self):
        self.modules = _package_modules()
        self.defs: dict[str, ast.AST] = {}  # "pkg.mod.name" -> def node
        self.imports: dict[str, dict] = {}
        self.trees: dict[str, ast.Module] = {}
        for mod, path in self.modules.items():
            tree = self.trees[mod] = _parse(path)
            self.imports[mod] = _imports(tree, mod, path.endswith("__init__.py"))
            for node in tree.body:
                if isinstance(node, _DEF_NODES):
                    self.defs[f"{mod}.{node.name}"] = node

    def resolve(self, module: str, name: str, depth: int = 0) -> str | None:
        """What ``name`` looked up in ``module`` binds: a def key, a module
        name, or None when it leaves the package."""
        key = f"{module}.{name}"
        if key in self.defs or key in self.modules:
            return key
        src, attr = self.imports.get(module, {}).get(name, (None, None))
        if src not in self.modules or depth > 20:
            return None
        return src if attr is None else self.resolve(src, attr, depth + 1)

    def refs(self, nodes, module: str) -> set[str]:
        """Def keys that the code in ``nodes`` names, as a bare name or as
        a dotted attribute of a module."""
        out = set()
        for top in nodes:
            for node in ast.walk(top):
                chain = []
                while isinstance(node, ast.Attribute):
                    chain.append(node.attr)
                    node = node.value
                if not isinstance(node, ast.Name):
                    continue
                hit = self.resolve(module, node.id)
                for attr in reversed(chain):
                    if hit is None or hit in self.defs:
                        break
                    hit = self.resolve(hit, attr)
                if hit in self.defs:
                    out.add(hit)
        return out

    def unreached(self) -> list[str]:
        edges = {}
        roots = set()
        for mod, tree in self.trees.items():
            module_level = []
            for node in tree.body:
                if not isinstance(node, _DEF_NODES):
                    module_level.append(node)
                    continue
                key = f"{mod}.{node.name}"
                # decorators and defaults run at import
                module_level += node.decorator_list
                if isinstance(node, ast.ClassDef):
                    body = node.body + node.bases
                else:
                    body = node.body
                    module_level += node.args.defaults + [d for d in node.args.kw_defaults if d]
                if any(_is_register(d) for d in node.decorator_list):
                    roots.add(key)
                edges[key] = self.refs(body, mod)
            roots |= self.refs(module_level, mod)
        for path in _root_files():
            tree = _parse(path)
            self.imports[path] = _imports(tree, "", False)
            roots |= self.refs([tree], path)
        seen, todo = set(), list(roots)
        while todo:
            k = todo.pop()
            if k not in seen:
                seen.add(k)
                todo.extend(edges[k])
        return sorted(set(self.defs) - seen)


@pytest.fixture(scope="module")
def scan() -> _Scan:
    return _Scan()


def _is_register(dec: ast.AST) -> bool:
    return (
        isinstance(dec, ast.Call) and isinstance(dec.func, ast.Name) and dec.func.id == "_register"
    )


def _short(key: str) -> str:
    return key[len(PKG) + 1 :]


def _exempt(short: str) -> bool:
    return short in EXEMPT_DEFS or short.rsplit(".", 1)[0] in EXEMPT_MODULES


def test_every_package_def_has_a_caller_outside_tests(scan):
    dead = []
    for key in scan.unreached():
        if not _exempt(_short(key)):
            node = scan.defs[key]
            dead.append(f"{_short(key)} ({node.end_lineno - node.lineno + 1} lines)")
    assert not dead, (
        "package defs that no registered query, pipeline, tool, perfbench "
        "workload or module-level code reaches (delete them, or give them "
        "a gated caller):\n  " + "\n  ".join(dead)
    )


def test_exemptions_name_unreached_defs(scan):
    unreached = {_short(k) for k in scan.unreached()}
    stale = [d for d in EXEMPT_DEFS if d not in unreached]
    stale += [m for m in EXEMPT_MODULES if f"{PKG}.{m}" not in scan.modules]
    assert not stale, f"exemptions that name a missing or reached def: {stale}"
    assert all(r.strip() for r in list(EXEMPT_DEFS.values()) + list(EXEMPT_MODULES.values()))
