"""Call-site guard: every top-level def in the package must be reached from a
production root, or be named in ALLOWED_UNREACHED with its reason.

Roots are the catalog registrations (defs decorated with ``register``),
``pipeline.py``, ``__main__.py``, ``session.py``, ``bench.py``,
``__spark_entry__.py``, ``tools/`` and ``perfbench/`` (its tests excluded).
The walk is static (AST only, no Spark): imports are resolved per module,
a def's body reaches every package def it names, and importing a module
runs its top-level statements. Tests are never roots, so a def that only a
test calls is reported."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "nursing_home_data_etl_pipeline_spark"

# (module, def) -> why it stays although no production root reaches it.
# What an allowlisted def calls is kept with it (cosine via cosine_rounded,
# stream_csv_landing via start_clean_to_staging).
ALLOWED_UNREACHED = {
    ("functions.vectors", "cosine_rounded"):
        "Column-API cosine; the bit-identity reference for cosine_rounded_prenorm",
    ("functions.vectors", "cosine_rounded_prenorm"):
        "Column-API twin that test_vectors_sql_twins pins the SQL kernels against",
    ("streaming.ingest", "start_clean_to_staging"):
        "streaming-ingest entry point of the brief: landing -> staging parquet",
    ("streaming.upsert", "start_upsert_sink"):
        "streaming-ingest entry point of the brief: foreachBatch SCD1 upsert",
    ("functions.text", "redact_pii"):
        "PII scrubbing Column API (test_pii_redaction); test-only, next deletion candidate",
    ("functions.text", "pii_hit_count"):
        "per-document PII risk score over redact_pii; test-only, next deletion candidate",
    ("operators.cleaning", "cast_columns"):
        "typed-cast escape hatch for string staging columns; test-only, next deletion candidate",
    ("functions.sketches", "bloom_might_contain"):
        "DataFrame reference that bloom_probe_local is pinned against in tests",
    ("functions.sketches", "cms_merge"):
        "mergeable-sketch API (counter sums); test-only, next deletion candidate",
    ("functions.sketches", "hll_partial"):
        "mergeable-sketch API; test-only, next deletion candidate",
    ("functions.sketches", "hll_rollup"):
        "mergeable-sketch API; test-only, next deletion candidate",
    ("functions.sketches", "kll_partial"):
        "mergeable-sketch API; test-only, next deletion candidate",
    ("functions.sketches", "kll_rollup_quantiles"):
        "mergeable-sketch API; test-only, next deletion candidate",
    ("functions.sketches", "theta_partial"):
        "mergeable-sketch API; test-only, next deletion candidate",
    ("functions.sketches", "theta_rollup"):
        "mergeable-sketch API; test-only, next deletion candidate",
    ("functions.sketches", "theta_set_estimates"):
        "mergeable-sketch API; test-only, next deletion candidate",
}

_ROOT_MODULES = (f"{PKG}.pipeline", f"{PKG}.__main__", f"{PKG}.session")


def _sources() -> dict[str, str]:
    """Module name -> file path: the package, plus the root scripts under
    the pseudo-module names they import each other by."""
    mods = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, f), REPO)[:-3]
                name = rel.replace(os.sep, ".")
                mods[name.removesuffix(".__init__")] = os.path.join(root, f)
    for f in ("bench.py", "__spark_entry__.py"):
        mods[f[:-3]] = os.path.join(REPO, f)
    for d in ("tools", "perfbench"):
        for f in os.listdir(os.path.join(REPO, d)):
            if f.endswith(".py"):
                mods[f"{d}/{f[:-3]}"] = os.path.join(REPO, d, f)
    return mods


class _Module:
    def __init__(self, name: str, path: str, known: set[str]):
        self.name = name
        self.is_pkg = path.endswith("__init__.py")
        with open(path, encoding="utf-8") as f:
            self.tree = ast.parse(f.read(), path)
        self.defs = {
            n.name: n for n in self.tree.body
            if isinstance(n, ast.FunctionDef | ast.AsyncFunctionDef | ast.ClassDef)
        }
        # local name -> ("mod", module) | ("sym", module, name); imports
        # anywhere in the file (function-local ones included) land here
        self.names: dict[str, tuple] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.names[a.asname] = ("mod", a.name)
                    else:
                        head = a.name.split(".")[0]
                        self.names[head] = ("mod", head)
            elif isinstance(node, ast.ImportFrom):
                base = self._absolute(node)
                for a in node.names:
                    sub = f"{base}.{a.name}"
                    self.names[a.asname or a.name] = (
                        ("mod", sub) if sub in known else ("sym", base, a.name))

    def _absolute(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        parts = self.name.split(".")
        keep = len(parts) - node.level + (1 if self.is_pkg else 0)
        base = ".".join(parts[:keep])
        return f"{base}.{node.module}" if node.module else base


class _Walk:
    def __init__(self):
        sources = _sources()
        self.mods = {n: _Module(n, p, set(sources)) for n, p in sources.items()}
        self.reached: set[tuple[str, str]] = set()
        self.loaded: set[str] = set()
        self._todo: list = []

    def resolve(self, mod: str, name: str, seen=()) -> tuple | None:
        """What ``name`` means in module ``mod``: a def, a module, or None."""
        m = self.mods.get(mod)
        if m is None or (mod, name) in seen:
            return None
        if name in m.defs:
            return ("def", mod, name)
        target = m.names.get(name)
        if target is None:
            return None
        if target[0] == "mod":
            return target
        return self.resolve(target[1], target[2], seen + ((mod, name),))

    def load(self, mod: str) -> None:
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            sub = ".".join(parts[:i])
            if sub in self.mods and sub not in self.loaded:
                self.loaded.add(sub)
                self._todo.append(("module", sub))

    def reach(self, mod: str, name: str) -> None:
        if (mod, name) not in self.reached:
            self.reached.add((mod, name))
            self.load(mod)
            self._todo.append(("def", mod, name))

    def _visit(self, mod: str, nodes) -> None:
        m = self.mods[mod]
        for node in nodes:
            for sub in ast.walk(node):
                if isinstance(sub, ast.Import):
                    for a in sub.names:
                        self.load(a.name)
                elif isinstance(sub, ast.ImportFrom):
                    base = m._absolute(sub)
                    self.load(base)
                    for a in sub.names:
                        self.load(f"{base}.{a.name}")
                elif isinstance(sub, ast.Name | ast.Attribute):
                    self._reach_expr(mod, sub)

    def _reach_expr(self, mod: str, node) -> None:
        chain = []
        while isinstance(node, ast.Attribute):
            chain.append(node.attr)
            node = node.value
        if not isinstance(node, ast.Name):
            return
        target = self.resolve(mod, node.id)
        for attr in reversed(chain):
            if target is None or target[0] != "mod":
                break
            self._mark(target)
            target = self.resolve(target[1], attr) or (
                ("mod", f"{target[1]}.{attr}")
                if f"{target[1]}.{attr}" in self.mods else None)
        self._mark(target)

    def _mark(self, target) -> None:
        if target is None:
            return
        if target[0] == "def":
            self.reach(target[1], target[2])
        else:
            self.load(target[1])

    def run(self, extra_roots=()) -> None:
        for name, m in self.mods.items():
            if name in _ROOT_MODULES or not name.startswith(PKG):
                for d in m.defs:
                    self.reach(name, d)
                self.load(name)
            for d, node in m.defs.items():
                if any(self._is_register(name, dec) for dec in node.decorator_list):
                    self.reach(name, d)
        for mod, d in extra_roots:
            m = self.mods.get(f"{PKG}.{mod}")
            if m is not None and d in m.defs:  # stale entries: see below
                self.reach(f"{PKG}.{mod}", d)
        while self._todo:
            item = self._todo.pop()
            m = self.mods[item[1]]
            if item[0] == "module":
                self._visit(item[1], [n for n in m.tree.body
                                      if n not in m.defs.values()])
                # decorators run at import time
                for node in m.defs.values():
                    self._visit(item[1], node.decorator_list)
            else:
                self._visit(item[1], [m.defs[item[2]]])

    def _is_register(self, mod: str, dec) -> bool:
        """A catalog registration: ``@register(...)`` resolving to
        ``plans.catalog.register``."""
        f = dec.func if isinstance(dec, ast.Call) else dec
        target = None
        if isinstance(f, ast.Name):
            target = self.resolve(mod, f.id)
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            owner = self.resolve(mod, f.value.id)
            if owner and owner[0] == "mod":
                target = self.resolve(owner[1], f.attr)
        return target == ("def", f"{PKG}.plans.catalog", "register")

    def unreached(self) -> set[tuple[str, str]]:
        return {
            (mod.removeprefix(f"{PKG}."), d)
            for mod, m in self.mods.items() if mod.startswith(PKG)
            for d in m.defs if (mod, d) not in self.reached
        }


def _walk(extra_roots=()) -> _Walk:
    walk = _Walk()
    walk.run(extra_roots)
    return walk


def test_every_package_def_has_a_production_call_site():
    # allowlisted defs are kept, so what they call is kept with them
    extra = sorted(_walk(ALLOWED_UNREACHED).unreached() - set(ALLOWED_UNREACHED))
    assert not extra, (
        "package defs that no catalog query, pipeline step, tool or "
        f"benchmark reaches (wire them in or delete them): {extra}")


def test_allowlist_entries_exist_and_are_unreached():
    walk = _walk()
    for mod, name in ALLOWED_UNREACHED:
        m = walk.mods.get(f"{PKG}.{mod}")
        assert m is not None and name in m.defs, f"stale allowlist: {mod}.{name}"
        assert (f"{PKG}.{mod}", name) not in walk.reached, (
            f"{mod}.{name} now has a call site; drop it from the allowlist")
