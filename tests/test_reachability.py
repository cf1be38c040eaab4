"""Every top-level definition in ``omop_etl_spark/`` is reached from a
real entry point.

A fixpoint scan over the AST, with no Spark session. The roots are the
ways the package is actually run: ``Engine``, ``cli.main`` (and
``__main__``), the names in ``api.__all__``, and every definition in
``__spark_entry__.py``, ``bench.py``, ``scripts/*.py`` and
``perfbench/*.py``. A definition is reached when a reached body names
it, directly, through an import alias, or as ``module.attr``. Imports
alone and ``__all__`` re-exports reach nothing, and neither does a
reference made from inside another unreached definition. Tests are not
roots: a function only a test calls is surface nothing runs.

A top-level ``def``, ``class`` or ``__all__`` name that stays unreached
fails the test unless ``_UNREACHED_ALLOWED`` names it with a reason. An
allowlist entry that a root now reaches, or that no longer exists, fails
too, so the list cannot go stale.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "omop_etl_spark"

_UNREACHED_ALLOWED: dict[tuple[str, str], str] = {
    # ("relative/path.py", "name"): "why it stays although no root reaches it"
    ("omop_etl_spark/operators/bpe.py", "py_encode_word"):
        "pure-Python reference the Spark BPE encoder is checked against",
    ("omop_etl_spark/operators/bpe.py", "py_learn_merges"):
        "pure-Python reference the Spark BPE merge learner is checked against",
    ("omop_etl_spark/operators/dedup.py", "simhash_text"):
        "per-document reference for simhash_signatures/simhash_pairs",
    ("omop_etl_spark/sources/xlsx.py", "read_workbook"):
        "loader for the reference's golden workbook (test_golden_workbook.py)",
    ("omop_etl_spark/sources/xlsx.py", "sheet_to_rows"):
        "loader for the reference's golden workbook (test_golden_workbook.py)",
}


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, path: pathlib.Path):
        self.rel = path.relative_to(ROOT).as_posix()
        self.name = _module_name(path)
        self.is_pkg = path.name == "__init__.py"
        tree = ast.parse(path.read_text(), filename=str(path))
        self.defs: dict[str, list[ast.AST]] = {}  # top-level name -> nodes
        self.functions: set[str] = set()  # the def/class names among them
        self.all_names: list[str] = []
        self.imports: dict[str, set[tuple[str, str | None]]] = {}
        self.toplevel_code: list[ast.AST] = []  # runs on import
        self._collect(tree.body)
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                self._add_import(node)

    def _collect(self, body):
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs.setdefault(node.name, []).append(node)
                self.functions.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
                if names == ["__all__"]:
                    self.all_names = [
                        e.value for e in node.value.elts if isinstance(e, ast.Constant)
                    ]
                elif names:
                    for n in names:
                        self.defs.setdefault(n, []).append(node)
                else:
                    self.toplevel_code.append(node)
            elif isinstance(node, (ast.If, ast.Try)):
                for sub in ("body", "orelse", "finalbody"):
                    self._collect(getattr(node, sub, []))
                for h in getattr(node, "handlers", []):
                    self._collect(h.body)
                if isinstance(node, ast.If):
                    self.toplevel_code.append(node.test)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            elif isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
                continue  # docstring
            else:
                self.toplevel_code.append(node)

    def _resolve_from(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        base = self.name.split(".")
        if not self.is_pkg:
            base = base[:-1]
        base = base[: len(base) - (node.level - 1)]
        return ".".join(base + ([node.module] if node.module else []))

    def _add_import(self, node):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    self.imports.setdefault(a.asname, set()).add((a.name, None))
                else:
                    top = a.name.split(".")[0]
                    self.imports.setdefault(top, set()).add((top, None))
        else:
            mod = self._resolve_from(node)
            for a in node.names:
                self.imports.setdefault(a.asname or a.name, set()).add((mod, a.name))


class _Graph:
    def __init__(self, files):
        self.mods = {m.name: m for m in (_Module(p) for p in files)}
        self.reached: set[tuple[str, str]] = set()
        self.queue: list[tuple[str, str]] = []

    # --- resolution -------------------------------------------------------
    def _lookup(self, mod: str, name: str, seen=()) -> list[tuple[str, str | None]]:
        """What ``name`` looked up in module ``mod`` refers to: a list of
        ``(module, def-name)`` or ``(module, None)`` for a module."""
        if (mod, name) in seen:
            return []
        seen = seen + ((mod, name),)
        sub = f"{mod}.{name}"
        out: list[tuple[str, str | None]] = []
        if sub in self.mods:
            out.append((sub, None))
        m = self.mods.get(mod)
        if m is None:
            return out
        if name in m.defs:
            out.append((mod, name))
        for target_mod, target_name in m.imports.get(name, ()):
            if target_name is not None:
                out.extend(self._lookup(target_mod, target_name, seen))
            elif target_mod in self.mods:
                out.append((target_mod, None))
        return out

    def _refs(self, mod: str, node: ast.AST):
        """Every package definition ``node``'s code names."""
        for sub in ast.walk(node):
            if isinstance(sub, ast.Attribute):
                chain = []
                base = sub
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                if not isinstance(base, ast.Name):
                    continue
                chain.reverse()
                current = [t for t in self._lookup(mod, base.id) if t[1] is None]
                for attr in chain:
                    nxt = []
                    for cmod, _ in current:
                        for t in self._lookup(cmod, attr):
                            if t[1] is not None:
                                yield t
                            else:
                                nxt.append(t)
                    current = nxt
            elif isinstance(sub, ast.Name) and not isinstance(sub.ctx, ast.Store):
                for t in self._lookup(mod, sub.id):
                    if t[1] is not None:
                        yield t

    # --- fixpoint ---------------------------------------------------------
    def reach(self, mod: str, name: str):
        if (mod, name) not in self.reached:
            self.reached.add((mod, name))
            self.queue.append((mod, name))

    def reach_code(self, mod: str, node: ast.AST):
        for t in self._refs(mod, node):
            self.reach(*t)

    def run(self):
        # code that runs on import of any package module is live
        for m in self.mods.values():
            for node in m.toplevel_code:
                self.reach_code(m.name, node)
        while self.queue:
            mod, name = self.queue.pop()
            for node in self.mods[mod].defs.get(name, ()):
                self.reach_code(mod, node)


def _scan(extra_roots=()):
    pkg_files = sorted((ROOT / PKG).rglob("*.py"))
    root_files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    root_files += sorted((ROOT / "scripts").glob("*.py"))
    root_files += sorted((ROOT / "perfbench").glob("*.py"))
    g = _Graph(pkg_files + root_files)
    for p in root_files:
        m = g.mods[_module_name(p)]
        for name in m.defs:
            g.reach(m.name, name)
    g.reach(f"{PKG}.engine", "Engine")
    g.reach(f"{PKG}.cli", "main")
    for name in g.mods[f"{PKG}.api"].all_names:
        for t in g._lookup(f"{PKG}.api", name):
            if t[1] is not None:
                g.reach(*t)
    for rel, name in extra_roots:
        g.reach(_module_name(ROOT / rel), name)
    g.run()

    unreached = set()
    for m in g.mods.values():
        if not m.rel.startswith(PKG + "/"):
            continue
        for name in m.functions:
            if (m.name, name) not in g.reached:
                unreached.add((m.rel, name))
        for name in m.all_names:
            targets = [t for t in g._lookup(m.name, name) if t[1] is not None]
            if targets and not any(t in g.reached for t in targets):
                unreached.add((m.rel, name))
    existing = {(m.rel, name) for m in g.mods.values() for name in m.defs}
    return unreached, existing


def test_every_package_definition_is_reached_from_an_entry_point():
    # what an allowlisted definition calls stays with it
    unreached, _ = _scan(extra_roots=_UNREACHED_ALLOWED)
    stray = sorted(unreached)
    assert not stray, (
        "top-level definitions no entry point reaches (delete them, with "
        "their exports and the tests that cover only them, or allowlist "
        f"with a reason): {stray}"
    )


def test_reachability_allowlist_is_not_stale():
    unreached, existing = _scan()
    gone = sorted(k for k in _UNREACHED_ALLOWED if k not in existing)
    live = sorted(k for k in _UNREACHED_ALLOWED if k in existing and k not in unreached)
    assert not gone, f"allowlisted definitions that no longer exist: {gone}"
    assert not live, f"allowlisted definitions an entry point now reaches: {live}"
