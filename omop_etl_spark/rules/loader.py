"""Load YAML rule files into specs with dependency ordering.

Mirrors the reference's loader behavior (``__main__.py:17-31``): each
file is one YAML document; YAML anchors (the conventional ``variables:``
block) are resolved by the YAML loader itself and the extra key is
ignored. Files that lack ``name``/``primary_key`` parse as dependencies.
Dependencies and ``depends_on`` edges are topologically ordered so a
table's pre-requisite temp views exist before it compiles
(reference __main__.py:56-83).
"""

from __future__ import annotations

from pathlib import Path
from typing import Iterable

import yaml

from .model import DependencySpec, RuleError, TableSpec, parse_spec

__all__ = [
    "load_rules_dir",
    "load_rules_text",
    "resolve_default_schemas",
    "topo_sort",
]


def load_rules_text(text: str, name: str | None = None) -> TableSpec | DependencySpec:
    data = yaml.safe_load(text)
    return parse_spec(data, name=name)


def load_rules_dir(path: str | Path) -> list[TableSpec | DependencySpec]:
    """Load every ``*.yaml``/``*.yml`` under ``path``, topo-sorted."""
    path = Path(path)
    specs = []
    for f in sorted(path.iterdir()):
        if f.suffix not in (".yaml", ".yml"):
            continue
        spec = load_rules_text(f.read_text(), name=f.stem)
        specs.append(spec)
    return topo_sort(specs)


def topo_sort(
    specs: Iterable[TableSpec | DependencySpec],
) -> list[TableSpec | DependencySpec]:
    """Order specs so every ``depends_on`` target precedes its dependents.

    Stable: preserves input order among independent specs. Unknown
    dependency names are an error; cycles are an error.
    """
    specs = list(specs)
    by_name = {s.name: s for s in specs if s.name}
    ordered: list[TableSpec | DependencySpec] = []
    state: dict[int, int] = {}  # id(spec) -> 0=unvisited 1=visiting 2=done

    def visit(spec, chain):
        sid = id(spec)
        if state.get(sid) == 2:
            return
        if state.get(sid) == 1:
            raise RuleError(f"dependency cycle: {' -> '.join(chain + [spec.name])}")
        state[sid] = 1
        for dep in spec.depends_on:
            if dep not in by_name:
                raise RuleError(f"{spec.name or '<anonymous>'}: unknown dependency {dep!r}")
            visit(by_name[dep], chain + [spec.name or "<anonymous>"])
        state[sid] = 2
        ordered.append(spec)

    for s in specs:
        visit(s, [])
    return ordered


def resolve_default_schemas(
    specs: Iterable[TableSpec | DependencySpec],
) -> list[TableSpec | DependencySpec]:
    """Import each table's ``DefaultSchema`` from its dependency files.

    Reference semantics (``__main__.py:67-83``): in one-file compile
    (and execution) order, a target table's environment starts from its
    own ``default_schema`` and is then overridden by every
    ``depends_on`` entry that names a DEPENDENCY file (not another
    table) whose ``default_schema`` is set — last dependency wins.
    Tables never export their schema to other tables (the reference
    only records envs for non-TargetTable files).

    Pure: returns new ``TableSpec`` instances (frozen dataclasses) for
    the tables whose schema changed; everything else passes through.
    """
    import dataclasses

    specs = list(specs)
    dep_schema = {
        s.name: s.default_schema
        for s in specs
        if s.name and not isinstance(s, TableSpec)
    }
    out: list[TableSpec | DependencySpec] = []
    for s in specs:
        if isinstance(s, TableSpec):
            schema = s.default_schema
            for dep in s.depends_on:
                imported = dep_schema.get(dep)
                if imported is not None:
                    schema = imported
            if schema != s.default_schema:
                s = dataclasses.replace(s, default_schema=schema)
        out.append(s)
    return out
