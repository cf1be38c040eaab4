"""Rule model for the YAML data-manipulation language (DML).

Parses the same YAML dialect as the reference compiler
(``/root/reference/omop_etl/schema.py:55-414``) but into plain frozen
dataclasses with explicit validation — no pydantic, no SQL generation.
The model is deliberately engine-agnostic: the Spark plan builder lives
in :mod:`omop_etl_spark.planner`.

YAML surface (reference parity):

* ``TableSpec`` — one target table: ``name``, ``primary_key``,
  ``columns``, ``default_schema``, ``pre_init``/``post_init`` temp
  tables, ``scripts``, ``depends_on``.
* ``PrimaryKey`` with one or more named ``sources``; each source scans a
  table (or inline query), projects its natural-key ``columns`` and
  filters by ``constraints`` (reference schema.py:128-157, 248-329).
* Column rules: expression rules (``ExpressionRule``, reference
  ``TargetColumn`` schema.py:187-245), constants (``ConstantRule``,
  schema.py:110-125) and disabled placeholders (``DisabledRule``,
  schema.py:170-184).
* FK remap ``references`` in both YAML shapes (schema.py:226-239):
  ``{table: T, column: C}`` → mapping table ``T``, mapping column ``C``
  (literal); ``{A: {table: T, column: C}}`` → mapping table ``A``,
  mapping column ``T_C``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Mapping, Sequence, Union

__all__ = [
    "RuleError",
    "TableRef",
    "InlineQuery",
    "Relation",
    "PrimaryKeySource",
    "PrimaryKey",
    "ForeignKeyRef",
    "ExpressionRule",
    "ConstantRule",
    "DisabledRule",
    "ColumnRule",
    "TempTableDef",
    "DependencySpec",
    "TableSpec",
    "parse_spec",
]


class RuleError(ValueError):
    """Raised when a rule document fails validation."""


_IDENT = re.compile(r"\w+\Z")
_QUALIFIED = re.compile(r"(\w+)\.(\w+)\Z")


@dataclass(frozen=True)
class TableRef:
    """A named table, optionally schema-qualified.

    ``schema=None`` means "resolve against the spec's default schema,
    unless the name is a registered temp table" (reference
    schema.py:76-107).
    """

    name: str
    schema: str | None = None

    @staticmethod
    def parse(raw: str) -> "TableRef":
        if _IDENT.match(raw):
            return TableRef(name=raw)
        m = _QUALIFIED.match(raw)
        if m:
            return TableRef(name=m.group(2), schema=m.group(1))
        raise RuleError(f"invalid table reference: {raw!r}")

    @property
    def alias(self) -> str:
        return self.name


@dataclass(frozen=True)
class InlineQuery:
    """An inline derived table: ``(<query>) AS <alias>``.

    Reference ``Query``/``QueryTable`` (schema.py:60-65,
    generation.py:49-59).
    """

    alias: str
    query: str


Relation = Union[TableRef, InlineQuery]


def _parse_relation(raw: object, ctx: str) -> Relation:
    if isinstance(raw, str):
        return TableRef.parse(raw)
    if isinstance(raw, Mapping):
        if "query" in raw:
            if "alias" not in raw:
                raise RuleError(f"{ctx}: inline query requires an alias")
            return InlineQuery(alias=str(raw["alias"]), query=str(raw["query"]))
        if "alias" in raw:
            return TableRef(
                name=str(raw["alias"]),
                schema=str(raw["schema"]) if raw.get("schema") else None,
            )
    raise RuleError(f"{ctx}: cannot parse relation from {raw!r}")


@dataclass(frozen=True)
class PrimaryKeySource:
    """One source feeding the key-mapping phase.

    Scans ``relation``, projects the natural-key ``columns`` (name →
    declared type string) as ``<table>_<col>``, filtered by the
    conjunctive ``constraints`` (reference schema.py:128-157).
    """

    name: str
    relation: Relation
    columns: Mapping[str, str]
    constraints: Sequence[str] = ()

    @property
    def table_alias(self) -> str:
        return self.relation.alias


@dataclass(frozen=True)
class PrimaryKey:
    """Surrogate-key declaration: key column name + ordered sources.

    A multi-source key is the null-padded union of its sources' natural
    keys; surrogate ids number rows across all sources in (source
    order, natural key) order — see planner.surrogate for the scale
    strategy and the deliberate determinism deviation vs the
    reference's Postgres ``serial`` (SURVEY §4.3).
    """

    name: str
    sources: Mapping[str, PrimaryKeySource]


@dataclass(frozen=True)
class ForeignKeyRef:
    """FK remap: replace the rule expression's value with the surrogate
    id of the referenced table (reference schema.py:226-239).

    ``mapping_table`` is the *target* table whose ``mapping.<t>`` frame
    is joined; ``mapping_column`` is the natural-key column within it.
    """

    mapping_table: str
    mapping_column: str


@dataclass(frozen=True)
class ExpressionRule:
    """Expression-over-join column rule (reference ``TargetColumn``).

    Scoped to one primary-key source; rows of the target whose mapping
    entry matches the join get ``expression``'s value; multiple rules
    for the same column apply in file order, last writer wins
    (reference schema.py:474-478 ordered loop + sequential UPDATEs).
    """

    name: str
    tables: Sequence[Relation]
    expression: str
    primary_key: str
    constraints: Sequence[str] = ()
    references: ForeignKeyRef | None = None
    enabled: bool = True


@dataclass(frozen=True)
class ConstantRule:
    """Unconditional constant assignment to all target rows — ignores
    primary-key scoping (reference schema.py:110-125).

    ``data_type``, when present in the YAML, is honored as a cast; the
    reference stringifies every constant and relies on Postgres'
    implicit cast to the DDL column type (a documented deviation —
    SURVEY §1.2).
    """

    name: str
    constant: object
    data_type: str | None = None
    enabled: bool = True


@dataclass(frozen=True)
class DisabledRule:
    """``enabled: false`` placeholder contributing nothing."""

    name: str | None = None


ColumnRule = Union[ExpressionRule, ConstantRule, DisabledRule]


@dataclass(frozen=True)
class TempTableDef:
    """``create temp table <alias> as <query>`` → temp view. The alias
    shadows same-named catalog tables for the rest of the pipeline
    (reference schema.py:68-73 + TempTables env)."""

    alias: str
    query: str


@dataclass(frozen=True)
class DependencySpec:
    """A rules file without a target table: scripts + temp tables whose
    environment other tables import via ``depends_on`` (reference
    schema.py:335-375, __main__.py:56-83)."""

    name: str | None = None
    default_schema: str | None = None
    pre_init: Sequence[TempTableDef] = ()
    post_init: Sequence[TempTableDef] = ()
    scripts: Sequence[str] = ()
    depends_on: Sequence[str] = ()
    #: stem of the rules file the spec was loaded from, when known
    file_stem: str | None = None


@dataclass(frozen=True)
class TableSpec(DependencySpec):
    """A full target-table rule document."""

    name: str = ""
    primary_key: PrimaryKey = None  # type: ignore[assignment]
    columns: Sequence[ColumnRule] = ()
    default_schema: str = "cerner"

    def rules_for(self, column: str) -> list[ColumnRule]:
        return [c for c in self.columns if getattr(c, "name", None) == column]

    @property
    def column_order(self) -> list[str]:
        """Target column names in first-appearance order."""
        seen: dict[str, None] = {}
        for c in self.columns:
            name = getattr(c, "name", None)
            if name is not None:
                seen.setdefault(name, None)
        return list(seen)


# ---------------------------------------------------------------------------
# parsing


def _parse_temp_tables(raw: object, ctx: str) -> tuple[TempTableDef, ...]:
    if raw is None:
        return ()
    out = []
    for item in raw:
        if not isinstance(item, Mapping) or "alias" not in item or "query" not in item:
            raise RuleError(f"{ctx}: temp table needs alias and query: {item!r}")
        out.append(TempTableDef(alias=str(item["alias"]), query=str(item["query"])))
    return tuple(out)


def _parse_references(raw: object) -> ForeignKeyRef | None:
    if raw is None:
        return None
    if not isinstance(raw, Mapping):
        raise RuleError(f"cannot parse references: {raw!r}")
    if "table" in raw and "column" in raw:
        # plain form: mapping table + literal mapping column
        return ForeignKeyRef(
            mapping_table=str(raw["table"]), mapping_column=str(raw["column"])
        )
    if len(raw) == 1:
        # aliased form: {mapping_table: {table, column}} → column is
        # the mapping frame's generated `<table>_<column>` key column
        ((alias, inner),) = raw.items()
        if isinstance(inner, Mapping) and "table" in inner and "column" in inner:
            return ForeignKeyRef(
                mapping_table=str(alias),
                mapping_column=f"{inner['table']}_{inner['column']}",
            )
    raise RuleError(f"cannot parse references: {raw!r}")


def _parse_column(raw: Mapping, pk: PrimaryKey, idx: int) -> ColumnRule:
    ctx = f"columns[{idx}]"
    if not isinstance(raw, Mapping):
        raise RuleError(f"{ctx}: expected a mapping, got {raw!r}")

    enabled = raw.get("enabled", True)
    if not enabled:
        return DisabledRule(name=raw.get("name"))

    name = raw.get("name")
    if name is None:
        raise RuleError(f"{ctx}: column rule requires a name")

    if "constant" in raw:
        return ConstantRule(
            name=str(name),
            constant=raw["constant"],
            data_type=str(raw["data_type"]) if raw.get("data_type") else None,
        )

    if "expression" not in raw:
        raise RuleError(f"{ctx} ({name}): requires an expression or constant")
    if "tables" not in raw:
        raise RuleError(f"{ctx} ({name}): requires tables")

    pk_name = raw.get("primary_key")
    if pk_name is None:
        if len(pk.sources) == 1:
            pk_name = next(iter(pk.sources))
        else:
            raise RuleError(
                f"{ctx} ({name}): primary_key required when the table has "
                f"multiple key sources"
            )
    if pk_name not in pk.sources:
        available = ", ".join(sorted(pk.sources))
        raise RuleError(
            f"{ctx} ({name}): unknown primary_key {pk_name!r}; available: {available}"
        )

    return ExpressionRule(
        name=str(name),
        tables=tuple(
            _parse_relation(t, f"{ctx} ({name}).tables") for t in raw["tables"]
        ),
        expression=str(raw["expression"]),
        primary_key=str(pk_name),
        constraints=tuple(str(c) for c in raw.get("constraints") or ()),
        references=_parse_references(raw.get("references")),
    )


def _parse_primary_key(raw: object) -> PrimaryKey:
    if not isinstance(raw, Mapping) or "name" not in raw or "sources" not in raw:
        raise RuleError(f"primary_key requires name and sources: {raw!r}")
    sources: dict[str, PrimaryKeySource] = {}
    for src_name, src in raw["sources"].items():
        if not isinstance(src, Mapping):
            raise RuleError(f"primary_key source {src_name!r} must be a mapping")
        if "table" not in src or "columns" not in src:
            raise RuleError(
                f"primary_key source {src_name!r} requires table and columns"
            )
        sources[str(src_name)] = PrimaryKeySource(
            name=str(src.get("name", src_name)),
            relation=_parse_relation(src["table"], f"primary_key.{src_name}"),
            columns={str(k): str(v) for k, v in src["columns"].items()},
            constraints=tuple(str(c) for c in src.get("constraints") or ()),
        )
    if not sources:
        raise RuleError("primary_key requires at least one source")
    return PrimaryKey(name=str(raw["name"]), sources=sources)


def parse_spec(raw: Mapping, name: str | None = None) -> TableSpec | DependencySpec:
    """Parse one YAML document (already loaded) into a spec.

    Documents without ``name``+``primary_key`` parse as
    :class:`DependencySpec` — same fallback as the reference's rule
    loader (__main__.py:25-27).
    """

    if not isinstance(raw, Mapping):
        raise RuleError(f"rule document must be a mapping, got {type(raw).__name__}")

    common = dict(
        pre_init=_parse_temp_tables(raw.get("pre_init"), "pre_init"),
        post_init=_parse_temp_tables(raw.get("post_init"), "post_init"),
        scripts=tuple(str(s) for s in raw.get("scripts") or ()),
        depends_on=tuple(str(d) for d in raw.get("depends_on") or ()),
        file_stem=name,
    )

    if "name" not in raw or "primary_key" not in raw:
        return DependencySpec(
            name=raw.get("name", name),
            default_schema=raw.get("default_schema"),
            **common,
        )

    pk = _parse_primary_key(raw["primary_key"])
    columns = tuple(
        _parse_column(c, pk, i) for i, c in enumerate(raw.get("columns") or ())
    )
    return TableSpec(
        name=str(raw["name"]),
        primary_key=pk,
        columns=columns,
        default_schema=str(raw.get("default_schema") or "cerner"),
        **common,
    )
