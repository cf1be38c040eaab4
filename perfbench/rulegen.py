"""Seeded YAML rule-set generator for the ETL workloads.

``omop_rules(seed)`` emits an OMOP-shaped rule set over the ten source
tables registered as ``cerner.*``; ``bulk_rules(seed)`` emits two wide
tables over the largest sources. Both return ``(files, required)``:
``files`` is an ordered ``{file name: YAML text}`` and ``required`` the
``{table: {column, ...}}`` map for the required-column filter.

The seed changes thresholds, constants, lookup values and file order.
It never changes the shape: every seed gives the same number of tables,
multi-source keys, FK-remap chain depth, last-writer-wins (LWW) chains,
temp tables and required columns (``shape()`` counts them).

``python3 perfbench/rulegen.py`` runs the self-check: same seed gives
byte-identical YAML, three seeds give the same shape, and (with
``--run``) every set loads, topo-sorts and runs at sf0.001.
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

import yaml

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from omop_etl_spark.rules.loader import load_rules_text, topo_sort
from omop_etl_spark.rules.model import (
    ConstantRule, ExpressionRule, InlineQuery, TableSpec,
)


def _dump(doc: dict) -> str:
    return yaml.safe_dump(doc, sort_keys=False, default_flow_style=False, width=4096)


def _pk(name: str, **sources) -> dict:
    return {"name": name, "sources": sources}


def _src(table, columns: dict, constraints=()) -> dict:
    out = {"table": table, "columns": columns}
    if constraints:
        out["constraints"] = list(constraints)
    return out


def _col(name, tables, expression, constraints=(), pk=None, references=None) -> dict:
    out = {"name": name, "tables": list(tables)}
    if pk:
        out["primary_key"] = pk
    if constraints:
        out["constraints"] = list(constraints)
    if references:
        out["references"] = references
    out["expression"] = expression
    return out


def _const(name, value, data_type=None) -> dict:
    out = {"name": name, "constant": value}
    if data_type:
        out["data_type"] = data_type
    return out


def _table(name, pk, columns, **extra) -> dict:
    doc = {"name": name, "default_schema": "cerner"}
    doc.update(extra)
    doc["primary_key"] = pk
    doc["columns"] = columns
    return doc


def _values(rows) -> str:
    body = ", ".join(
        "(" + ", ".join(f"'{v}'" if isinstance(v, str) else f"{v}::int" for v in r) + ")"
        for r in rows
    )
    return f"select * from (VALUES {body})"


def omop_rules(seed: int) -> tuple[dict[str, str], dict[str, set[str]]]:
    """The ``etl_omop`` rule set: five target tables and two dependency
    files, modelled on OMOP person/location/visit/condition rules."""
    r = random.Random(seed)
    acct = r.choice([8000, 8500, 9000])
    big = r.choice([300000, 350000, 400000])
    huge = big + r.choice([50000, 75000])
    concept_base = r.randrange(1000, 9000, 100)
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    r.shuffle(segs)
    # one segment has no concept: the required-column filter drops its people
    seg_rows = [(s, concept_base + i) for i, s in enumerate(segs[:4])]
    status_rows = [(s, concept_base + 50 + i) for i, s in enumerate("FOP")]
    prio_rows = [(f"{i}-", concept_base + 70 + i) for i in range(1, 6)]

    cust_pk = {"person": {"table": "customer", "column": "c_custkey"}}
    docs: dict[str, dict] = {}
    docs["vocab_setup"] = {
        "name": "vocab_setup",
        "default_schema": "cerner",
        "pre_init": [
            {"alias": "segment_concept",
             "query": _values(seg_rows) + " as t (segment, concept_id)"},
            {"alias": "status_concept",
             "query": _values(status_rows) + " as t (status, concept_id)"},
        ],
        "post_init": [
            {"alias": "priority_concept",
             "query": _values(prio_rows) + " as t (prefix, concept_id)"},
        ],
    }
    docs["order_stats"] = {
        "name": "order_stats",
        "default_schema": "cerner",
        "depends_on": ["vocab_setup"],
        "pre_init": [
            {"alias": "cust_order_stats",
             "query": "select o_custkey, count(*)::bigint as n_orders, "
                      "max(o_orderdate) as last_order from orders group by o_custkey"},
        ],
    }
    docs["location"] = _table("location", _pk("location_id", nation=_src(
        "nation", {"n_nationkey": "integer"})), [
        _col("state", ["nation"], "nation.n_name"),
        _col("region_name", ["nation", "region"], "region.r_name",
             ["nation.n_regionkey = region.r_regionkey"]),
        _const("country", r.choice(["XA", "XB", "XC"])),
        _col("location_source_value", ["nation"],
             "'N' || nation.n_nationkey::varchar"),
    ])
    # multi-source (union) key: suppliers plus big buyers, the latter a
    # DISTINCT ON query table (each customer's largest order)
    buyer_q = {"alias": "big_buyer",
               "query": "select distinct on (o_custkey) o_custkey, o_totalprice, "
                        f"o_orderpriority from orders where o_totalprice > {big} "
                        "order by o_custkey, o_totalprice desc"}
    docs["provider"] = _table("provider", _pk(
        "provider_id",
        supplier=_src("supplier", {"s_suppkey": "bigint"}),
        big_buyer=_src(buyer_q, {"o_custkey": "bigint"}),
    ), [
        _col("provider_name", ["supplier"], "supplier.s_name", pk="supplier"),
        _col("provider_name", [buyer_q, "customer"], "customer.c_name", pk="big_buyer",
             constraints=["big_buyer.o_custkey = customer.c_custkey"]),
        _col("location_id", ["supplier"], "supplier.s_nationkey", pk="supplier",
             references={"location": {"table": "nation", "column": "n_nationkey"}}),
        _col("specialty_source_value", ["supplier"], "'GP'", pk="supplier"),
        _col("specialty_source_value", ["supplier"], "'SPECIALIST'", pk="supplier",
             constraints=[f"supplier.s_acctbal > {acct}"]),
        _col("specialty_source_value", [buyer_q], "big_buyer.o_orderpriority",
             pk="big_buyer"),
    ])
    docs["person"] = _table("person", _pk("person_id", customer=_src(
        "customer", {"c_custkey": "bigint"})), [
        _col("gender_concept_id", ["customer", "segment_concept"],
             "segment_concept.concept_id::bigint",
             ["customer.c_mktsegment = segment_concept.segment"]),
        _col("year_of_birth", ["customer"], "(1930 + customer.c_custkey % 70)::int"),
        _col("location_id", ["customer"], "customer.c_nationkey",
             references={"location": {"table": "nation", "column": "n_nationkey"}}),
        _col("person_source_value", ["customer"], "customer.c_name"),
        _col("person_source_value", ["customer", "cust_order_stats"],
             "customer.c_name || '#' || cust_order_stats.n_orders::varchar",
             ["customer.c_custkey = cust_order_stats.o_custkey"]),
        _const("race_concept_id", 0, "bigint"),
    ], depends_on=["order_stats"])
    docs["visit_occurrence"] = _table("visit_occurrence", _pk(
        "visit_occurrence_id", orders=_src("orders", {"o_orderkey": "bigint"})), [
        _col("person_id", ["orders"], "orders.o_custkey", references=cust_pk),
        _col("visit_start_date", ["orders"], "orders.o_orderdate::date"),
        _col("visit_type_concept_id", ["orders", "status_concept"],
             "status_concept.concept_id::bigint",
             ["orders.o_orderstatus = status_concept.status"]),
        _col("visit_type_concept_id", ["orders"], f"{concept_base + 60}::bigint",
             [f"orders.o_totalprice > {big}"]),
        _col("visit_type_concept_id", ["orders"], f"{concept_base + 61}::bigint",
             ["orders.o_orderpriority = '1-URGENT'", f"orders.o_totalprice > {huge}"]),
        _col("visit_source_value", ["orders"], "orders.o_orderpriority"),
        _col("admitted_from_concept_id", ["orders", "priority_concept"],
             "priority_concept.concept_id::bigint",
             ["substring(orders.o_orderpriority, 1, 2) = priority_concept.prefix"]),
    ], depends_on=["vocab_setup"])
    # composite natural key; FK chain condition -> visit -> person -> location
    docs["condition_occurrence"] = _table("condition_occurrence", _pk(
        "condition_occurrence_id", lineitem=_src(
            "lineitem", {"l_orderkey": "bigint", "l_linenumber": "integer"},
            ["lineitem.l_returnflag <> 'N'"])), [
        _col("visit_occurrence_id", ["lineitem"], "lineitem.l_orderkey",
             references={"visit_occurrence": {"table": "orders", "column": "o_orderkey"}}),
        _col("provider_id", ["lineitem"], "lineitem.l_suppkey",
             references={"provider": {"table": "supplier", "column": "s_suppkey"}}),
        _col("condition_start_date", ["lineitem"], "lineitem.l_shipdate::date"),
        _col("condition_status_source_value", ["lineitem"], "'billed'"),
        _col("condition_status_source_value", ["lineitem"], "'returned'",
             ["lineitem.l_returnflag = 'R'"]),
        _col("condition_status_source_value", ["lineitem"], "'open-return'",
             ["lineitem.l_returnflag = 'R'", "lineitem.l_linestatus = 'O'"]),
        _col("condition_status_source_value", ["lineitem", "orders"], "'urgent-return'",
             ["lineitem.l_orderkey = orders.o_orderkey",
              "orders.o_orderpriority = '1-URGENT'", "lineitem.l_returnflag = 'R'"]),
        _col("quantity", ["lineitem"], "lineitem.l_quantity::bigint"),
    ])
    required = {
        "person": {"gender_concept_id", "location_id"},
        "condition_occurrence": {"visit_occurrence_id"},
    }
    return _files(docs, r), required


def bulk_rules(seed: int) -> tuple[dict[str, str], dict[str, set[str]]]:
    """The ``etl_bulk`` rule set: two wide tables over lineitem and orders,
    each with several join groups and LWW chains, linked by an FK remap."""
    r = random.Random(seed)
    disc = r.choice([0.05, 0.06, 0.07])
    price = r.choice([50000, 60000, 70000])
    tot = r.choice([250000, 300000])
    docs: dict[str, dict] = {}
    docs["bulk_order"] = _table("bulk_order", _pk("order_id", orders=_src(
        "orders", {"o_orderkey": "bigint"})), [
        _col("order_date", ["orders"], "orders.o_orderdate::date"),
        _col("total_cents", ["orders"], "(orders.o_totalprice * 100)::bigint"),
        _col("priority", ["orders"], "orders.o_orderpriority"),
        _col("priority", ["orders"], "'BIG-' || orders.o_orderpriority",
             [f"orders.o_totalprice > {tot}"]),
        _col("segment", ["orders", "customer"], "customer.c_mktsegment",
             ["orders.o_custkey = customer.c_custkey"]),
        _col("cust_name", ["orders", "customer"], "customer.c_name",
             ["orders.o_custkey = customer.c_custkey"]),
        _col("nation_name", ["orders", "customer", "nation"], "nation.n_name",
             ["orders.o_custkey = customer.c_custkey",
              "customer.c_nationkey = nation.n_nationkey"]),
        _col("status", ["orders"], "orders.o_orderstatus"),
        _col("status", ["orders", "customer"], "'NEG-' || orders.o_orderstatus",
             ["orders.o_custkey = customer.c_custkey", "customer.c_acctbal < 0"]),
        _const("source_system", "tpch"),
    ])
    docs["bulk_line"] = _table("bulk_line", _pk("line_id", lineitem=_src(
        "lineitem", {"l_orderkey": "bigint", "l_linenumber": "integer"})), [
        _col("order_id", ["lineitem"], "lineitem.l_orderkey",
             references={"bulk_order": {"table": "orders", "column": "o_orderkey"}}),
        _col("quantity", ["lineitem"], "lineitem.l_quantity::bigint"),
        _col("net_cents", ["lineitem"],
             "(lineitem.l_extendedprice * (1 - lineitem.l_discount) * 100)::bigint"),
        _col("ship_date", ["lineitem"], "lineitem.l_shipdate::date"),
        _col("flag", ["lineitem"], "lineitem.l_returnflag"),
        _col("flag", ["lineitem"], "'DISC-' || lineitem.l_returnflag",
             [f"lineitem.l_discount >= {disc}"]),
        _col("flag", ["lineitem"], "'BIG-' || lineitem.l_returnflag",
             [f"lineitem.l_extendedprice > {price}"]),
        _col("order_priority", ["lineitem", "orders"], "orders.o_orderpriority",
             ["lineitem.l_orderkey = orders.o_orderkey"]),
        _col("order_date", ["lineitem", "orders"], "orders.o_orderdate::date",
             ["lineitem.l_orderkey = orders.o_orderkey"]),
        _col("part_name", ["lineitem", "part"], "part.p_name",
             ["lineitem.l_partkey = part.p_partkey"]),
        _col("part_type", ["lineitem", "part"], "part.p_type",
             ["lineitem.l_partkey = part.p_partkey"]),
        _col("supp_nation", ["lineitem", "supplier", "nation"], "nation.n_name",
             ["lineitem.l_suppkey = supplier.s_suppkey",
              "supplier.s_nationkey = nation.n_nationkey"]),
    ])
    return _files(docs, r), {}


def _files(docs: dict[str, dict], r: random.Random) -> dict[str, str]:
    names = list(docs)
    r.shuffle(names)  # file order is seeded; topo_sort restores dependencies
    return {f"{n}.yaml": _dump(docs[n]) for n in names}


def load(files: dict[str, str]):
    """Parse a generated set the way ``load_rules_dir`` does."""
    return topo_sort(load_rules_text(t, name=n.rsplit(".", 1)[0]) for n, t in files.items())


def shape(files: dict[str, str], required: dict[str, set[str]]) -> dict[str, int]:
    """Seed-independent structure counts of a generated rule set."""
    specs = load(files)
    tables = [s for s in specs if isinstance(s, TableSpec)]
    refs = {
        t.name: {c.references.mapping_table for c in t.columns
                 if isinstance(c, ExpressionRule) and c.references}
        for t in tables
    }

    def depth(name: str) -> int:
        return 1 + max((depth(d) for d in refs.get(name, ())), default=0)

    lww = 0
    for t in tables:
        for col in t.column_order:
            if sum(isinstance(c, ExpressionRule) for c in t.rules_for(col)) >= 2:
                lww += 1
    return {
        "tables": len(tables),
        "dependency_files": len(specs) - len(tables),
        "multi_source_keys": sum(len(t.primary_key.sources) > 1 for t in tables),
        "composite_keys": sum(
            any(len(s.columns) > 1 for s in t.primary_key.sources.values())
            for t in tables),
        "fk_chain_depth": max((depth(t.name) for t in tables), default=0),
        "lww_chains": lww,
        "temp_tables": sum(len(s.pre_init) + len(s.post_init) for s in specs),
        "distinct_on_tables": sum(
            any(isinstance(s.relation, InlineQuery)
                and "distinct on" in s.relation.query.lower()
                for s in t.primary_key.sources.values())
            for t in tables),
        "constants": sum(isinstance(c, ConstantRule) for t in tables for c in t.columns),
        "required_columns": sum(len(v) for v in required.values()),
        "rules": sum(len(t.columns) for t in tables),
    }


GENERATORS = {"etl_omop": omop_rules, "etl_bulk": bulk_rules}


def self_check(seeds=(1, 2, 3)) -> dict[str, dict[str, int]]:
    """Raise unless generation is byte-deterministic and shape-stable."""
    shapes = {}
    for wl, gen in GENERATORS.items():
        seen = []
        for s in seeds:
            if gen(s) != gen(s):
                raise AssertionError(f"{wl}: seed {s} is not byte-deterministic")
            seen.append(shape(*gen(s)))
        if any(x != seen[0] for x in seen):
            raise AssertionError(f"{wl}: shape differs across seeds: {seen}")
        shapes[wl] = seen[0]
    return shapes


if __name__ == "__main__":
    import json

    print(json.dumps(self_check(), indent=1))
