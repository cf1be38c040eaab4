"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given scale factor, then
compares row count, column-name set, column dtypes (canonicalized to
engine-neutral families, mirroring the driver's schema_match), and
order-insensitive values (columns sorted by name, rows sorted, floats
repr'd). Exit 0 iff all match.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod


def norm_value(v):
    if v is None:
        return ""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def norm_dtype(t: str) -> str:
    """Map a Spark dtype string or a DuckDB type string to an
    engine-neutral family so `schema_match` covers types, not just
    names (VERDICT r6 #3)."""
    s = str(t).strip().lower()
    if s.endswith("[]") or s.startswith("array"):
        return "list"
    if s.startswith("decimal"):
        return "decimal"
    if s in ("tinyint", "smallint", "int", "integer", "bigint", "hugeint",
             "long", "short", "byte", "ubigint", "uinteger", "usmallint",
             "utinyint"):
        return "int"
    if s in ("double", "float", "real"):
        return "float"
    if s in ("string", "varchar", "text", "char"):
        return "str"
    if s in ("boolean", "bool"):
        return "bool"
    if s == "date":
        return "date"
    if s.startswith("timestamp"):
        return "timestamp"
    if s in ("binary", "blob"):
        return "binary"
    return s


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_value(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out


def compare(name: str, sdf, rel) -> tuple[bool, str | None]:
    """Driver-protocol comparison of one Spark DataFrame against one
    DuckDB relation: row count + column-name set + canonical dtypes +
    order-insensitive values. Prints the PASS/FAIL line and returns
    ``(ok, failure_reason)`` so off-SF harnesses
    (scripts/check_sf1_embed.py) share the exact same protocol."""
    s_cols = sdf.columns
    s_types = dict((c.lower(), norm_dtype(t)) for c, t in sdf.dtypes)
    s_rows = [tuple(r) for r in sdf.collect()]
    d_cols = [c.lower() for c in rel.columns]
    d_types = dict(
        (c.lower(), norm_dtype(t)) for c, t in zip(rel.columns, rel.types)
    )
    # Guard against the third hash-only protocol trap (VERDICT r8
    # #1): the driver's value hash renders DuckDB HUGEINT/UHUGEINT
    # differently from BIGINT even though schema canonicalization
    # maps both to "int" — an uncast SUM(BIGINT) in the final
    # projection passes locally but fails hash_match at the driver.
    wide = [
        c for c, t in zip(rel.columns, rel.types)
        if str(t).strip().lower() in ("hugeint", "uhugeint")
    ]
    if wide:
        print(
            f"FAIL {name}: oracle final projection returns HUGEINT "
            f"{wide} — wrap in CAST(... AS BIGINT) (driver hash trap)"
        )
        return False, f"oracle final projection has HUGEINT columns: {wide}"
    d_rows = rel.fetchall()

    sc, sr = norm_rows([c.lower() for c in s_cols], s_rows)
    dc, dr = norm_rows(d_cols, d_rows)
    type_diffs = {
        c: (s_types.get(c), d_types.get(c))
        for c in set(s_types) | set(d_types)
        if s_types.get(c) != d_types.get(c)
    }
    if sc != dc:
        print(f"FAIL {name}: columns {sc} vs {dc}")
        return False, f"columns differ: {sc} vs {dc}"
    if type_diffs:
        print(f"FAIL {name}: dtypes (spark, duckdb) {type_diffs}")
        return False, f"dtypes differ: {type_diffs}"
    if len(sr) != len(dr):
        print(f"FAIL {name}: rowcount {len(sr)} vs {len(dr)}")
        return False, f"rowcount {len(sr)} vs {len(dr)}"
    if sr != dr:
        diff = next((i, a, b) for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
        print(f"FAIL {name}: first diff at sorted row {diff[0]}:")
        print(f"  spark : {diff[1]}")
        print(f"  duckdb: {diff[2]}")
        return False, f"values differ at sorted row {diff[0]}"
    print(f"PASS {name}: rows={len(sr)} cols={len(sc)}")
    return True, None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # 8 threads keeps sf0.01 checks light next to other work; big-SF
    # runs (sf1/sf10 tilings) can claim the box via SPARK_GRAFT_CPUS
    # (the sf10 streaming replays are ~4x faster at local[32])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.warehouse.dir", "/tmp/check-wh")
        .config("spark.ui.enabled", "false")
        # match bench's session shape: the default ~1g driver heap is
        # marginal for broadcast builds once this harness points at the
        # 10x/30x tilings (a sf1 run OOM'd a build that bench/probe —
        # both 8-16g — run fine); correctness checks should never fail
        # on harness heap
        .config("spark.driver.memory", "8g")
        .appName("correctness-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in entrymod.TPCH_TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.is_dir():
            # Spark-written table: a DIRECTORY of part files (the
            # gen_scale_testdata tilings) — DuckDB needs the glob form
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {str(e).splitlines()[0][:200]}")
            continue
        try:
            ok, reason = compare(name, sdf, con.sql(oracles[name]))
        except Exception as e:  # noqa: BLE001 - spark collect or duckdb
            failures.append((name, f"engine error: {e}"))
            print(f"FAIL {name}: engine error: {str(e).splitlines()[0][:200]}")
            continue
        if not ok:
            failures.append((name, reason))

    spark.stop()
    print(f"\n{len(queries) - len(failures)}/{len(queries)} matched" if not only else "")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
