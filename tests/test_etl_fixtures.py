"""End-to-end golden tests for every DML feature.

Each test re-creates one of the reference's integration fixtures
(reference tests/test_integration.py + tests/rules/*.yaml, summarized
in FIXTURES.md §1) as inline YAML + in-memory source tables, runs the
Spark engine, and checks the exact golden row sets. Surrogate ids here
are deterministic (rank by source order + natural key — SURVEY §4.3);
for these fixtures natural-key order coincides with the reference's
insertion order, so the golden ids match the reference's serials.
"""

import pytest

from omop_etl_spark import load_rules_text


def seed_cerner(engine, spark):
    engine.register_df(
        "cerner.foo",
        spark.createDataFrame(
            [(0, "a", 4, 2), (1, "c", 5, 5), (2, "d", 9, 7)],
            "id int, alpha string, beta int, gamma int",
        ),
    )
    engine.register_df(
        "cerner.bar",
        spark.createDataFrame(
            [(0, "x", 8, 3), (1, "a", 4, 4), (2, "c", 6, 5)],
            "id int, alpha string, beta int, gamma int",
        ),
    )


def rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


COPY_RULES = """
name: baz
primary_key:
  name: id
  sources:
    foo_pk:
      table: foo
      columns:
        id: integer
columns:
  - name: alpha
    enabled: true
    tables: [foo]
    expression: foo.alpha
  - name: beta
    tables: [foo, bar]
    constraints:
      - foo.id = bar.id
    primary_key: foo_pk
    expression: bar.beta
"""


def test_copy(engine, spark):
    seed_cerner(engine, spark)
    out = engine.run([load_rules_text(COPY_RULES)])["baz"]
    assert rows(out, "id") == [(1, "a", 8), (2, "c", 4), (3, "d", 6)]


JOIN_RULES = """
name: baz
primary_key:
  name: id
  sources:
    foobar_pk:
      table: foo2bar
      columns:
        foo_id: integer
        bar_id: integer
columns:
  - name: alpha
    tables: [foo, bar, foo2bar]
    constraints:
      - foo.id = foo2bar.foo_id
      - bar.id = foo2bar.bar_id
    expression: foo.alpha
    primary_key: foobar_pk
  - name: beta
    tables: [foo, bar, foo2bar]
    constraints:
      - foo.id = foo2bar.foo_id
      - bar.id = foo2bar.bar_id
    expression: CASE WHEN foo.beta > bar.beta THEN foo.beta ELSE bar.beta END
    primary_key: foobar_pk
  - name: gamma
    tables: [foo, bar, foo2bar]
    constraints:
      - foo.id = foo2bar.foo_id
      - bar.id = foo2bar.bar_id
    expression: CASE WHEN foo.gamma > bar.gamma THEN foo.gamma ELSE bar.gamma END
    primary_key: foobar_pk
"""


def test_join_composite_pk(engine, spark):
    seed_cerner(engine, spark)
    engine.register_df(
        "cerner.foo2bar",
        spark.createDataFrame([(0, 1), (1, 2)], "foo_id int, bar_id int"),
    )
    out = engine.run([load_rules_text(JOIN_RULES)])["baz"]
    # reference golden: tests/rules/join.yaml header + test_integration.py:588-599
    assert rows(out, "id") == [(1, "a", 4, 4), (2, "c", 6, 5)]


MERGE_RULES = """
name: baz
primary_key:
  name: id
  sources:
    foo_pk:
      table: foo
      columns:
        id: integer
    bar_pk:
      table: bar
      columns:
        id: integer
columns:
  - name: alpha
    tables: [foo]
    primary_key: foo_pk
    expression: foo.alpha
  - name: beta
    tables: [foo]
    primary_key: foo_pk
    expression: foo.beta
  - name: gamma
    tables: [foo]
    expression: foo.gamma
    primary_key: foo_pk
  - name: alpha
    tables: [bar]
    expression: bar.alpha
    primary_key: bar_pk
  - name: beta
    tables: [bar]
    expression: bar.beta
    primary_key: bar_pk
  - name: gamma
    tables: [bar]
    expression: bar.gamma
    primary_key: bar_pk
"""


def test_merge_multi_source(engine, spark):
    seed_cerner(engine, spark)
    out = engine.run([load_rules_text(MERGE_RULES)])["baz"]
    # reference golden: tests/rules/merge.yaml header (6 rows, foo then bar)
    assert rows(out, "id") == [
        (1, "a", 4, 2),
        (2, "c", 5, 5),
        (3, "d", 9, 7),
        (4, "x", 8, 3),
        (5, "a", 4, 4),
        (6, "c", 6, 5),
    ]


def test_merge_last_writer_wins(engine, spark):
    """Two overlapping rules for one column on the SAME pk source: the
    later rule overwrites the rows it matches (reference sequential
    UPDATE semantics, schema.py:474-478)."""
    seed_cerner(engine, spark)
    rules = """
name: baz
primary_key:
  name: id
  sources:
    foo_pk:
      table: foo
      columns:
        id: integer
columns:
  - name: alpha
    tables: [foo]
    expression: foo.alpha
  - name: alpha
    tables: [foo]
    constraints:
      - foo.beta > 4
    expression: 'upper(foo.alpha)'
"""
    out = engine.run([load_rules_text(rules)])["baz"]
    assert rows(out, "id") == [(1, "a"), (2, "C"), (3, "D")]


EVENT_RULES = """
name: events
primary_key:
  name: id
  sources:
    event_pk:
      table: event
      columns:
        id: integer
columns:
  - name: staff_id
    tables: [event]
    primary_key: event_pk
    references:
      table: person
      column: staff_id
    expression: event.staff_id
  - name: patient_id
    tables: [event]
    primary_key: event_pk
    references:
      person:
        table: patient
        column: id
    expression: event.patient_id
"""


def test_event_fk_remap(engine, spark):
    engine.register_df(
        "cerner.event",
        spark.createDataFrame(
            [(0, 456, 456), (2, 457, 456), (3, 101, 100), (4, None, 999)],
            "id int, staff_id int, patient_id int",
        ),
    )
    # pre-seeded mapping frame for the referenced table (reference
    # test_integration.py:729-742 creates it inline)
    engine.register_df(
        "mapping.person",
        spark.createDataFrame(
            [
                (0, 101, None),
                (1, 456, None),
                (2, 457, None),
                (3, None, 100),
                (4, None, 456),
                (5, None, 749),
                (6, None, 999),
            ],
            "id bigint, staff_id int, patient_id int",
        ),
    )
    out = engine.run([load_rules_text(EVENT_RULES)])["events"]
    # reference golden: test_integration.py:744-753
    assert rows(out, "id") == [(1, 1, 4), (2, 2, 4), (3, 0, 3), (4, None, 6)]


CONSTANT_RULES = """
name: baz
primary_key:
  name: id
  sources:
    foo:
      table: foo
      columns:
        id: integer
columns:
  - name: alpha
    constant: alpha
  - name: beta
    data_type: integer
    constant: 1
  - name: gamma
    data_type: integer
    constant: 2
"""


def test_constant_columns(engine, spark):
    seed_cerner(engine, spark)
    out = engine.run([load_rules_text(CONSTANT_RULES)])["baz"]
    # reference golden: test_integration.py:844-854
    assert rows(out, "id") == [(1, "alpha", 1, 2), (2, "alpha", 1, 2), (3, "alpha", 1, 2)]


EXTERNAL_RULES = """
name: baz
primary_key:
  name: id
  sources:
    foo_pk:
      table: foo
      columns:
        id: integer
columns:
  - name: alpha
    tables: [foo, external.vocabulary]
    constraints:
      - foo.id = external.vocabulary.id
    expression: external.vocabulary.name
  - name: beta
    tables: [foo]
    expression: foo.beta
"""


def test_external_lookup(engine, spark):
    seed_cerner(engine, spark)
    engine.register_df(
        "external.vocabulary",
        spark.createDataFrame(
            [(0, "vocab1"), (1, "vocab2"), (2, "vocab3")], "id int, name string"
        ),
    )
    out = engine.run([load_rules_text(EXTERNAL_RULES)])["baz"]
    # reference golden: tests/rules/external.yaml header
    assert rows(out, "id") == [(1, "vocab1", 4), (2, "vocab2", 5), (3, "vocab3", 9)]


DEP_RULES = """
scripts:
  - TRUE;
pre_init:
  - alias: temp_table_4
    query: select * from (VALUES (0::int, 1::numeric), (1::int, 2::numeric)) as t (id, beta)
"""

CUSTOM_QUERY_RULES = """
scripts:
  - |
    CREATE OR REPLACE FUNCTION total_rows ()
    RETURNS integer AS $total$
    declare
      total integer;
    BEGIN
      SELECT count(*) into total FROM foo;
      RETURN total;
    END;
    $total$ LANGUAGE plpgsql;
depends_on:
  - dep

pre_init:
  - alias: temp_table_1
    query: select * from (VALUES (0::int, 1::numeric), (1::int, 2::numeric), (2::int, 3::numeric), (3::int, 4::numeric), (4::int, 5::numeric)) as t (id, beta)

post_init:
  - alias: temp_table_2
    query: select mapping.baz.id, temp_table_1.beta from mapping.baz, temp_table_1 where mapping.baz.id = temp_table_1.id

variables:
  foo_table: &foo_table
    alias: foo
    query: select x.id, alpha, beta, total_rows() as total from (values (0, 'a1'), (2, 'b1'), (4, 'c1')) x(id, alpha), temp_table_1 where x.id = temp_table_1.id

name: baz
primary_key:
  name: id
  sources:
    foo:
      name: foo
      table: *foo_table
      columns:
        id: integer

columns:
  - name: alpha
    tables: [*foo_table]
    expression: foo.alpha
    primary_key: foo
  - name: beta
    tables: [*foo_table]
    expression: foo.beta
    primary_key: foo
  - name: disabled
    enabled: false
"""


def test_custom_query_pipeline(engine, spark):
    """QueryTable sources, VALUES inline tables, ``::`` casts, pre/post
    init temp tables, dependency files, UDF registration replacing the
    pl/pgsql script, and a disabled column."""
    seed_cerner(engine, spark)
    engine.register_udf("total_rows", lambda: 3, "int")
    # the reference's dep.yaml ships a literal `TRUE;` placeholder
    # script (never executed there — compile-only); opt into the
    # warn-and-continue mode for this replay
    engine.strict_scripts = False
    dep = load_rules_text(DEP_RULES, name="dep")
    table = load_rules_text(CUSTOM_QUERY_RULES)
    out = engine.run([table, dep])["baz"]  # run() topo-sorts dep first
    got = rows(out, "id")
    # reference golden: test_integration.py:321-332 — beta is numeric
    assert [(r[0], r[1], float(r[2])) for r in got] == [
        (1, "a1", 1.0),
        (2, "b1", 3.0),
        (3, "c1", 5.0),
    ]
    # post_init temp view exists and read the persisted mapping frame
    assert spark.table("temp_table_2").count() == 3
    # dependency's pre_init view is registered
    assert spark.table("temp_table_4").count() == 2


def test_failing_script_raises_by_default(engine):
    # a broken setup script must abort the run (ADVICE r1): later rules
    # would otherwise silently join against a missing lookup
    import pytest

    from omop_etl_spark.rules.loader import load_rules_text

    engine.strict_scripts = True
    bad = load_rules_text(
        "scripts:\n  - create table nope as select * from missing_tbl\n",
        name="baddep",
    )
    with pytest.raises(RuntimeError, match="setup script failed"):
        engine.run_dependency(bad)


def test_dependency_cycle_detected(engine):
    from omop_etl_spark.rules.loader import topo_sort
    from omop_etl_spark.rules.model import DependencySpec, RuleError

    a = DependencySpec(name="a", depends_on=("b",))
    b = DependencySpec(name="b", depends_on=("a",))
    with pytest.raises(RuleError, match="cycle"):
        topo_sort([a, b])


def test_external_lookup_from_csv(engine, spark, tmp_path):
    """register_csv: the reference's curated external/*.csv pattern."""
    seed_cerner(engine, spark)
    csv = tmp_path / "vocabulary.csv"
    csv.write_text("id,name\n0,vocab1\n1,vocab2\n2,vocab3\n")
    engine.register_csv("external.vocabulary", csv, "id int, name string")
    out = engine.run([load_rules_text(EXTERNAL_RULES)])["baz"]
    assert rows(out, "id") == [(1, "vocab1", 4), (2, "vocab2", 5), (3, "vocab3", 9)]


# --- natural-key semantics -------------------------------------------------
#
# The mapping phase gives every key-source row its own surrogate id
# (the reference's INSERT … SELECT into a serial), and a column rule is
# an UPDATE joined on the natural key. These pin what follows from that
# for keys the reference never deduplicates or null-checks.

KEY_RULES = """
name: baz
primary_key:
  name: id
  sources:
    foo_pk:
      table: foo
      columns:
        id: integer
columns:
  - name: alpha
    tables: [foo]
    expression: foo.alpha
"""


def test_duplicate_natural_key_gets_two_ids_and_both_get_the_value(engine, spark):
    engine.register_df(
        "cerner.foo",
        spark.createDataFrame([(1, "a"), (1, "a"), (2, "c")], "id int, alpha string"),
    )
    out = engine.run([load_rules_text(KEY_RULES)])["baz"]
    assert rows(spark.table("mapping.baz"), "id") == [(1, 1), (2, 1), (3, 2)]
    assert rows(out, "id") == [(1, "a"), (2, "a"), (3, "c")]


def test_null_natural_key_gets_an_id_and_never_matches_a_rule(engine, spark):
    engine.register_df(
        "cerner.foo",
        spark.createDataFrame([(None, "z"), (1, "a")], "id int, alpha string"),
    )
    out = engine.run([load_rules_text(KEY_RULES)])["baz"]
    assert rows(spark.table("mapping.baz"), "id") == [(1, None), (2, 1)]
    # `foo.id = <key>` is never true for a NULL key: the rule leaves it NULL
    assert rows(out, "id") == [(1, None), (2, "a")]


def test_key_matched_by_two_source_rows_takes_the_min(engine, spark):
    """Postgres's ``UPDATE … FROM`` takes an arbitrary one of several
    matching rows; the engine resolves that deterministically with
    ``min``. A known divergence from the reference, pinned here."""
    engine.register_df("cerner.foo", spark.createDataFrame([(1,), (2,)], "id int"))
    engine.register_df(
        "cerner.bar",
        spark.createDataFrame([(1, 10), (1, 5), (2, 7)], "id int, v int"),
    )
    rules = """
name: baz
primary_key:
  name: id
  sources:
    foo_pk:
      table: foo
      columns:
        id: integer
columns:
  - name: v
    tables: [foo, bar]
    constraints:
      - foo.id = bar.id
    expression: bar.v
"""
    out = engine.run([load_rules_text(rules)])["baz"]
    assert rows(out, "id") == [(1, 5), (2, 7)]


def _two_column_rules(name, source, expression, default_schema="cerner"):
    return f"""
name: {name}
default_schema: {default_schema}
primary_key:
  name: id
  sources:
    pk:
      table: {source}
      columns:
        id: integer
columns:
  - name: alpha
    tables: [{source}]
    expression: {source}.alpha
  - name: beta
    tables: [{source}]
    expression: {expression}
"""


def test_bad_rule_in_last_table_writes_no_omop_table(engine, spark):
    """Every target plan is built before the first ``omop.*`` write, so
    a rule on a missing column fails the run with nothing written."""
    from pyspark.errors import AnalysisException

    from omop_etl_spark.rules.model import RuleError

    seed_cerner(engine, spark)
    specs = [
        load_rules_text(COPY_RULES, name="baz"),
        load_rules_text(
            _two_column_rules("last", "bar", "bar.no_such_column"), name="last_rules"
        ),
    ]
    with pytest.raises(RuleError, match=r"^last_rules: omop\.last column\(s\) beta: ") as err:
        engine.run(specs)
    assert "no_such_column" in str(err.value)
    assert isinstance(err.value.__cause__, AnalysisException)
    assert not spark.catalog.databaseExists("omop") or not spark.catalog.listTables("omop")


def test_tables_in_two_default_schemas_match_their_own_runs(engine, spark):
    """Each target is analyzed under its own ``USE`` before the pooled
    writes, so bare names resolve as they do when each table runs
    alone."""
    engine.register_df(
        "s1.src", spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id int, alpha string, beta int")
    )
    engine.register_df(
        "s2.src",
        spark.createDataFrame([(5, "x", 50), (7, "y", 70), (9, "z", 90)], "id int, alpha string, beta int"),
    )
    specs = [
        load_rules_text(_two_column_rules("t1", "src", "src.beta", "s1")),
        load_rules_text(_two_column_rules("t2", "src", "src.beta + 1", "s2")),
    ]
    together = {name: rows(df, "id") for name, df in engine.run(specs).items()}
    alone = {spec.name: rows(engine.run([spec])[spec.name], "id") for spec in specs}
    assert together == alone
    assert together == {
        "t1": [(1, "a", 10), (2, "b", 20)],
        "t2": [(1, "x", 51), (2, "y", 71), (3, "z", 91)],
    }


def test_failed_write_waits_for_the_other_writes(engine, spark):
    """A write that fails at run time is raised after the other pooled
    writes finish, and no pool thread outlives the run."""
    import threading

    engine.register_df(
        "cerner.wide",
        spark.createDataFrame([(1, "a", 2**40)], "id int, alpha string, big bigint"),
    )
    seed_cerner(engine, spark)
    specs = [
        load_rules_text(_two_column_rules("bad", "wide", "CAST(wide.big AS INT)")),
        load_rules_text(COPY_RULES),
    ]
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            engine.run(specs)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert rows(spark.table("omop.baz"), "id") == [(1, "a", 8), (2, "c", 4), (3, "d", 6)]
    assert not [t for t in threading.enumerate() if t.name.startswith("omop-write")]


def test_script_that_switches_database_does_not_leak_into_the_next_table(engine, spark):
    """``USE`` is skipped while the schema is unchanged, so a setup
    script that switches database must make the next table send its
    own ``USE`` again."""
    seed_cerner(engine, spark)
    engine.register_df(
        "other.foo", spark.createDataFrame([(7, "z", 1, 1)], "id int, alpha string, beta int, gamma int")
    )
    specs = [
        load_rules_text(COPY_RULES),
        load_rules_text("scripts:\n  - USE other\n", name="switch"),
        load_rules_text(_two_column_rules("after", "foo", "foo.beta")),
    ]
    out = engine.run(specs)
    assert rows(out["after"], "id") == [(1, "a", 4), (2, "c", 5), (3, "d", 9)]
