"""The ETL engine: catalog management + multi-table pipeline execution.

Replaces the reference's compile-to-psql flow (``__main__.py:34-92``)
with direct Spark execution — the working ``execute`` the reference
never had (its ``execute`` subcommand calls methods that don't exist;
SURVEY §3.3). Namespaces map to Spark catalog databases (``cerner``,
``omop``, ``mapping``, ``external``, …); ``USE <default_schema>`` gives
opaque rule SQL the reference's bare-name resolution, and temp views
shadow catalog tables exactly like the reference's TempTables env
(schema.py:92-102).

Pipeline ordering mirrors the reference (``__main__.py:56-88``): all
dependencies first, then every table's initialization (pre_init →
mapping build → post_init), and only then every table's column phase —
the phase barrier that lets FK remaps read any other table's
``mapping.*`` frame. After the barrier each column phase reads only
``mapping.*`` tables and sources, so :meth:`Engine.run` builds every
target plan first, serially and each under its own ``USE`` (``spark.sql``
analyzes eagerly, so a rule on a missing table or column fails here, as
a :class:`~omop_etl_spark.rules.model.RuleError`, before any
``omop.*`` table is written). It then runs all catalog statements for
the ``omop.*`` tables, and only then submits the ``saveAsTable`` calls
to a thread pool, so the writes' Spark jobs overlap.
"""

from __future__ import annotations

import logging
import shutil
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Callable, Iterable, Sequence
from urllib.parse import urlparse

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from .api import load_required_columns_csv
from .dialect import is_plpgsql_script, translate
from .planner.compiler import TARGET_SCHEMA, TableCompiler
from .rules.loader import load_rules_dir, resolve_default_schemas, topo_sort
from .rules.model import DependencySpec, ExpressionRule, RuleError, TableSpec

__all__ = ["Engine"]

log = logging.getLogger(__name__)


class _Catalog:
    """The catalog statements the engine sends. One :meth:`Engine.run`
    shares one instance, so within a run each schema is created and
    located once and ``USE`` is sent only when the schema changes.
    Outside a run every call gets a fresh instance: nothing is cached
    across runs, where the caller may drop or switch databases."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.schemas: set[str] = set()
        self.locations: dict[str, str | None] = {}
        self.current: str | None = None

    def ensure_schema(self, schema: str) -> None:
        if schema not in self.schemas:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
            self.schemas.add(schema)

    def use(self, schema: str | None) -> None:
        if schema and schema != self.current:
            self.ensure_schema(schema)
            self.spark.sql(f"USE {schema}")
            self.current = schema

    def _location(self, schema: str) -> str | None:
        if schema not in self.locations:
            try:
                rows = self.spark.sql(f"DESCRIBE DATABASE {schema}").filter(
                    "info_name = 'Location'"
                ).collect()
                self.locations[schema] = rows[0]["info_value"] if rows else None
            except Exception:  # noqa: BLE001 - best-effort cleanup
                self.locations[schema] = None
        return self.locations[schema]

    def clear_table(self, qualified_name: str) -> None:
        """Drop ``qualified_name`` so an overwrite ``saveAsTable`` also
        survives an orphaned warehouse directory: a table absent from
        the (in-memory) catalog whose managed location still exists on
        disk from a previous session raises LOCATION_ALREADY_EXISTS —
        drop both."""
        schema, _, table = qualified_name.partition(".")
        self.ensure_schema(schema)
        self.spark.sql(f"DROP TABLE IF EXISTS {qualified_name}")
        location = self._location(schema)
        if location:
            path = Path(urlparse(location).path) / table.lower()
            if path.exists():
                shutil.rmtree(path, ignore_errors=True)


def _write(df: DataFrame, qualified_name: str) -> None:
    df.write.mode("overwrite").format("parquet").saveAsTable(qualified_name)


class Engine:
    """Catalog + runner for the YAML DML pipeline.

    Tables are Spark catalog tables (parquet-backed), so 100 TB sources
    register by location without copying; computed ``mapping.*`` and
    ``omop.*`` tables are materialized parquet (the reference
    materializes both as real Postgres tables).
    """

    def __init__(
        self,
        spark: SparkSession,
        strict_scripts: bool = True,
    ):
        self.spark = spark
        self.temp_views: set[str] = set()
        self.required_columns: dict[str, set[str]] = {}
        # a failed setup script usually means later rules join against a
        # missing/empty lookup — fail fast like the reference's psql run
        # would; pass strict_scripts=False for the old warn-and-continue
        self.strict_scripts = strict_scripts
        #: the catalog state :meth:`run` shares between its tables
        self._run_catalog: _Catalog | None = None

    # -- catalog ------------------------------------------------------------

    def _catalog(self) -> _Catalog:
        return self._run_catalog or _Catalog(self.spark)

    @staticmethod
    def _resolve_location(path: str | Path) -> str:
        """Absolute form of a LOCATION operand: relative LOCAL paths
        resolve against the process working directory (what a caller
        means), never the warehouse database dir (what Spark's relative
        LOCATION semantics would silently do); URIs with a scheme and
        absolute paths pass through unchanged."""
        s = str(path)
        if "://" in s or s.startswith("/"):
            return s
        return str(Path(s).resolve())

    def register_parquet(self, qualified_name: str, path: str | Path) -> None:
        """Register an existing parquet file/dir as ``schema.table``
        without copying data (:meth:`register_source`)."""
        self.register_source(qualified_name, path)

    def register_df(self, qualified_name: str, df: DataFrame) -> None:
        """Materialize a DataFrame as ``schema.table`` (test fixtures,
        small curated lookups)."""
        self._overwrite_table(df, qualified_name)

    def register_csv(
        self,
        qualified_name: str,
        path: str | Path,
        schema_ddl: str | None = None,
    ) -> None:
        """Register a CSV lookup as ``schema.table`` — the reference's
        curated ``external/*.csv`` pattern (external.sql:1-50,
        FACILITY_POSTCODE.csv etc.). With ``schema_ddl`` (a DDL string
        like ``"code int, name string"``) the types are declared;
        otherwise they are inferred (one extra pass, fine for lookup-
        size data). Materialized to parquet so repeated rule joins
        never re-parse the CSV."""
        reader = self.spark.read.option("header", "true")
        if schema_ddl:
            reader = reader.schema(schema_ddl)
        else:
            reader = reader.option("inferSchema", "true")
        self._overwrite_table(reader.csv(str(Path(path))), qualified_name)

    def register_source(
        self,
        qualified_name: str,
        path: str | Path,
        fmt: str = "parquet",
        options: dict[str, str] | None = None,
        schema_ddl: str | None = None,
    ) -> None:
        """Register any Spark-readable location as ``schema.table``.

        ``parquet``/``orc`` register by LOCATION (no copy, scans prune
        columns and push filters; the catalog keeps the schema inferred
        here, so later reads start no inference job); row-oriented
        formats (``json``, ``csv``) are materialized to parquet once so
        repeated rule joins never re-parse text.

        A relative local path is resolved against the CALLER's working
        directory before the DDL: Spark resolves a relative ``LOCATION``
        URI against the database directory under the warehouse, so
        without this an existing ``./data/t.parquet`` registers as the
        nonexistent ``<warehouse>/<schema>.db/data/t.parquet`` and every
        read fails with UNABLE_TO_INFER_SCHEMA (found by the r15 sf1
        harness run). Paths with an explicit URI scheme (``s3a://``,
        ``hdfs://``) pass through untouched.
        """
        fmt = fmt.lower()
        if fmt in ("parquet", "orc"):
            schema, _, _ = qualified_name.partition(".")
            self._catalog().ensure_schema(schema)
            self.spark.sql(f"DROP TABLE IF EXISTS {qualified_name}")
            self.spark.sql(
                f"CREATE TABLE {qualified_name} USING {fmt} "
                f"LOCATION '{self._resolve_location(path)}'"
            )
            return
        reader = self.spark.read
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        if schema_ddl:
            reader = reader.schema(schema_ddl)
        if fmt == "json":
            self._overwrite_table(reader.json(str(Path(path))), qualified_name)
        elif fmt == "csv":
            self.register_csv(qualified_name, path, schema_ddl)
        else:
            raise ValueError(f"unsupported source format: {fmt!r}")

    def register_jdbc(
        self,
        qualified_name: str,
        url: str,
        dbtable: str,
        properties: dict[str, str] | None = None,
        partition_column: str | None = None,
        num_partitions: int = 32,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
    ) -> None:
        """Register a JDBC relation (the reference's native source is a
        Postgres database — psycopg2 target in __main__.py:105-113).

        With ``partition_column`` + bounds the scan parallelizes into
        ``num_partitions`` range slices; without it, JDBC reads are
        single-stream — unusable beyond lookup size. Requires the JDBC
        driver jar on the Spark classpath; this environment bundles
        none, so tests cover only the option plumbing.
        """
        reader = (
            self.spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", dbtable)
        )
        for k, v in (properties or {}).items():
            reader = reader.option(k, v)
        if partition_column is not None:
            if lower_bound is None or upper_bound is None:
                raise ValueError(
                    "partition_column requires lower_bound and upper_bound"
                )
            reader = (
                reader.option("partitionColumn", partition_column)
                .option("numPartitions", str(num_partitions))
                .option("lowerBound", str(lower_bound))
                .option("upperBound", str(upper_bound))
            )
        self._overwrite_table(reader.load(), qualified_name)

    def register_bucketed(
        self,
        qualified_name: str,
        df: DataFrame,
        bucket_cols: Sequence[str],
        num_buckets: int = 32,
    ) -> None:
        """Materialize ``df`` hash-bucketed (and sorted) by
        ``bucket_cols``.

        Two tables bucketed by the same key into the same bucket count
        join WITHOUT a shuffle on either side — the pre-partitioning
        strategy for repeated big-to-big equi-joins (e.g. mapping
        frames re-joined by every column rule, or fact-to-fact joins at
        100 TB where even one exchange of the large side dominates the
        query). Verified shuffle-free in tests/test_sources_sinks.py.
        """
        schema, _, _ = qualified_name.partition(".")
        self._catalog().ensure_schema(schema)
        self.spark.sql(f"DROP TABLE IF EXISTS {qualified_name}")
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .saveAsTable(qualified_name)
        )

    def export(
        self,
        qualified_name: str,
        path: str | Path,
        fmt: str = "parquet",
        mode: str = "overwrite",
        partition_by: Sequence[str] = (),
        options: dict[str, str] | None = None,
    ) -> None:
        """Write a catalog table to ``path`` as parquet/orc/json/csv —
        or any other Spark DataSource short name (``delta``,
        ``iceberg``, …) whose connector is on the classpath; the
        format string is passed through to ``DataFrameWriter.format``
        and Spark raises ``ClassNotFoundException`` at save time if
        the connector is absent.

        ``partition_by`` yields hive-style directory partitioning —
        the knob that makes downstream reads partition-prunable at
        100 TB (e.g. partition omop tables by year).
        """
        fmt = fmt.lower()
        if not fmt:
            raise ValueError("sink format must be a non-empty string")
        writer = self.spark.table(qualified_name).write.mode(mode).format(fmt)
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        if fmt == "csv":
            writer = writer.option("header", "true")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(str(Path(path)))

    def _overwrite_table(self, df: DataFrame, qualified_name: str) -> None:
        """``saveAsTable`` with overwrite, after
        :meth:`_Catalog.clear_table`."""
        self._catalog().clear_table(qualified_name)
        _write(df, qualified_name)

    def register_udf(self, name: str, fn: Callable, return_type: str) -> None:
        """Register a Python UDF usable from rule SQL — the portable
        replacement for pl/pgsql scripts (SURVEY §4.4)."""
        self.spark.udf.register(name, fn, return_type)

    def load_required_columns(self, csv_path: str | Path) -> None:
        """Load the (table, column) required-fields CSV driving the
        not-null finalization filter — the live version of the
        reference's dead DELETE phase (schema.py:426-428, SURVEY §2.1
        #22)."""
        for table, cols in load_required_columns_csv(csv_path).items():
            self.required_columns.setdefault(table, set()).update(cols)

    # -- execution ----------------------------------------------------------

    def _run_scripts(self, spec: DependencySpec) -> None:
        if spec.scripts and self._run_catalog is not None:
            # a script may create, drop or switch databases: forget what
            # this run knew of the catalog
            self._run_catalog = _Catalog(self.spark)
        for script in spec.scripts:
            if is_plpgsql_script(script):
                log.warning(
                    "%s: pl/pgsql script skipped — register an equivalent "
                    "Python UDF via Engine.register_udf",
                    spec.name or "<anonymous>",
                )
                continue
            try:
                self.spark.sql(translate(script))
            except Exception as exc:  # noqa: BLE001 - scripts are passthrough
                if self.strict_scripts:
                    raise RuntimeError(
                        f"{spec.name or '<anonymous>'}: setup script failed "
                        f"(pass strict_scripts=False to warn and continue): "
                        f"{script[:120]!r}"
                    ) from exc
                log.warning(
                    "%s: script failed and was skipped: %s",
                    spec.name or "<anonymous>",
                    str(exc).splitlines()[0] if str(exc) else exc,
                )

    def _run_temp_tables(self, defs) -> None:
        for t in defs:
            self.spark.sql(translate(t.query)).createOrReplaceTempView(t.alias)
            self.temp_views.add(t.alias)

    def run_dependency(self, spec: DependencySpec) -> None:
        self._catalog().use(spec.default_schema)
        self._run_scripts(spec)
        self._run_temp_tables(spec.pre_init)
        self._run_temp_tables(spec.post_init)

    def initialize_table(self, spec: TableSpec) -> None:
        """pre_init → build + persist ``mapping.<t>`` → post_init."""
        self._catalog().use(spec.default_schema)
        self._run_scripts(spec)
        self._run_temp_tables(spec.pre_init)
        compiler = TableCompiler(self.spark, spec, self.temp_views)
        self._overwrite_table(compiler.build_mapping(), compiler.mapping_name)
        for frame in compiler.persisted:
            # the surrogate-id range frame has served its purpose once
            # mapping.<t> is materialized parquet
            frame.unpersist()
        self._run_temp_tables(spec.post_init)

    def process_table(
        self, spec: TableSpec, apply_required_filter: bool = False
    ) -> DataFrame:
        """Column phase → the analyzed, unwritten ``omop.<t>`` target
        frame. An analysis error (a rule on a missing table or column)
        is raised as :class:`RuleError` naming the rules file's stem,
        the target table, the target column(s) whose match query fails
        and the first line of Spark's message."""
        self._catalog().use(spec.default_schema)
        compiler = TableCompiler(self.spark, spec, self.temp_views)
        try:
            target = compiler.build_target()
        except AnalysisException as exc:
            cols = self._failing_columns(compiler)
            where = f" column(s) {', '.join(cols)}" if cols else ""
            first = (str(exc).strip().splitlines() or [""])[0]
            raise RuleError(
                f"{spec.file_stem or spec.name}: "
                f"{TARGET_SCHEMA}.{spec.name}{where}: {first}"
            ) from exc
        if apply_required_filter:
            for col in self.required_columns.get(spec.name.lower(), set()):
                if col in (c.lower() for c in target.columns):
                    target = target.filter(target[col].isNotNull())
        return target

    def _failing_columns(self, compiler: TableCompiler) -> list[str]:
        """Target columns whose rule's match query fails analysis on
        its own (only run on the error path)."""
        cols: list[str] = []
        for slot in compiler.enabled_slots():
            if not isinstance(slot.rule, ExpressionRule):
                continue
            try:
                self.spark.sql(compiler.match_sql(slot.rule))
            except AnalysisException:
                if slot.rule.name not in cols:
                    cols.append(slot.rule.name)
        return cols

    def _write_all(self, targets: dict[str, DataFrame]) -> None:
        """``saveAsTable`` every ``{qualified name: frame}`` from a pool
        of at most ``defaultParallelism`` threads. Every write runs to
        its end; then the first failure, in submission order, is raised
        and any later ones are logged."""
        if not targets:
            return
        workers = min(len(targets), self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(workers, thread_name_prefix="omop-write") as pool:
            futures = [pool.submit(_write, df, name) for name, df in targets.items()]
        errors = [f.exception() for f in futures if f.exception() is not None]
        for exc in errors[1:]:
            log.error("another omop.* write failed too", exc_info=exc)
        if errors:
            raise errors[0]

    def run(
        self,
        specs: Iterable[TableSpec | DependencySpec],
        apply_required_filter: bool = False,
    ) -> dict[str, DataFrame]:
        """Run the full pipeline with the reference's phase barrier:
        every initialization before any column phase.

        After the barrier every table's target frame (with its
        required-column filter) is built and analyzed, serially and
        under its own ``USE``; then every ``omop.*`` table's catalog
        statements run, serially; only then are the writes submitted
        to a thread pool of ``min(len(tables), defaultParallelism)``
        workers. Errors:

        * a column-phase analysis error is a :class:`RuleError` raised
          before any ``omop.*`` table is written;
        * errors in the mapping phase (pre_init, the key sources,
          post_init) still surface during init, table by table, after
          the earlier tables' ``mapping.*`` writes: post_init views may
          read an earlier table's ``mapping.*``, so that phase cannot
          be built ahead;
        * a write that fails at run time is raised after every other
          write has finished; the first failure in table order wins.

        Within one run each schema is created and located once, and
        ``USE`` is sent only when the schema changes.
        """
        ordered = resolve_default_schemas(topo_sort(list(specs)))
        tables = [s for s in ordered if isinstance(s, TableSpec)]
        self._run_catalog = _Catalog(self.spark)
        try:
            for spec in ordered:
                if isinstance(spec, TableSpec):
                    self.initialize_table(spec)
                else:
                    self.run_dependency(spec)
            targets = {
                f"{TARGET_SCHEMA}.{spec.name}": self.process_table(
                    spec, apply_required_filter
                )
                for spec in tables
            }
            for name in targets:
                self._run_catalog.clear_table(name)
        finally:
            self._run_catalog = None
        self._write_all(targets)
        return {
            spec.name: self.spark.table(f"{TARGET_SCHEMA}.{spec.name}")
            for spec in tables
        }

    def run_rules_dir(
        self, path: str | Path, apply_required_filter: bool = False
    ) -> dict[str, DataFrame]:
        return self.run(load_rules_dir(path), apply_required_filter)
