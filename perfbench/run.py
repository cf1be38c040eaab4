"""The repository benchmark: closed-loop workloads, one client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload etl_omop --seed 1 --seconds 40 --trace 0
    python3 perfbench/run.py --self-check

One process drives one Spark session at ``local[<nproc>]`` and starts
no threads of its own. A run generates its inputs from ``--seed``, sets
the session up, runs one cold pass and then at least three warm passes
until ``--seconds`` is used up, checks every output, and prints one JSON line
last on stdout. With ``--trace 0`` it holds the end-to-end metrics, with
``--trace 1`` the per-layer ones (see ``tracing.py``). Host context (load,
a CPU canary) goes to stderr. Everything the run writes lives under
``.perfbench/`` in the repository root and is removed at exit.

See ``README.md`` beside this file for workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))  # the package and gate registry under test

#: workload -> (kind, source scale factor)
WORKLOADS = {
    "etl_omop": ("etl", 0.01),
    "etl_bulk": ("etl", 0.03),
    "gates_mix": ("gates", 0.01),
}

#: registry gates of ``gates_mix``: SQL over parquet sources, text
#: operators, a checkpointed tiny-frame loop (events_stationary), Python
#: workers (multimodal_features) and a streaming replay
GATES = (
    "agg_pricing_summary", "sql_distinct_on", "docs_chunk", "dedup_exact",
    "text_langid", "events_sessionize", "events_rolling_3d", "events_stationary",
    "multimodal_features", "events_dedup_stream",
)

END_TO_END_UNITS = {
    "setup_s": "s", "cold_run_s": "s", "run_s": "s", "rows_per_s": "rows/s",
    "query_p50_s": "s", "query_p75_s": "s", "ok_frac": "ratio",
    "peak_rss_mb": "MiB", "write_bytes_per_row": "B/row",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) in MiB of this process and each
    descendant: Python, the JVM and Python workers, keyed by pid:name."""
    out = {}
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
        except (OSError, KeyError):
            continue
    return out


def parquet_files(*dirs: Path) -> list[Path]:
    return [p for d in dirs if d.exists() for p in d.rglob("*.parquet") if p.is_file()]


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``; ship the package to Python workers."""
    for sub in ("tmp", "local", "warehouse", "events", "results"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile
    tempfile.tempdir = None


def start_session(work: Path, trace: bool):
    from pyspark.sql import SparkSession

    from omop_etl_spark.conf import apply_recommended

    cores = nproc()
    b = (apply_recommended(SparkSession.builder.master(f"local[{cores}]"), cores)
         .appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "1g")
         .config("spark.sql.warehouse.dir", str(work / "warehouse"))
         .config("spark.local.dir", str(work / "local"))
         # workers import the package whatever the caller's cwd
         .config("spark.executorEnv.PYTHONPATH", str(ROOT)))
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", (work / "events").as_uri())
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def canary(spark) -> float:
    """A fixed CPU-bound job: it moves with host contention only."""
    t0 = time.perf_counter()
    spark.range(300_000_000).selectExpr("sum(id % 7)").collect()
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# ETL workloads


class Etl:
    """One generated rule set run through ``Engine.run`` per pass."""

    def __init__(self, name: str, seed: int, src: Path, work: Path):
        import rulegen
        self.files, self.required = rulegen.GENERATORS[name](seed)
        self.src, self.work = src, work
        self.tables: list[str] = []
        self.first: dict[str, tuple[int, str]] | None = None
        self.attempted = self.failed = 0
        self.rows = 0
        self.bytes = 0
        self.files_per_warm_pass = 0

    def setup(self, spark) -> None:
        import datagen

        from omop_etl_spark import Engine
        self.spark = spark
        self.engine = Engine(spark)
        for t in datagen.TABLES:
            self.engine.register_parquet(f"cerner.{t}", self.src / f"{t}.parquet")
        self.engine.required_columns.update(self.required)

    def specs(self):
        from omop_etl_spark.rules import loader
        return [loader.load_rules_text(text, name=fname.rsplit(".", 1)[0])
                for fname, text in self.files.items()]

    def run_pass(self, tracer=None) -> None:
        out = self.engine.run(self.specs(), apply_required_filter=True)
        self.tables = list(out)

    def digest(self, required_filter: bool = False) -> dict[str, tuple[int, str]]:
        """Row count and an order-free hash of every mapping/omop table;
        values are hashed as strings so column types do not matter."""
        parts = []
        for schema in ("mapping", "omop"):
            for t in self.tables:
                name = f"{schema}.{t}"
                cols = self.spark.table(name).columns
                h = ", ".join(f"CAST(`{c}` AS STRING)" for c in cols)
                where = ""
                req = self.required.get(t, set()) & {c.lower() for c in cols}
                if required_filter and schema == "omop" and req:
                    where = " WHERE " + " AND ".join(f"`{c}` IS NOT NULL" for c in sorted(req))
                parts.append(
                    f"SELECT '{name}' AS t, count(1) AS n, "
                    f"CAST(sum(CAST(xxhash64({h}) AS DECIMAL(38,0))) AS STRING) AS h "
                    f"FROM {name}{where}")
        return {r[0]: (r[1], r[2]) for r in self.spark.sql(" UNION ALL ".join(parts)).collect()}

    def after_pass(self, ok: bool) -> None:
        """Outside the timed pass: every pass must reproduce the first."""
        self.attempted += max(1, len(self.tables))
        if not ok:
            self.failed += max(1, len(self.tables))
            return
        d = self.digest()
        if self.first is None:
            self.first = d
            self.rows = sum(n for k, (n, _) in d.items() if k.startswith("omop."))
            wh = self.work / "warehouse"
            files = parquet_files(wh / "mapping.db", wh / "omop.db")
            self.bytes = sum(p.stat().st_size for p in files)
            self.files_per_warm_pass = len(files)
        else:
            self.failed += len({k.split(".", 1)[1] for k in d if d[k] != self.first.get(k)})

    def check(self) -> None:
        """The same specs through ``compile_script`` + ``run_script``:
        an independent ``row_number()`` path that must match pass one."""
        from omop_etl_spark.compile import compile_script, run_script
        if self.first is None:
            return
        self.attempted += len(self.tables)
        try:
            run_script(self.spark, compile_script(self.specs()))
            d = self.digest(required_filter=True)
        except Exception:  # noqa: BLE001 - an oracle failure fails every table
            traceback.print_exc()
            self.failed += len(self.tables)
            return
        bad = {k.split(".", 1)[1] for k in d if d[k] != self.first.get(k)}
        for t in sorted(bad):
            print(f"# mismatch vs compile_script: {t}", file=sys.stderr)
        self.failed += len(bad)

    def rows_per_pass(self) -> int:
        return self.rows

    def bytes_per_row(self) -> float:
        return self.bytes / max(1, self.rows)


# --------------------------------------------------------------------------
# gates_mix


class Gates:
    """Registry gates, each built and evaluated in full per pass."""

    def __init__(self, name: str, seed: int, src: Path, work: Path):
        self.src, self.work = src, work
        self.rng = random.Random(seed)
        self.samples: list[float] = []
        self.per_gate: dict[str, list[float]] = {}
        self.result_rows: dict[str, int] = {}
        self.errors: dict[str, str] = {}
        self.attempted = self.failed = 0
        self.passes = 0
        self.bytes = 0
        self.files_per_warm_pass = 0  # warm passes write to the noop sink

    def setup(self, spark) -> None:
        import __spark_entry__ as entry
        self.spark, self.entry = spark, entry
        entry._engine(spark, str(self.src))  # the registry's source catalog
        self.fns = entry.queries()

    def run_pass(self, tracer=None) -> None:
        """Every gate once in a seeded order. The cold pass writes each
        result as parquet for the oracle check; warm passes use the noop
        sink. A traced pass records construction and execution spans."""
        from tracing import python_nodes

        def span(name, fn, *args):
            return fn(*args) if tracer is None else tracer.call(name, fn, *args)

        order = list(GATES)
        self.rng.shuffle(order)
        cold = self.passes == 0
        self.passes += 1
        for g in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = span("gates.construct", self.fns[g], self.spark, str(self.src))
                w = df.write.mode("overwrite")
                if cold:
                    span("gates.execute", w.parquet, str(self.work / "results" / g))
                else:
                    span("gates.execute", w.format("noop").save)
                dt = time.perf_counter() - t0
                if tracer is not None:
                    tracer.count("gates.python_nodes", python_nodes(df))
            except Exception as exc:  # noqa: BLE001 - count and go on
                self.failed += 1
                self.errors.setdefault(g, f"{type(exc).__name__}: {exc}"[:300])
                print(f"# {g} failed: {self.errors[g]}", file=sys.stderr)
            else:
                self.per_gate.setdefault(g, []).append(dt)
                if not cold:
                    self.samples.append(dt)
            finally:
                self.spark.catalog.clearCache()

    def after_pass(self, ok: bool) -> None:
        pass

    def check(self) -> None:
        """Each gate's first-pass output against its DuckDB oracle twin."""
        import duckdb

        import datagen
        sys.path.insert(0, str(ROOT / "scripts"))
        from check_correctness import compare
        oracles = self.entry.oracle_sql()
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.src / (t + '.parquet')}'")
        for g in GATES:
            if g in self.errors:
                continue
            self.attempted += 1
            path = self.work / "results" / g
            try:
                sdf = self.spark.read.parquet(str(path))
                self.result_rows[g] = con.sql(
                    f"SELECT count(*) FROM '{path}/*.parquet'").fetchone()[0]
                with contextlib.redirect_stdout(sys.stderr):
                    ok, _ = compare(g, sdf, con.sql(oracles[g]))
            except Exception:  # noqa: BLE001 - a broken check is a failure
                traceback.print_exc()
                ok = False
            if not ok:
                self.failed += 1
        files = parquet_files(self.work / "results")
        self.bytes = sum(p.stat().st_size for p in files)
        con.close()

    def rows_per_pass(self) -> int:
        return sum(self.result_rows.values())

    def bytes_per_row(self) -> float:
        return self.bytes / max(1, self.rows_per_pass())


# --------------------------------------------------------------------------


def measure(wl, seconds: float, tracer=None) -> dict:
    """One cold pass, then warm passes while the next one still fits in
    ``seconds``, but at least three (in a traced run traced and untraced
    alternate, traced first). Three make the median reject one slow
    pass: a burst on the shared host, or the first warm pass, which still
    runs slower than the next. Returns pass times and, for a traced run,
    each traced pass's epoch window."""
    t_start = time.perf_counter()
    cold = None
    warm: list[float] = []
    untraced: list[float] = []
    windows: dict[int, tuple[float, float]] = {}
    peak, peak_tree = 0.0, {}
    i = 0
    while True:
        # traced and untraced warm passes alternate, traced first: warm-up
        # drift then makes the overhead estimate err high, not low
        traced = tracer is not None and i % 2 == 1
        if tracer is not None:
            tracer.enabled = traced
            tracer.pass_id = i
        w0, t0 = time.time(), time.perf_counter()
        ok = True
        try:
            wl.run_pass(tracer if traced else None)
        except Exception:  # noqa: BLE001 - the pass counts as failed
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        if tracer is not None:
            tracer.enabled = False
        if traced:
            windows[i] = (w0, time.time())
        wl.after_pass(ok)
        tree = tree_peak_rss_mb()
        if sum(tree.values()) > peak:
            peak, peak_tree = sum(tree.values()), tree
        if i == 0:
            cold = dt
        elif ok:
            (warm if tracer is None or traced else untraced).append(dt)
        i += 1
        elapsed = time.perf_counter() - t_start
        if i > 3 and elapsed + dt > seconds:
            break
        if i > 40:
            break
    return {"cold": cold, "warm": warm, "untraced": untraced, "windows": windows,
            "peak_rss_mb": peak, "peak_tree": peak_tree}


def run(args, work: Path) -> dict:
    kind, sf = WORKLOADS[args.workload]
    src = work / "sources"
    # inputs come from a child process so the generator's memory is not
    # charged to the client's peak RSS
    subprocess.run([sys.executable, str(HERE / "datagen.py"), str(src), str(sf),
                    str(args.seed)], check=True, stdout=subprocess.DEVNULL)
    load1_start = os.getloadavg()[0]
    t0 = time.perf_counter()  # pyspark and the package are not imported yet
    wl = (Etl if kind == "etl" else Gates)(args.workload, args.seed, src, work)
    spark = start_session(work, bool(args.trace))
    wl.setup(spark)
    setup_s = time.perf_counter() - t0
    try:
        tracer = patches = listener = None
        stream_events: list = []
        if args.trace:
            import tracing
            tracer = tracing.Tracer(enabled=False)
            patches = tracing.install(tracer)
            listener = tracing.streaming_listener(stream_events)
            spark.streams.addListener(listener)
        try:
            m = measure(wl, args.seconds, tracer)
        finally:
            if patches is not None:
                time.sleep(1.0)  # let queued streaming progress events arrive
                spark.streams.removeListener(listener)
                patches.restore()
        wl.check()
        canary_s = canary(spark)
    finally:
        stop_session(spark)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": nproc(),
        "load1_start": load1_start, "load1_end": os.getloadavg()[0],
        "canary_s": canary_s, "cold_s": m["cold"], "warm_s": m["warm"],
        "untraced_s": m["untraced"], "peak_tree_mb": m["peak_tree"],
        "per_gate_s": getattr(wl, "per_gate", {}),
    }), file=sys.stderr)

    run_s = statistics.median(m["warm"])
    attempted, failed = wl.attempted, wl.failed
    if args.trace:
        metrics = trace_metrics(tracer, m, stream_events, wl, work, run_s)
        units = {}
    else:
        q = m["warm"] if kind == "etl" else wl.samples
        metrics = {
            "setup_s": setup_s,
            "cold_run_s": m["cold"],
            "run_s": run_s,
            "rows_per_s": wl.rows_per_pass() / run_s,
            "query_p50_s": statistics.median(q),
            "query_p75_s": _p75(q),
            "ok_frac": 1.0 - failed / max(1, attempted),
            "peak_rss_mb": m["peak_rss_mb"],
            "write_bytes_per_row": wl.bytes_per_row(),
        }
        units = END_TO_END_UNITS
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, per_layer_unit(k))}
                    for k, v in metrics.items()},
    }


def _p75(xs: list[float]) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    return "count"


def trace_metrics(tracer, m: dict, stream_events: list, wl, work: Path,
                  run_s: float) -> dict:
    import tracing
    jobs, stages, tasks = tracing.read_event_log(work / "events")
    extra = {"spark.output_files": wl.files_per_warm_pass * len(m["windows"])}
    metrics = tracing.layer_metrics(tracer, m["windows"], jobs, stages, tasks,
                                  stream_events, extra)
    metrics["trace.overhead_s"] = run_s - statistics.median(m["untraced"])
    metrics["trace.run_s"] = run_s
    return metrics


def self_check() -> int:
    """Rule-generator self-check: deterministic, shape-stable, and every
    generated set runs at sf0.001 and matches ``compile_script``."""
    import rulegen
    print(json.dumps(rulegen.self_check()), file=sys.stderr)
    work = ROOT / ".perfbench" / f"selfcheck-{os.getpid()}"
    prepare_env(work)
    bad = 0
    try:
        spark = start_session(work, False)
        try:
            for seed in (1, 2, 3):
                src = work / f"sources-{seed}"
                subprocess.run([sys.executable, str(HERE / "datagen.py"), str(src),
                                "0.001", str(seed)], check=True, stdout=subprocess.DEVNULL)
                for name, (kind, _) in WORKLOADS.items():
                    if kind != "etl":
                        continue
                    wl = Etl(name, seed, src, work)
                    wl.setup(spark)
                    wl.run_pass()
                    wl.after_pass(True)
                    wl.check()
                    print(f"{name} seed {seed}: {wl.failed} of {wl.attempted} failed",
                          file=sys.stderr)
                    bad += wl.failed
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true",
                    help="check the rule generator instead of benchmarking")
    args = ap.parse_args()
    # the program under test must sit beside this directory
    if importlib.util.find_spec("omop_etl_spark") is None or not (
            ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: omop_etl_spark and __spark_entry__.py not found in {ROOT}",
              file=sys.stderr)
        return 2
    if args.self_check:
        return self_check()
    if args.workload is None:
        ap.error("--workload is required")
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    prepare_env(work)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
