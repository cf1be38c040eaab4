"""Traced runs: spans around each layer's public functions, Spark
event-log metrics and streaming progress, folded into per-layer numbers.

Spans are recorded from the benchmark side only: :func:`install` wraps
each public function where its callers look it up (every module
attribute bound to the function, so ``from x import f`` call sites are
covered) and the PySpark boundary methods on their classes.
The handle :func:`install` returns restores the originals. Spans live
in memory; nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

#: the layers, named after the repository's modules
LAYERS = ("rules", "dialect", "planner", "engine", "sources", "conf",
          "gates", "streaming", "spark")

_DDL = re.compile(r"\s*(DROP|CREATE|DESCRIBE|USE|ALTER)\b", re.I)
_PY_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas(?:WithState)?)\b")
_ACTIONS = ("collect", "count", "first", "take", "toPandas")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark's event timestamps
    end: float = 0.0
    parent: int = -1
    pass_id: int = -1


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counts: Counter = field(default_factory=Counter)
    stack: list[int] = field(default_factory=list)
    pass_id: int = -1
    enabled: bool = True

    def begin(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else -1
        self.spans.append(Span(name, time.time(), parent=parent, pass_id=self.pass_id))
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def finish(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self.stack.pop()

    def active(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self.stack)

    def count(self, key: str, n: int = 1) -> None:
        if self.enabled and self.pass_id >= 0:
            self.counts[(self.pass_id, key)] += n

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside span ``name``; nested calls of the same span
        name are not recorded again."""
        if not self.enabled or self.active(name):
            return fn(*args, **kwargs)
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.finish(idx)


class _Patches:
    def __init__(self):
        self.undo: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self.undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def everywhere(self, fn, wrapper) -> None:
        """Rebind every module attribute that is ``fn`` to ``wrapper``."""
        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not d or not getattr(mod, "__name__", "").startswith(
                    ("omop_etl_spark", "__spark_entry__")):
                continue
            for attr, val in list(d.items()):
                if val is fn:
                    self.set(mod, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self.undo):
            setattr(owner, attr, orig)
        self.undo.clear()


def _wrap(tr: Tracer, name: str, fn, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tr.enabled or tr.active(name):
            return fn(*args, **kwargs)
        idx = tr.begin(name)
        try:
            out = fn(*args, **kwargs)
        finally:
            tr.finish(idx)
        if after is not None:
            after(args, kwargs, out)
        return out
    return wrapper


def install(tr: Tracer) -> _Patches:
    """Wrap every traced entry point; returns the handle to undo it."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from omop_etl_spark import conf, dialect, engine, sources
    from omop_etl_spark.planner import compiler, surrogate
    from omop_etl_spark.rules import loader

    p = _Patches()
    for fn, name in (
        (loader.load_rules_text, "rules.parse"),
        (loader.topo_sort, "rules.order"),
        (loader.resolve_default_schemas, "rules.order"),
        (dialect.translate, "dialect.translate"),
    ):
        p.everywhere(fn, _wrap(tr, name, fn))
    p.everywhere(sources.read_parquet_table, _wrap(
        tr, "sources.read", sources.read_parquet_table,
        lambda a, k, out: tr.count("sources.reads")))
    p.everywhere(conf.checkpoint, _wrap(tr, "conf.checkpoint", conf.checkpoint,
                                        lambda a, k, out: tr.count("conf.checkpoints")))
    p.everywhere(conf.checkpoint_if_large, _wrap(
        tr, "conf.checkpoint", conf.checkpoint_if_large,
        lambda a, k, out: tr.count("conf.checkpoint_skips", int(out is a[0]))))

    def surrogate_after(args, kwargs, out):
        grew = bool(kwargs.get("persist_registry"))
        tr.count("planner.surrogate_range" if grew else "planner.surrogate_window")
    p.everywhere(surrogate.with_surrogate_id,
                 _wrap(tr, "planner.surrogate", surrogate.with_surrogate_id, surrogate_after))

    TC = compiler.TableCompiler
    p.set(TC, "build_mapping", _wrap(tr, "planner.mapping_build", TC.build_mapping))
    p.set(TC, "build_target", _wrap(tr, "planner.target_build", TC.build_target))

    def groups_after(args, kwargs, out):
        tr.count("planner.match_groups")
        tr.count("planner.rules", len(args[1]))
    p.set(TC, "group_match_frame",
          _wrap(tr, "planner.match_group", TC.group_match_frame, groups_after))

    E = engine.Engine
    p.set(E, "run", _wrap(tr, "engine.run", E.run))
    p.set(E, "initialize_table", _wrap(tr, "engine.init", E.initialize_table,
                                       lambda a, k, out: tr.count("engine.tables")))
    p.set(E, "process_table", _wrap(tr, "engine.process", E.process_table))
    p.set(E, "run_dependency", _wrap(tr, "engine.dependency", E.run_dependency))

    sql = SparkSession.sql

    @functools.wraps(sql)
    def traced_sql(self, sqlQuery, *args, **kwargs):
        in_engine = any(tr.spans[i].name.startswith("engine.") for i in tr.stack)
        if in_engine and _DDL.match(sqlQuery):
            tr.count("engine.ddl_calls")
            return tr.call("engine.ddl", sql, self, sqlQuery, *args, **kwargs)
        return tr.call("spark.sql", sql, self, sqlQuery, *args, **kwargs)
    p.set(SparkSession, "sql", traced_sql)
    parquet = DataFrameReader.parquet

    @functools.wraps(parquet)
    def traced_parquet(self, *paths, **options):
        if not tr.active("sources.read"):
            tr.count("sources.reads")
        return tr.call("sources.read", parquet, self, *paths, **options)
    p.set(DataFrameReader, "parquet", traced_parquet)
    p.set(DataFrameWriter, "saveAsTable",
          _wrap(tr, "engine.write", DataFrameWriter.saveAsTable))
    for action in _ACTIONS:
        orig = DataFrame.__dict__[action]

        def make(orig=orig):
            @functools.wraps(orig)
            def traced_action(self, *args, **kwargs):
                if tr.active("gates.construct") and not tr.active("spark.action"):
                    tr.count("gates.driver_actions")
                return tr.call("spark.action", orig, self, *args, **kwargs)
            return traced_action
        p.set(DataFrame, action, make())
    return p


def python_nodes(df) -> int:
    """Python-boundary operators in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_PY_NODES.findall(plan))


def streaming_listener(store: list):
    """A ``StreamingQueryListener`` appending ``(kind, epoch_s, info)``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            store.append(("started", time.time(), {}))

        def onQueryProgress(self, event):
            prog = event.progress
            ops = prog.stateOperators or []
            store.append(("progress", time.time(), {
                "duration": dict(prog.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_mem": sum(o.memoryUsedBytes for o in ops),
                "id": str(prog.id),
            }))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


# --------------------------------------------------------------------------
# folding spans, event log and streaming events into per-layer metrics


def _self_times(spans: list[Span]) -> list[float]:
    out = [s.end - s.start for s in spans]
    for s in spans:
        if s.parent >= 0:
            out[s.parent] -= s.end - s.start
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: Path) -> tuple[list[dict], list[float], list[dict]]:
    """``(jobs, stage completion times, tasks)`` from the Spark event log
    files under ``log_dir`` (plain or rolling layout), in epoch seconds."""
    jobs: dict[int, dict] = {}
    stages: list[float] = []
    tasks: list[dict] = []
    files = sorted(p for p in log_dir.rglob("*") if p.is_file()
                   and not p.name.startswith(("appstatus", ".")))
    lines = (line for f in files for line in f.read_text().splitlines())
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1000.0, "end": None}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            stages.append(ev["Stage Info"].get("Completion Time", 0) / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            dur = info["Finish Time"] - info["Launch Time"]
            overhead = (run + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + (info["Finish Time"] - info["Getting Result Time"]
                           if info.get("Getting Result Time") else 0))
            sr = m.get("Shuffle Read Metrics") or {}
            tasks.append({
                "launch": info["Launch Time"] / 1000.0,
                "failed": bool(info.get("Failed")),
                "run_s": run / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "sched_s": max(0, dur - overhead) / 1000.0,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            })
    return [j for j in jobs.values() if j["end"] is not None], stages, tasks


def layer_metrics(tr: Tracer, passes: dict[int, tuple[float, float]],
                  jobs: list[dict], stages: list[float], tasks: list[dict],
                  stream_events: list,
                  extra_counts: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics per traced pass (the mean over ``passes``, which
    maps pass id -> (epoch start, epoch end))."""
    n = max(1, len(passes))
    spans = [s for s in tr.spans if s.pass_id in passes and s.end]
    selfs = _self_times(tr.spans)
    idx = {id(s): i for i, s in enumerate(tr.spans)}
    dur: Counter = Counter()
    self_by: Counter = Counter()
    calls: Counter = Counter()
    for s in spans:
        dur[s.name] += s.end - s.start
        self_by[s.name] += selfs[idx[id(s)]]
        calls[s.name] += 1
    counts: Counter = Counter()
    for (pid, key), v in tr.counts.items():
        if pid in passes:
            counts[key] += v

    def in_pass(t: float) -> bool:
        return any(a <= t <= b for a, b in passes.values())

    # attribute each job to the innermost span open at its submission
    job_names: Counter = Counter()
    pjobs = [j for j in jobs if in_pass(j["start"])]
    for j in pjobs:
        best = None
        for s in spans:
            if s.start <= j["start"] <= s.end and (best is None or s.start >= best.start):
                best = s
        chain = set()
        while best is not None:
            chain.add(best.name)
            best = tr.spans[best.parent] if best.parent >= 0 else None
        for name in chain:
            job_names[name] += 1
    ptasks = [t for t in tasks if in_pass(t["launch"])]
    prog = [e for e in stream_events if e[0] == "progress" and in_pass(e[1])]
    # state-store size: each query's largest report, summed over queries
    state_rows: dict[str, int] = {}
    state_mem: dict[str, int] = {}
    for _, _, info in prog:
        q = info["id"]
        state_rows[q] = max(state_rows.get(q, 0), info["state_rows"])
        state_mem[q] = max(state_mem.get(q, 0), info["state_mem"])
    pass_wall = sum(b - a for a, b in passes.values())
    job_wall = _union([(j["start"], j["end"]) for j in pjobs])
    m = {
        "rules.parse_s": dur["rules.parse"],
        "rules.order_s": dur["rules.order"],
        "rules.files": calls["rules.parse"],
        "dialect.translate_s": dur["dialect.translate"],
        "dialect.translate_calls": calls["dialect.translate"],
        "planner.mapping_build_s": dur["planner.mapping_build"],
        "planner.target_build_s": dur["planner.target_build"],
        "planner.surrogate_s": dur["planner.surrogate"],
        "planner.surrogate_window": counts["planner.surrogate_window"],
        "planner.surrogate_range": counts["planner.surrogate_range"],
        "planner.match_groups": counts["planner.match_groups"],
        "planner.rules": counts["planner.rules"],
        "engine.init_s": dur["engine.init"],
        "engine.process_s": dur["engine.process"],
        "engine.dependency_s": dur["engine.dependency"],
        "engine.ddl_s": dur["engine.ddl"],
        "engine.ddl_calls": counts["engine.ddl_calls"],
        "engine.write_s": dur["engine.write"],
        # the engine's own code: DDL and writes are child spans
        "engine.self_s": sum(self_by[k] for k in ("engine.run", "engine.init",
                                                   "engine.process", "engine.dependency")),
        "engine.tables": counts["engine.tables"],
        "sources.reads": counts["sources.reads"],
        "sources.read_s": dur["sources.read"],
        "sources.read_jobs": job_names["sources.read"],
        "conf.checkpoints": counts["conf.checkpoints"],
        "conf.checkpoint_s": dur["conf.checkpoint"],
        "conf.checkpoint_skips": counts["conf.checkpoint_skips"],
        "gates.construct_s": dur["gates.construct"],
        "gates.execute_s": dur["gates.execute"],
        "gates.construct_jobs": job_names["gates.construct"],
        "gates.execute_jobs": job_names["gates.execute"],
        "gates.driver_actions": counts["gates.driver_actions"],
        "gates.python_nodes": counts["gates.python_nodes"],
        "streaming.queries": sum(1 for e in stream_events
                                 if e[0] == "started" and in_pass(e[1])),
        "streaming.batches": len(prog),
        "streaming.trigger_s": sum(e[2]["duration"].get("triggerExecution", 0) for e in prog) / 1e3,
        "streaming.add_batch_s": sum(e[2]["duration"].get("addBatch", 0) for e in prog) / 1e3,
        "streaming.planning_s": sum(e[2]["duration"].get("queryPlanning", 0) for e in prog) / 1e3,
        "streaming.wal_s": sum(e[2]["duration"].get("walCommit", 0) for e in prog) / 1e3,
        "streaming.state_rows": sum(state_rows.values()),
        "streaming.state_mem_bytes": sum(state_mem.values()),
        "spark.jobs": len(pjobs),
        "spark.stages": sum(1 for t in stages if in_pass(t)),
        "spark.tasks": len(ptasks),
        "spark.task_failures": sum(t["failed"] for t in ptasks),
        "spark.job_wall_s": job_wall,
        "spark.no_job_s": pass_wall - job_wall,
        "spark.executor_run_s": sum(t["run_s"] for t in ptasks),
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in ptasks),
        "spark.gc_s": sum(t["gc_s"] for t in ptasks),
        "spark.scheduler_delay_s": sum(t["sched_s"] for t in ptasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in ptasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in ptasks),
        "spark.spill_bytes": sum(t["spill"] for t in ptasks),
        "spark.input_bytes": sum(t["input"] for t in ptasks),
        "spark.output_bytes": sum(t["output"] for t in ptasks),
    }
    for layer in LAYERS:
        m.setdefault(f"{layer}.self_s", sum(
            v for k, v in self_by.items() if k.startswith(layer + ".")))
    m.update(extra_counts)
    m = {k: v / n for k, v in m.items()}
    return m
