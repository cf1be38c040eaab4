"""Recommended Spark session configuration for this engine.

One place for the scale-relevant knobs so the CLI, bench, and user
sessions agree. Values are defaults, not mandates — callers override
via ``SparkSession.builder.config`` as usual.
"""

from __future__ import annotations

from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover - typing only
    from pyspark.sql import DataFrame

__all__ = [
    "recommended_conf",
    "apply_recommended",
    "checkpoint",
    "checkpoint_if_large",
    "path_bytes",
    "input_bytes",
]

#: session conf for :func:`checkpoint_if_large`'s size gate (bytes).
#: Frames whose caller-supplied INPUT-bytes ``size_hint`` falls below
#: it are returned un-checkpointed: at small tiers the duplicate
#: subtree re-reads page-cached data for less than the materialization
#: job costs, while at cluster tiers the input bytes clear any sane
#: threshold and the measured dedup-the-pass wins apply.
CHECKPOINT_MIN_BYTES_CONF = "spark.omop_etl.checkpoint.minBytes"
DEFAULT_CHECKPOINT_MIN_BYTES = 64 * 1024 * 1024

#: session conf that flips every iterative operator's checkpoint from
#: eager-local to RELIABLE (VERDICT r12 #6): local checkpoints are
#: faster (measured 5-8% on the dedup gates) but non-reliable — lose an
#: executor holding blocks and downstream stages cannot recompute. On a
#: cluster with elastic/spot executors set this to "true" AND call
#: ``spark.sparkContext.setCheckpointDir(...)`` once; every operator
#: switches with no code edit.
RELIABLE_CHECKPOINT_CONF = "spark.omop_etl.checkpoint.reliable"

# module-level guard so the cleanCheckpoints warning fires exactly once
# per process whatever the warnings filters or call sites (ADVICE r14:
# warnings.warn dedupes per call SITE under default filters and not at
# all under -W always, so the filter alone can't keep the docstring's
# once-per-session promise)
_warned_unclean_checkpoints = False


def checkpoint(df: "DataFrame", eager: bool = True) -> "DataFrame":
    """Checkpoint ``df`` per the session's reliability contract.

    Default: ``localCheckpoint(eager=...)`` — executor-local blocks, no
    DFS round-trip, the right trade on a stable cluster (and the only
    mode on local[*], which has no partial-executor-loss failure mode).
    With :data:`RELIABLE_CHECKPOINT_CONF` set to ``"true"``, uses
    reliable ``.checkpoint(eager=...)`` against the context's
    checkpoint directory instead, and raises a clear error if no
    checkpoint dir is set (failing loudly beats silently running
    non-reliable after the caller asked for reliable).

    **Reliable-mode cost contract** (ADVICE r13): every call writes the
    full frame to the checkpoint dir — in an iterative operator
    (``learn_merges``, ``kcore_peel``, the CC loops) that is one DFS
    write of the working frame PER ROUND, a real write-amplification
    cost that is the price of surviving executor loss mid-loop. And
    superseded rounds' files are NOT reclaimed by default: the
    ContextCleaner deletes a reliable checkpoint's files on RDD GC only
    when ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
    context conf, set at session BUILD time — :func:`recommended_conf`
    includes it). Without it a thousand-round loop grows the checkpoint
    dir without bound; this function warns once per session when it
    detects that combination.

    The eager/lazy decision stays with the CALLER (it is a per-loop
    job-count trade, SCALE.md §18); only the storage reliability is
    conf-driven.
    """
    spark = df.sparkSession
    if spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false") == "true":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                f"{RELIABLE_CHECKPOINT_CONF}=true but no checkpoint dir; "
                "call spark.sparkContext.setCheckpointDir(<DFS path>) first"
            )
        global _warned_unclean_checkpoints
        if (
            sc.getConf().get(
                "spark.cleaner.referenceTracking.cleanCheckpoints", "false"
            )
            != "true"
        ) and not _warned_unclean_checkpoints:
            import warnings

            warnings.warn(
                f"{RELIABLE_CHECKPOINT_CONF}=true but "
                "spark.cleaner.referenceTracking.cleanCheckpoints is not "
                "enabled: superseded iteration checkpoints are never "
                "deleted, so long loops grow the checkpoint dir without "
                "bound. Set it to 'true' at session build time "
                "(recommended_conf() includes it).",
                RuntimeWarning,
                stacklevel=2,
            )
            # set the guard only AFTER the warning was actually
            # delivered — under an 'error' warnings filter the raise
            # above propagates and the next call must retry emission
            _warned_unclean_checkpoints = True
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def checkpoint_if_large(
    df: "DataFrame",
    size_hint: "int | None",
    eager: bool = True,
    min_bytes: int | None = None,
) -> "DataFrame":
    """Size-gated :func:`checkpoint` (VERDICT r17 #3): checkpoint only
    when ``size_hint`` — the caller's measure of the INPUT bytes the
    frame re-derivation would re-read, typically the source parquet
    size — clears ``min_bytes`` (default: the
    :data:`CHECKPOINT_MIN_BYTES_CONF` session conf, falling back to
    :data:`DEFAULT_CHECKPOINT_MIN_BYTES`; pass an explicit
    ``min_bytes`` where the per-byte recompute cost is far from a
    plain scan's — e.g. tokenize-explode pipelines are ~10x a scan, so
    their gate should open earlier).

    For a multiply-consumed frame the checkpoint trades one eager
    materialization job for the consumers' duplicate subtree
    re-derivations. That trade inverts at small inputs — the duplicate
    passes re-read page-cached bytes in milliseconds while the
    materialization job pays fixed scheduling cost (the measured
    +0.6 s / +1.2 s local regressions on ``orders_market_basket`` /
    ``sketch_term_counts`` in r17).

    Why an explicit hint and not the Catalyst estimate: measured in
    r18, ``optimizedPlan().stats().sizeInBytes`` is wrong in BOTH
    directions at these sites — a join estimate multiplies to 1.5 GiB
    on a 1 MiB sf0.01 input (gate never skips), while a post-explode
    aggregate estimate collapses to ~0 even at sf1 (gate never
    fires). Input file bytes are deterministic and scale-faithful.

    Use at sites where the checkpoint exists purely to dedup
    re-derivation of a big frame. Do NOT use where the checkpoint also
    truncates loop lineage (CC/Lloyd/BPE rounds) — plan growth must be
    cut regardless of data size.
    """
    if size_hint is None:
        # unknown input size (non-file source, remote FS): checkpoint —
        # the conservative at-scale default
        return checkpoint(df, eager=eager)
    # precedence: an EXPLICITLY SET session conf overrides per-site
    # min_bytes defaults (a cluster operator setting minBytes=0 means
    # "always checkpoint", whatever each site's per-byte-cost default
    # says); otherwise the call site's min_bytes, then the module
    # default.
    conf_val = df.sparkSession.conf.get(CHECKPOINT_MIN_BYTES_CONF, None)
    if conf_val is not None:
        min_bytes = int(conf_val)
    elif min_bytes is None:
        min_bytes = DEFAULT_CHECKPOINT_MIN_BYTES
    if min_bytes > 0 and int(size_hint) < min_bytes:
        return df
    return checkpoint(df, eager=eager)


def input_bytes(df: "DataFrame") -> "int | None":
    """Bytes of the LOCAL files backing ``df``'s scan(s) — a
    :func:`checkpoint_if_large` ``size_hint`` usable at operator level
    where the caller's paths are unknown. Returns None (= "unknown,
    checkpoint") when the frame has no file inputs or they are not
    local-filesystem URIs (a remote DFS at cluster scale — where the
    checkpoint should run anyway)."""
    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - non-file sources
        return None
    if not files:
        return None
    import os

    total = 0
    for f in files:
        if f.startswith("file:"):
            p = f[5:]
            while p.startswith("//"):
                p = p[1:]
        elif f.startswith("/"):
            p = f
        else:
            return None
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def path_bytes(*paths: str) -> int:
    """Total bytes under the given files/directories — the canonical
    ``size_hint`` for :func:`checkpoint_if_large` (a parquet table's
    on-disk size, single file or part-file directory)."""
    import os

    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:  # pragma: no cover - racing deletion
                        pass
        else:
            try:
                total += os.path.getsize(p)
            except OSError:  # pragma: no cover
                pass
    return total


def recommended_conf(cores: int = 32) -> dict[str, str]:
    """Baseline config for the engine's workload shape.

    * AQE on (runtime re-plan, skew-join splitting, partition
      coalescing) — the engine relies on it for join strategy and
      post-shuffle sizing instead of hand-tuning per query.
    * ``shuffle.partitions`` starts at the core count; AQE coalesces
      down, and at cluster scale callers raise it to ~2-3x total cores
      so no post-shuffle partition exceeds executor memory.
    * 128 MiB scan partitions keep parquet splits task-sized.
    * Arrow enabled (pandas-UDF operators are Arrow-batched) with a
      bounded batch size so wide binary/multimodal rows cannot blow up
      a single batch.
    * ``cleanCheckpoints`` on: reliable-mode iterative operators
      (``conf.checkpoint``) replace their checkpoint every round; with
      the cleaner off the superseded rounds' DFS files are never
      deleted and a long loop grows the dir without bound (ADVICE
      r13). Harmless when reliable mode is off (local checkpoints are
      cleaner-managed regardless).
    * Runtime bloom-filter join reduction stays at Spark defaults
      (enabled; application-side threshold 10 GiB): on a 100 TB fact
      scan joined to a selectively-filtered dimension, Spark builds a
      bloom filter over the dim's join keys and pushes
      ``might_contain`` into the fact scan — rows that cannot match
      never reach the shuffle. Inert at bench scale by design;
      plan-asserted in ``tests/test_plan_quality.py``.
    * The generated-class cache (``codegen.cache.maxEntries``, a static
      conf) holds 1024 classes, not Spark's 100. One ``etl_omop`` pass
      of the benchmark compiles about 250 distinct classes, so with
      the default LRU every warm pass recompiled all of them with
      Janino, and the JIT compiled them again. At 1024 a warm pass
      compiles 16–38, for 2.6 MB more Metaspace (4 cores, sf0.01).
    * ``executorEnv.PYTHONPATH`` is the directory that holds this
      package, so Python workers can import it whatever the driver's
      working directory (a pandas UDF pickles the package's functions
      by reference).
    """
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        "spark.sql.codegen.cache.maxEntries": "1024",
        "spark.executorEnv.PYTHONPATH": str(Path(__file__).resolve().parents[1]),
    }


def apply_recommended(builder, cores: int = 32):
    """Fold :func:`recommended_conf` into a ``SparkSession.Builder``."""
    for k, v in recommended_conf(cores).items():
        builder = builder.config(k, v)
    return builder
