"""Scale-growth probe (VERDICT r7 #4): measure, don't argue.

Times the heaviest registry queries at sf0.1 (driver data) and at the
generated distribution-preserving tilings (scripts/gen_scale_testdata.py,
10x/30x rows, constant dup-rate/fan-out) on the same local[32]
session, then reports the time ratio per query. On a fixed 32-thread
box a scan-bound query should grow ~<=10x for 10x data; the per-query
``expect`` notes the operators whose CONTRACT is super-linear (exact
all-pairs cosine is O(n^2) by definition) so the table separates
"algorithm is quadratic on purpose" from "plan fell over".

ALL tiers are measured in ONE run (VERDICT r12 "What's wrong" #1: a
marginal that divides a 30x numerator from one run by a 10x
denominator from another mixes warm-up states and box load — r11's
phantom 4.7x), and the 1-minute load average is sampled BEFORE the
run starts (#2: a local[32] probe drives load1 to ~20-30 by itself,
so ``load1_at_end`` cannot certify quietness; ``load1_before`` can).

100x-tier protocol note (r14): a 100x run writes GBs of shuffle and
spill, and the kernel keeps flushing those dirty pages for minutes
AFTER the probe exits (load1 stays 10-20 with zero user processes).
Back-to-back probe invocations therefore contend with the previous
invocation's writeback and read up to 2x slow/noisy; ``sync`` and
wait for load1 to settle (<~1) between invocations before trusting a
100x number. Within one invocation, persisted frames are cleared
between queries (see the ``clearCache`` below).

Writes SCALEPROBE.json (full numbers) and prints a markdown table for
SCALE.md.

Usage: python scripts/scale_probe.py [out_json] [query ...]
Tiers come from SPARK_GRAFT_PROBE_TIERS, comma-separated
``label=path`` pairs (first tier is the ratio denominator); default
``sf0_1=/root/testdata/sf0.1,sf1=<repo>/testdata_sf1``. The legacy
SPARK_GRAFT_PROBE_BIG_DIR env (single big side) is still honored.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

SF01 = "/root/testdata/sf0.1"
# SPARK_GRAFT_PROBE_BIG_DIR points the "big side" somewhere else (e.g.
# the 30x tiling from gen_scale_testdata.py) for stretch probes
SF1 = os.environ.get(
    "SPARK_GRAFT_PROBE_BIG_DIR",
    str(Path(__file__).resolve().parent.parent / "testdata_sf1"),
)


def _tiers() -> list[tuple[str, str]]:
    """Ordered (label, dir) measurement tiers; first = denominator."""
    spec = os.environ.get("SPARK_GRAFT_PROBE_TIERS")
    if spec:
        out = []
        for part in spec.split(","):
            label, _, path = part.partition("=")
            if not path:
                raise SystemExit(
                    f"bad SPARK_GRAFT_PROBE_TIERS entry {part!r}: want label=path"
                )
            out.append((label.strip(), path.strip()))
        return out
    return [("sf0_1", SF01), ("sf1", SF1)]

#: query -> expected growth note ("linear" unless the operator's
#: contract is inherently super-linear in n)
PROBE = {
    "docs_curate_full": "linear (gates+LSH+chunk; buckets banded)",
    "docs_training_export": "linear (stats-gated prefix sums)",
    "dedup_clusters": "linear (CC rounds log n)",
    "dedup_near_clusters": "linear (banded buckets)",
    "dedup_minhash_lsh": "linear (banded buckets)",
    "docs_containment_dup": "linear (prefix-filtered candidates)",
    "docs_soft_dedup_weights": "linear",
    "docs_leakage_safe_split": "linear",
    "embed_dedup_clusters": "linear pair work + n*sqrt(K) assign "
    "(two-level self-scaling cells since r12; no n^2 term)",
    "embed_project": "linear (d x d partials)",
    "etl_fk_remap": "linear (hash joins)",
    "docs_incremental_dedup": "linear",
    "docs_tfidf": "linear (term-doc pairs)",
    "ngram_jaccard_pairs": "linear-ish (prefix index; rare-gram join)",
    "docs_encode_bpe": "linear (distinct-word python, JVM stream)",
    "supplier_pareto": "linear (distributed rank above stats gate)",
    "part_golden_records": "linear (blocked comparisons)",
    "docs_bpe_fertility": "linear (distinct-word python, JVM agg)",
    "docs_pack_bpe": "linear (stats-gated prefix sum)",
    "events_value_quantiles": "linear (value-domain histogram)",
    "events_reset_cumsum": "linear (per-user partitioned windows)",
    "events_attribution": "linear (per-user carry-forward window)",
    "events_kcore": "linear-ish (3 rounds of degree agg + semi-joins)",
    # round-9 additions (VERDICT r8 #5): the heavies that landed after
    # the r8 probe, plus the two post-persistence-fix iterators
    "embed_top_eigen": "linear (one covariance pass; driver loop, cap 65,536)",
    "events_stationary": "linear (one lead() pass; driver loop, cap 65,536)",
    "parts_communities": "linear-ish (per-order pair fan-out bounded; 3 LPA rounds)",
    "docs_cdc_chunks": "linear (map-only rolling hash)",
    "docs_encode_unigram": "linear (distinct-word DP, vocab broadcast)",
    "orders_profile": "linear (one Expand+Aggregate pass)",
    "docs_learn_bpe": "linear (32 rounds over the distinct-word frame)",
    "docs_bm25_topk": "linear (query-bounded tf frame; TakeOrdered top-k)",
    "orders_trailing_spend": "linear (per-customer range window)",
    "events_gap_fill": "linear (per-key grid + two running windows)",
    "parts_item_sim": "linear-ish (per-order pair fan-out bounded)",
    "events_robust_stats": "linear (distinct-value histogram decomposition)",
    "docs_hybrid_rrf": "linear (two k-bounded rankers; k-row fusion)",
    "events_multitouch": "linear-ish (7-day-bounded per-user join fan-out)",
    "events_twap": "linear (one partitioned window + one hash agg)",
    "parts_bfs_hops": "linear-ish (per-level frontier joins on checkpointed edges)",
    "embed_pq_topk": "linear (broadcast codebooks; search scans codes only)",
    "parts_triangle_count": "E^1.5 bound (degree-ordered wedges; frames checkpointed)",
    "events_top_paths": "linear (shared user-keyed shuffle; bounded path domain)",
    # round-9 batch 2 (this session)
    "parts_sssp_nearest": "linear-ish (3 relax rounds: node-bounded dist "
    "frame vs checkpointed edges)",
    "events_rolling_median": "linear (<=7x map-side fan-out of per-day "
    "value histograms; no range self-join)",
    "cust_recs_topk": "linear-ish (item-bounded sim model; <=5-per-owned-"
    "item candidate fan-out)",
    "sketch_logq_value": "linear (one scan into bucket-bounded registers)",
    "docs_exact_alloc": "linear (two fact shuffles; seat math on the "
    "strata-bounded frame)",
    "orders_diff_columns": "linear (one key equi-join; fixed counter "
    "vector aggregate)",
    # round-11 additions
    "sketch_vocab_diff": "linear (one distinct scan; pair algebra on "
    "O(sources^2 k) sketch rows)",
    "events_busy_time": "linear (per-user islands windows; integer "
    "micros arithmetic)",
    "embed_semdedup": "linear pair work (self-scaling cells ~150 rows); "
    "assign n*sqrt(K) since r12 (two-level) — no quadratic residual",
    # round-12 additions
    "embed_kmeans2": "n*sqrt(K) assign at both levels; sqrt(K)-row "
    "broadcast (coarse) + cell-id equi-join (fine)",
    "events_sessionize_stream": "linear (AvailableNow replay into "
    "session_window; state per open session)",
    "docs_source_influence": "linear (Zipf-bounded term-type frames; "
    "one term-keyed join, map-side-combined source agg)",
    "docs_contamination_spans": "linear (positional gram explode; "
    "islands window over FLAGGED positions only)",
    "events_busy_time_stream": "linear (AvailableNow replay into the "
    "pure-JVM dynamic-gap session_window aggregation; one state-store "
    "session per island, no Python worker)",
    "agg_weighted_quantiles": "linear (weighted value-domain histogram; "
    "two-level bucketed cumsum over the distinct-price spine)",
    "docs_segment_pieces": "linear (distinct-word DP + backtrack, "
    "broadcast vocab; type frame saturates under the tiling)",
    "docs_learn_unigram": "linear (2 hard-EM rounds over the "
    "distinct-word frame; zero driver round-trips)",
    "docs_waterfill_mix": "linear (one token-count shuffle; waterline "
    "math on the sources-bounded frame)",
    "docs_greedy_chain": "linear-ish (bigram-type model checkpointed; "
    "decode steps join sources-bounded frames)",
    # round-13 additions
    "embed_semdedup_capped": "linear per-cell work (flat k=8 pinned; "
    "oversized cells star-link to the hub instead of all-pairs)",
    "events_latest_state_stream": "linear (AvailableNow replay into the "
    "pure-JVM max(struct) streaming aggregation since r17; one "
    "(ord,value) pair of state-store state per key, no Python worker)",
    # round-16 additions (VERDICT r15 #5: the streaming replay path had
    # sf1 value checks but no timing tier; the hazard WAS per-key Python
    # group overhead scaling with the live-key set — removed in r17 for
    # the no-TTL reducers: cdc sf10 453.5s -> 14.3s, see
    # SCALEPROBE_stream_r17.json)
    "orders_cdc_state_stream": "linear (AvailableNow replay into the "
    "pure-JVM max(struct) streaming aggregation since r17; one "
    "(ord,op,value) triple of state-store state per key, no Python "
    "worker)",
    "events_burst_dedup_stream": "linear (AvailableNow replay into the "
    "pure-JVM session_window aggregation since r18; sessions merge in "
    "the state store, no per-key Python dispatch)",
    "events_kmv_distinct_stream": "linear (AvailableNow replay; JVM-side "
    "md5, per-key k-smallest state in applyInPandasWithState — the "
    "documented modest-key-cardinality contract)",
}


def main() -> None:
    """Probe all PROBE queries, or only those named on the command
    line (``scale_probe.py out.json name ...``) — named runs MERGE
    into the existing out_json so incremental re-probes don't drop
    prior rows."""
    out_json = sys.argv[1] if len(sys.argv) > 1 else "SCALEPROBE.json"
    only = set(sys.argv[2:])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    tiers = _tiers()
    try:
        # sampled BEFORE any Spark work: the only unambiguous quiet
        # signal (the probe itself drives load1 to ~20-30 on local[32])
        load1_before = round(os.getloadavg()[0], 1)
    except OSError:
        load1_before = -1.0
    from omop_etl_spark.conf import apply_recommended

    spark = (
        apply_recommended(SparkSession.builder.master(f"local[{cpus}]"), int(cpus))
        .config("spark.sql.warehouse.dir", "/tmp/scaleprobe-wh")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .appName("omop-etl-spark-scale-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _identity(batches):
        yield from batches

    spark.range(256).repartition(int(cpus)).mapInPandas(_identity, "id long").count()

    qs = entrymod.queries()
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

    def timed(fn, d):
        fn(spark, d).write.format("noop").mode("overwrite").save()  # warm
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    rows = []
    base_label = tiers[0][0]
    for name, note in PROBE.items():
        if only and name not in only:
            continue
        try:
            # every tier timed back-to-back in THIS run: ratios and
            # marginals always compare same-warm-up, same-load numbers
            row: dict = {"query": name}
            prev_t = prev_label = None
            for label, d in tiers:
                t = timed(qs[name], d)
                row[f"{label}_s"] = t
                base_t = row[f"{base_label}_s"]
                if label != base_label:
                    row[f"ratio_{label}"] = (
                        round(t / base_t, 1) if base_t > 0 else -1.0
                    )
                if prev_t is not None:
                    row[f"marginal_{prev_label}_to_{label}"] = (
                        round(t / prev_t, 1) if prev_t > 0 else -1.0
                    )
                prev_t, prev_label = t, label
            if len(tiers) == 2:  # legacy field names kept for SCALE.md diffs
                row["ratio"] = row.get(f"ratio_{tiers[1][0]}", -1.0)
            row["expect"] = note
            rows.append(row)
            series = " -> ".join(f"{row[f'{lb}_s']}s" for lb, _ in tiers)
            print(f"# {name}: {series}  [{note}]", file=sys.stderr, flush=True)
        except Exception as exc:  # noqa: BLE001
            rows.append({"query": name, "error": f"{type(exc).__name__}: {exc}"[:200]})
            print(f"# {name}: FAILED {exc}", file=sys.stderr, flush=True)
        finally:
            # drop this query's persisted blocks before the next one:
            # operators persist candidate/posting frames that are only
            # reclaimed when the result frame is GC'd, and at the 100x
            # tier two queries' worth of lingering blocks OOM'd a
            # 16 GiB probe JVM (r14). Between-query isolation also
            # keeps each row's numbers independent of probe order.
            spark.catalog.clearCache()

    try:
        load1 = round(os.getloadavg()[0], 1)
    except OSError:
        load1 = -1.0
    if only and Path(out_json).exists():
        prev = json.loads(Path(out_json).read_text())
        # only merge kept rows measured under the SAME tier spec —
        # rows keyed by other tiers would render blank/misaligned
        # cells and mix incomparable numbers (ADVICE r13)
        want = {f"{lb}_s" for lb, _ in tiers}
        kept = [
            r
            for r in prev.get("rows", [])
            if r.get("query") not in only
            and ("error" in r or want <= set(r))
        ]
        dropped = len(prev.get("rows", [])) - len(kept) - sum(
            1 for r in prev.get("rows", []) if r.get("query") in only
        )
        if dropped:
            print(
                f"# dropped {dropped} kept row(s) with stale tier keys",
                file=sys.stderr,
            )
        rows = kept + rows
    doc = {"cpus": int(cpus), "runs_best_of": runs,
           "load1_before": load1_before, "load1_at_end": load1,
           "tiers": {label: d for label, d in tiers}, "rows": rows}
    Path(out_json).write_text(json.dumps(doc, indent=1) + "\n")

    hdr = " | ".join(f"{lb} s" for lb, _ in tiers)
    print(f"| query | {hdr} | ratio | expected shape |")
    print("| --- |" + " --- |" * (len(tiers) + 2))
    for r in rows:
        if "error" in r:
            # ERROR fills the first tier cell; the remaining tier
            # cells + the ratio cell stay empty so the row aligns
            # with the header at any tier count (ADVICE r13)
            filler = "  |" * len(tiers)
            print(f"| {r['query']} | ERROR |{filler} {r['error']} |")
        else:
            cells = " | ".join(str(r.get(f"{lb}_s", "")) for lb, _ in tiers)
            last = tiers[-1][0]
            print(
                f"| {r['query']} | {cells} "
                f"| {r.get(f'ratio_{last}', r.get('ratio', ''))}x | {r['expect']} |"
            )
    spark.stop()


if __name__ == "__main__":
    main()
