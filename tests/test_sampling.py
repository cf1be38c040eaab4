"""Deterministic sampling / splitting / packing operators
(omop_etl_spark/operators/sampling.py)."""

from pyspark.sql import functions as F

from omop_etl_spark.operators.sampling import (
    hash_split,
    pack_sequences,
    stratified_sample,
    unit_hash,
)


def _docs(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
        (F.col("id") % 7 * 100 + 50).cast("bigint").alias("n_chars"),
    )


def test_unit_hash_range_and_determinism(spark):
    df = _docs(spark).select(unit_hash("doc_id", "s").alias("u"))
    row = df.agg(F.min("u"), F.max("u")).collect()[0]
    assert 0.0 <= row[0] and row[1] < 1.0
    a = sorted(r["u"] for r in df.collect())
    b = sorted(r["u"] for r in df.collect())
    assert a == b


def test_hash_split_partitions_everything_and_is_append_stable(spark):
    docs = _docs(spark)
    out = hash_split(docs, id_col="doc_id")
    counts = dict(
        (r["split"], r["n"])
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    )
    assert sum(counts.values()) == 400
    # ~90/5/5 with slack for a 400-row sample
    assert counts["train"] > 300
    # append-stability: the assignment of the first half is unchanged
    # when computed over the first half alone
    half = hash_split(docs.filter("doc_id < 200"), id_col="doc_id")
    full_first = {
        r["doc_id"]: r["split"] for r in out.filter("doc_id < 200").collect()
    }
    assert {r["doc_id"]: r["split"] for r in half.collect()} == full_first


def test_hash_split_weights_normalized(spark):
    docs = _docs(spark)
    a = hash_split(docs, splits={"x": 3.0, "y": 1.0}, id_col="doc_id")
    b = hash_split(docs, splits={"x": 0.75, "y": 0.25}, id_col="doc_id")
    assert a.collect() == b.collect()


def test_stratified_sample_rates_and_subset(spark):
    docs = _docs(spark)
    out = stratified_sample(
        docs, "lang", {"0": 1.0, "1": 0.0}, id_col="doc_id", default=0.5
    )
    got = dict(
        (r["lang"], r["n"])
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    )
    assert got["0"] == docs.filter("lang = '0'").count()
    assert "1" not in got
    n2 = got.get("2", 0)
    assert 0 < n2 < docs.filter("lang = '2'").count()
    # sampled rows are a subset of the input rows
    assert out.join(docs, ["doc_id", "lang", "n_chars"], "left_anti").count() == 0


def test_pack_sequences_bin_invariants(spark):
    docs = _docs(spark)
    budget = 1000
    packed = pack_sequences(docs, cost_col="n_chars", budget=budget)
    rows = sorted(
        packed.select("doc_id", "n_chars", "bin_id").collect(),
        key=lambda r: r["doc_id"],
    )
    # replay the exclusive-prefix definition on the driver
    cum = 0
    for r in rows:
        assert r["bin_id"] == cum // budget, r
        cum += r["n_chars"]
    # bins are contiguous doc ranges and each holds >= 1 doc
    bins = [r["bin_id"] for r in rows]
    assert bins == sorted(bins)
    # every closed bin's cumulative end reaches the next boundary (a
    # bin under-fills only when the previous bin's overflow row already
    # consumed part of its interval — never leaving a gap)
    cum = 0
    ends: dict[int, int] = {}
    for r in rows:
        cum += r["n_chars"]
        ends[r["bin_id"]] = cum
    last = max(ends)
    for b, end in ends.items():
        if b != last:
            assert end >= (b + 1) * budget


def test_pack_sequences_distributed_path_matches_window_path(spark, scan_path):
    docs = _docs(spark, n=600)
    got = {}
    for path in ("window", "range"):
        with scan_path(path, 5):
            packed = pack_sequences(docs, cost_col="n_chars", budget=1000)
            got[path] = sorted((r["doc_id"], r["bin_id"]) for r in packed.collect())
    assert got["window"] == got["range"]


def test_pack_sequences_oversized_row_gets_own_bin(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 5000), (3, 10)], "doc_id long, n_chars long"
    )
    packed = {
        r["doc_id"]: r["bin_id"]
        for r in pack_sequences(df, cost_col="n_chars", budget=100).collect()
    }
    assert packed[1] == 0
    assert packed[2] == 0  # starts in bin 0 (overflow row)
    assert packed[3] == 50  # next row starts a fresh bin past the giant


def test_mixture_sample_rates_and_determinism(spark):
    from omop_etl_spark.operators.sampling import mixture_sample

    rows = [(i, f"s{i % 4}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # equal natural shares (500 each); target 50% split 60/20/20/0
    weights = {"s0": 0.6, "s1": 0.2, "s2": 0.2}
    out = mixture_sample(df, "source", weights, target_frac=0.5)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # expected kept: s0 min(1, .6*1000/500)=1.0 -> 500;
    # s1/s2 rate .4 -> ~200; s3 weight 0 -> dropped entirely
    assert counts["s0"] == 500
    assert "s3" not in counts
    for s in ("s1", "s2"):
        assert 150 < counts[s] < 250, counts
    # deterministic under rerun and repartition
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in mixture_sample(
            df.repartition(7), "source", weights, target_frac=0.5
        ).collect()
    )
    assert a == b


def test_mixture_sample_never_upsamples(spark):
    from omop_etl_spark.operators.sampling import mixture_sample

    rows = [(i, "rare" if i < 20 else "common") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_sample(df, "source", {"rare": 0.9, "common": 0.1}, 0.5)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # rare target (0.9*500=450) exceeds its 20 rows -> kept whole, no repeat
    assert counts["rare"] == 20
    assert counts["common"] < 100


def test_rank_filter_exact_cut_and_tiebreak(spark):
    from omop_etl_spark.operators.sampling import rank_filter

    rows = [(i, float(i % 10)) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    out = rank_filter(df, [F.col("score").desc(), "doc_id"], 0.25, rank_col="rk")
    got = sorted((r["rk"], r["doc_id"]) for r in out.collect())
    assert len(got) == 25
    # top 25 under (score desc, doc_id asc): scores 9,8 fully (20 rows)
    # then the 5 smallest ids of score 7
    ids = {r[1] for r in got}
    assert all(i in ids for i in range(9, 100, 10))
    assert all(i in ids for i in range(8, 100, 10))
    assert {7, 17, 27, 37, 47} <= ids and 57 not in ids


def test_rank_filter_distributed_path_matches_window_path(spark, scan_path):
    from omop_etl_spark.operators.sampling import rank_filter

    rows = [(i, float((i * 37) % 101)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    order = [F.col("score").desc(), "doc_id"]
    got = {}
    for path in ("window", "range"):
        with scan_path(path, 7):
            got[path] = sorted(r["doc_id"] for r in rank_filter(df, order, 0.3).collect())
    assert got["window"] == got["range"] and len(got["window"]) == 150


def test_ntile_by_matches_global_ntile(spark):
    from pyspark.sql import Window

    from omop_etl_spark.operators.sampling import ntile_by

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r.doc_id: (r.rank, r.tile)
        for r in ntile_by(docs, "n_chars", "doc_id", tiles=7).collect()
    }
    w = Window.orderBy("n_chars", "doc_id")
    want = {
        r.doc_id: (r.rank, r.tile)
        for r in docs.select(
            "doc_id",
            F.row_number().over(w).alias("rank"),
            F.ntile(7).over(w).alias("tile"),
        ).collect()
    }
    assert got == want


def test_ntile_by_plan_has_no_global_window(spark):
    from omop_etl_spark.operators.sampling import ntile_by

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        ntile_by(docs, "n_chars", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the only single-partition exchange allowed is the vocabulary-sized
    # offsets frame; the full-data window partitions by n_chars
    assert "Window [row_number()" in plan or "row_number" in plan
    import re
    # full-data window must be hash-partitioned by the value column
    assert re.search(r"hashpartitioning\(n_chars", plan), plan


def test_leakage_safe_split_never_splits_a_cluster(spark):
    # near-duplicate docs (same cluster) must land in the same split
    from omop_etl_spark.operators.sampling import hash_split
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    clustered = spark.createDataFrame(
        [Row(doc_id=i, cluster_id=i % 311) for i in range(2000)]
    )
    out = hash_split(clustered, id_col="cluster_id", salt="leakage")
    per_cluster = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r["n_splits"] == 1 for r in per_cluster)
    # and all three splits are populated across clusters
    assert out.select("split").distinct().count() == 3


def test_token_budget_sample_matches_single_window(spark):
    import hashlib

    from omop_etl_spark.operators.sampling import token_budget_sample
    from pyspark.sql import Row

    rows = [
        Row(doc_id=i, source=f"s{i % 3}", n_chars=50 + (i * 37) % 400)
        for i in range(600)
    ]
    df = spark.createDataFrame(rows).repartition(7)
    budgets = {"s0": 5000, "s1": 3000}
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in token_budget_sample(
            df, "source", "n_chars", budgets, default_budget=2000, buckets=8
        ).collect()
    }

    def u(i):
        return int(hashlib.md5(f"budget|{i}".encode()).hexdigest()[:8], 16) / 2**32

    want = {}
    for s in ("s0", "s1", "s2"):
        b = budgets.get(s, 2000)
        cum = 0
        for r in sorted(
            (r for r in rows if r.source == s), key=lambda r: (u(r.doc_id), r.doc_id)
        ):
            cum += r.n_chars
            if cum <= b:
                want[r.doc_id] = cum
    assert got == want and len(got) > 0


def test_token_budget_sample_append_stable_prefix(spark):
    # adding new docs must never evict an already-kept doc whose hash
    # precedes the old cut... (new docs can only push the cut EARLIER,
    # never reorder kept prefixes)
    from omop_etl_spark.operators.sampling import token_budget_sample
    from pyspark.sql import Row

    base_rows = [Row(doc_id=i, source="s", n_chars=100) for i in range(100)]
    more_rows = base_rows + [Row(doc_id=1000 + i, source="s", n_chars=100) for i in range(50)]
    kept1 = {
        r["doc_id"]
        for r in token_budget_sample(
            spark.createDataFrame(base_rows), "source", "n_chars", {"s": 3000}
        ).collect()
    }
    kept2 = {
        r["doc_id"]
        for r in token_budget_sample(
            spark.createDataFrame(more_rows), "source", "n_chars", {"s": 3000}
        ).collect()
    }
    # both fill the budget exactly (uniform doc size)
    assert len(kept1) == 30 and len(kept2) == 30
    # the kept set is the 30 smallest hashes each time; any doc kept in
    # the larger corpus that also existed in the smaller one was kept there too
    assert all((d in kept1) for d in kept2 if d < 1000)


def test_weighted_sample_per_group_bounds_and_determinism(spark):
    from pyspark.sql import Row

    from omop_etl_spark.operators.sampling import weighted_sample_per_group

    rows = [
        Row(doc_id=i, src=("a" if i % 2 else "b"), w=(100 if i < 20 else 1))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows)
    out1 = sorted(
        (r.src, r.doc_id)
        for r in weighted_sample_per_group(df, "src", 10, "w").collect()
    )
    out2 = sorted(
        (r.src, r.doc_id)
        for r in weighted_sample_per_group(df, "src", 10, "w").collect()
    )
    assert out1 == out2
    from collections import Counter

    per = Counter(s for s, _ in out1)
    assert per == {"a": 10, "b": 10}
    # heavy-weight rows (doc_id < 20) should dominate both samples
    heavy = sum(1 for _, d in out1 if d < 20)
    assert heavy >= 12


def test_weighted_sample_per_group_uses_window_group_limit(spark):
    from pyspark.sql import Row

    from omop_etl_spark.operators.sampling import weighted_sample_per_group

    df = spark.createDataFrame(
        [Row(doc_id=i, src=str(i % 4), w=i + 1) for i in range(100)]
    )
    plan = (
        weighted_sample_per_group(df, "src", 5, "w")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_exact_allocation_total_and_seats(spark):
    """Exactly k rows out; per-stratum seat counts match a pure-Python
    largest-remainder reference on a lopsided population."""
    from collections import Counter

    from omop_etl_spark.operators.sampling import exact_allocation_sample

    pops = {"a": 57, "b": 29, "c": 9, "d": 5}
    rows = [(f"{s}{i}", s) for s, n in pops.items() for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    k = 17
    out = exact_allocation_sample(df, ["source"], "doc_id", k).collect()
    assert len(out) == k
    got = Counter(r["source"] for r in out)
    # python reference: Hamilton / largest remainder
    n_total = sum(pops.values())
    base = {s: (k * n) // n_total for s, n in pops.items()}
    rem = {s: (k * n) % n_total for s, n in pops.items()}
    deficit = k - sum(base.values())
    extras = sorted(pops, key=lambda s: (-rem[s], s))[:deficit]
    want = {s: base[s] + (1 if s in extras else 0) for s in pops}
    assert got == {s: c for s, c in want.items() if c > 0}
    # the reported seats column agrees with the realized allocation
    seats = {r["source"]: r["seats"] for r in out}
    assert all(seats[s] == want[s] for s in seats)


def test_exact_allocation_is_append_stable_within_stratum(spark):
    """Chosen ids are the hash-smallest per stratum: shrinking seats
    (smaller k) yields a subset of the larger k's picks per stratum."""
    from omop_etl_spark.operators.sampling import exact_allocation_sample

    rows = [(f"x{i}", "a") for i in range(40)] + [
        (f"y{i}", "b") for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    small = {
        (r["source"], r["doc_id"])
        for r in exact_allocation_sample(df, ["source"], "doc_id", 10).collect()
    }
    big = {
        (r["source"], r["doc_id"])
        for r in exact_allocation_sample(df, ["source"], "doc_id", 50).collect()
    }
    assert small <= big and len(small) == 10 and len(big) == 50


def test_waterfill_allocation_properties(spark):
    """Round 11: exact budget accounting, caps respected, and max-min
    fairness (no uncapped source differs by >1 from another uncapped
    source) across a fuzz sweep of budgets, vs a python reference."""
    import random as _random

    import pytest as _pytest

    from omop_etl_spark.operators.sampling import waterfill_allocation

    rng = _random.Random(31)
    rows = [(f"s{i:02d}", rng.randrange(1, 500)) for i in range(12)]
    total = sum(a for _, a in rows)
    df = spark.createDataFrame(rows, "g string, n long")

    def ref(budget):
        srt = sorted(rows, key=lambda x: (x[1], x[0]))
        n = len(srt)
        prev = 0
        for i, (g, a) in enumerate(srt):
            line = (budget - prev) // (n - i)
            if (i == 0 or srt[i - 1][1] <= line) and line < a:
                extra = (budget - prev) - line * (n - i)
                out = {}
                for j, (g2, a2) in enumerate(srt):
                    if j < i:
                        out[g2] = a2
                    else:
                        out[g2] = line + (1 if j - i < extra else 0)
                return out
            prev += a
        return {g: a for g, a in rows}

    for budget in (0, 1, 17, 300, total // 2, total - 1, total, total + 99):
        got = {
            r.g: r.alloc
            for r in waterfill_allocation(df, "g", "n", budget).collect()
        }
        assert got == ref(budget), budget
        assert sum(got.values()) == min(budget, total)
        caps = dict(rows)
        assert all(0 <= v <= caps[g] for g, v in got.items())
        uncapped = [v for g, v in got.items() if v < caps[g]]
        if uncapped:
            assert max(uncapped) - min(uncapped) <= 1

    with _pytest.raises(ValueError):
        waterfill_allocation(df, "g", "n", -1)
