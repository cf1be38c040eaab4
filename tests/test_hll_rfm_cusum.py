"""Round-8 batch-1 operators: HyperLogLog sketch, NTILE-from-rank,
CUSUM change points, bigram surprisal.

Each test pins the property the oracle CAN'T see: mergeability of HLL
registers, NTILE parity with Spark's own window function, brute-force
agreement for CUSUM, and hand-computed surprisal on a tiny corpus.
"""

import math
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from omop_etl_spark.operators.rank import ntile_from_rank
from omop_etl_spark.operators.sketches import hll_estimate, hll_registers
from omop_etl_spark.operators.temporal import cusum_changepoints


# ---------------------------------------------------------------- HLL
@pytest.fixture(scope="module")
def ids(spark):
    rng = random.Random(17)
    rows = [(rng.choice("ab"), rng.randrange(5000)) for _ in range(20000)]
    return rows, spark.createDataFrame(rows, "g string, v long")


def test_hll_registers_merge_with_max(spark, ids):
    """The scale contract: registers of a union are the element-wise
    MAX of the parts' registers — what lets partial sketches combine
    across executors (and micro-batches) without rescanning."""
    rows, df = ids
    # build from two arbitrary halves via a deterministic row split
    tagged = df.withColumn("half", (F.monotonically_increasing_id() % 2).cast("int"))
    r_parts = (
        hll_registers(tagged, ["g", "half"], "v")
        .groupBy("g", "bucket")
        .agg(F.max("register").alias("reg_merged"))
    )
    r_whole = hll_registers(df, ["g"], "v").withColumnRenamed("register", "reg_whole")
    diff = r_parts.join(r_whole, ["g", "bucket"], "full").where(
        F.col("reg_merged").isNull()
        | F.col("reg_whole").isNull()
        | (F.col("reg_merged") != F.col("reg_whole"))
    )
    assert diff.count() == 0


def test_hll_estimate_tracks_exact(spark, ids):
    rows, df = ids
    est = {
        r["g"]: r["est_micro"] / 1e6
        for r in hll_estimate(hll_registers(df, ["g"], "v"), ["g"]).collect()
    }
    exact = {}
    for g, v in rows:
        exact.setdefault(g, set()).add(v)
    for g, vs in exact.items():
        # b=12 -> ~1.6% standard error; allow 5 sigma
        assert abs(est[g] - len(vs)) / len(vs) < 0.10, (g, est[g], len(vs))


def test_hll_rejects_bad_b(spark, ids):
    _, df = ids
    with pytest.raises(ValueError):
        hll_registers(df, ["g"], "v", b=10)
    with pytest.raises(ValueError):
        hll_estimate(df, ["g"], b=3)


# ------------------------------------------------------- NTILE parity
@pytest.mark.parametrize("n,k", [(1, 5), (4, 5), (5, 5), (23, 5), (100, 7), (57, 10), (3, 1)])
def test_ntile_from_rank_matches_native(spark, n, k):
    df = spark.range(1, n + 1).select(F.col("id").alias("r"), F.lit(n).alias("n"))
    out = df.select(
        ntile_from_rank("r", "n", k).alias("mine"),
        F.ntile(k).over(Window.orderBy("r")).alias("native"),
    ).collect()
    assert all(row.mine == row.native for row in out)


def test_ntile_rejects_bad_k(spark):
    with pytest.raises(ValueError):
        ntile_from_rank("r", "n", 0)


# ------------------------------------------------------------- CUSUM
def test_cusum_finds_injected_shift(spark):
    rows = [("a", t, 10) for t in range(1, 21)] + [("a", t, 30) for t in range(21, 36)]
    rng = random.Random(3)
    rows += [("b", t, rng.randint(0, 5)) for t in range(1, 26)]
    df = spark.createDataFrame(rows, "g string, t int, v long")
    got = {r["g"]: r.asDict() for r in cusum_changepoints(df, ["g"], "t", "v").collect()}
    # brute-force reference
    for g in ("a", "b"):
        vs = [v for (gg, _, v) in rows if gg == g]
        n, tot, pre, best = len(vs), sum(vs), 0, None
        for t, v in enumerate(vs, 1):
            pre += v
            dev = abs(n * pre - t * tot)
            if best is None or dev > best[1]:
                best = (t, dev)
        assert got[g]["cp_at"] == best[0]
        assert got[g]["cp_dev_scaled"] == best[1]
    # the injected shift in series "a" is found at its true boundary
    assert got["a"]["cp_at"] == 20


# -------------------------------------------------- bigram surprisal
def test_bigram_surprisal_hand_computed(spark):
    from omop_etl_spark.operators.chunking import bigram_surprisal_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a"), (3, "c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in bigram_surprisal_scores(docs).collect()}
    # corpus bigrams: (a,b) x2, (b,a) x2  ->  p(b|a)=1, p(a|b)=1
    # doc 3 has no bigrams and drops out
    assert set(out) == {1, 2}
    assert out[1]["n_bigrams"] == 3 and out[2]["n_bigrams"] == 1
    # ln(1) = 0 -> all logprobs exactly 0
    assert out[1]["sum_lp_micro"] == 0 and out[2]["sum_lp_micro"] == 0


def test_bigram_surprisal_orders_matter(spark):
    """Transition-rare text scores lower than transition-frequent text
    built from the SAME unigrams — the property unigram perplexity
    cannot express."""
    from omop_etl_spark.operators.chunking import bigram_surprisal_scores

    common = " ".join(["the cat sat on the mat"] * 5)
    shuffled = " ".join(["mat the on sat cat the"] * 1)
    docs = spark.createDataFrame(
        [(1, common), (2, common), (3, shuffled)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["mean_logprob"] for r in bigram_surprisal_scores(docs).collect()}
    assert out[3] < out[1]


# ------------------------------------------------ streaming HLL twin
def test_stream_hll_registers_prefix_equals_batch(spark, tmp_path):
    """HLL registers are a pure MAX over (group, bucket) cells, so the
    BATCH operator is already a valid streaming aggregation (same
    argument as the count-min twin): run hll_registers directly on a
    stream in update mode; after every micro-batch the folded state
    (last emission per cell) must equal the batch registers over the
    prefix."""
    import os

    import pandas as pd

    d = tmp_path / "hll_in"
    d.mkdir()
    batches = [
        pd.DataFrame({"g": ["a"] * 50 + ["b"] * 30, "v": list(range(50)) + list(range(30))}),
        pd.DataFrame({"g": ["a"] * 40, "v": list(range(25, 65))}),
        pd.DataFrame({"g": ["b"] * 20, "v": list(range(100, 120))}),
    ]
    paths = []
    for i, pdf in enumerate(batches):
        p = d / f"b{i}.parquet"
        pdf.to_parquet(p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(str(p))

    stream = (
        spark.readStream.schema("g string, v long")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d))
    )
    emitted = []

    def capture(bdf, bid):
        for r in bdf.collect():
            emitted.append((bid, r["g"], r["bucket"], r["register"]))

    q = (
        hll_registers(stream, ["g"], "v")
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert max(b for b, *_ in emitted) + 1 == 3

    for upto in range(3):
        folded = {}
        for bid, g, bucket, reg in emitted:
            if bid <= upto:
                folded[(g, bucket)] = reg
        prefix = spark.read.parquet(*paths[: upto + 1])
        want = {
            (r["g"], r["bucket"]): r["register"]
            for r in hll_registers(prefix, ["g"], "v").collect()
        }
        assert folded == want, f"prefix {upto}: stream != batch registers"


# ---------------------------------------------------- running extreme
def test_running_extreme_matches_window_both_paths(spark, scan_path):
    from omop_etl_spark.operators.rank import running_extreme

    rng = random.Random(5)
    rows = [(i, rng.randint(0, 100)) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, v long")
    want_incl, want_excl, mn = [], [], None
    for k, v in sorted(rows):
        want_excl.append((k, mn))
        mn = v if mn is None else min(mn, v)
        want_incl.append((k, mn))
    for path, npart in (("window", 4), ("range", 7)):
        with scan_path(path, npart):
            got_i = {
                (r["k"], r["run_min"])
                for r in running_extreme(df, [F.col("k").asc()], "v").collect()
            }
            got_e = {
                (r["k"], r["run_min"])
                for r in running_extreme(
                    df, [F.col("k").asc()], "v", inclusive=False
                ).collect()
            }
        assert got_i == set(want_incl), f"inclusive {path}"
        assert got_e == set(want_excl), f"exclusive {path}"


def test_running_extreme_max_and_validation(spark, scan_path):
    from omop_etl_spark.operators.rank import running_extreme

    df = spark.createDataFrame([(1, 5), (2, 3), (3, 9)], "k long, v long")
    with scan_path("range", 2):
        got = {
            (r["k"], r["rmax"])
            for r in running_extreme(
                df, [F.col("k").asc()], "v", out_col="rmax", agg="max"
            ).collect()
        }
    assert got == {(1, 5), (2, 5), (3, 9)}
    with pytest.raises(ValueError):
        running_extreme(df, ["k"], "v", agg="avg")


# ------------------------------------------------------------ skyline
def test_skyline_equals_dominance_bruteforce(spark, scan_path):
    from omop_etl_spark.operators.rank import running_extreme

    rng = random.Random(11)
    pts = list({(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(300)})
    df = spark.createDataFrame(pts, "x long, y long")
    with scan_path("range", 5):
        sl = running_extreme(
            df, [F.col("x").asc(), F.col("y").asc()], "y", out_col="pm",
            inclusive=False,
        ).filter(F.col("pm").isNull() | (F.col("pm") > F.col("y")))
        got = {(r["x"], r["y"]) for r in sl.collect()}
    want = {
        (x, y)
        for x, y in pts
        if not any(
            (a <= x and b <= y and (a < x or b < y)) for a, b in pts
        )
    }
    assert got == want


# -------------------------------------------------------------- bloom
def test_bloom_no_false_negatives_and_fp_rate(spark):
    from omop_etl_spark.operators.sketches import bloom_build, bloom_probe

    members = spark.range(0, 300).select(F.col("id").alias("v"))
    others = spark.range(1000, 4000).select(F.col("id").alias("v"))
    bits = bloom_build(members, "v", m=8192, k=3)
    probed = bloom_probe(members.unionByName(others), bits, "v", m=8192, k=3)
    rows = {r["v"]: r["bloom_pass"] for r in probed.collect()}
    assert all(rows[v] for v in range(300)), "bloom false negative!"
    fp = sum(1 for v in range(1000, 4000) if rows[v])
    # n=300, m=8192, k=3 -> theoretical fp ~ 0.1%; allow generous slack
    assert fp / 3000 < 0.02, fp


def test_bloom_validates_params(spark):
    from omop_etl_spark.operators.sketches import bloom_build, bloom_probe

    df = spark.range(3).select(F.col("id").alias("v"))
    with pytest.raises(ValueError):
        bloom_build(df, "v", m=1)
    with pytest.raises(ValueError):
        bloom_probe(df, df, "v", k=0)


# --------------------------------------------- KMV sliding distinct
def test_kmv_sliding_distinct_exact_below_k_and_tracks_exact(spark):
    from datetime import date, datetime

    from omop_etl_spark.operators.sketches import kmv_sliding_distinct

    rng = random.Random(23)
    rows = []
    for d in range(1, 21):
        for _ in range(rng.randint(5, 40)):
            rows.append((datetime(2024, 1, d, 12, 0), rng.randrange(2000)))
    df = spark.createDataFrame(rows, "ts timestamp, uid long")
    got = {
        r["day"]: (r["n_kept"], r["est_distinct"])
        for r in kmv_sliding_distinct(df, "ts", "uid", window_days=7, k=64).collect()
    }
    for d in range(1, 21):
        window = {
            uid
            for ts, uid in rows
            if 0 <= (date(2024, 1, d) - ts.date()).days < 7
        }
        nk, est = got[date(2024, 1, d)]
        if len(window) < 64:
            # sketch is exact below k
            assert est == len(window), (d, est, len(window))
        else:
            assert abs(est - len(window)) / len(window) < 0.5, (d, est, len(window))


def test_kmv_sliding_rejects_bad_params(spark):
    from omop_etl_spark.operators.sketches import kmv_sliding_distinct

    df = spark.createDataFrame([], "ts timestamp, uid long")
    with pytest.raises(ValueError):
        kmv_sliding_distinct(df, "ts", "uid", k=1)
    with pytest.raises(ValueError):
        kmv_sliding_distinct(df, "ts", "uid", window_days=0)


# ---------------------------------------------------------------- EMA
def test_ema_matches_python_recursion_bitwise(spark):
    from datetime import date

    from omop_etl_spark.operators.temporal import ema_smooth

    rng = random.Random(31)
    rows = []
    for g in ("a", "b"):
        for d in range(1, 30):
            rows.append((g, date(2024, 1, d), rng.randint(0, 500)))
    df = spark.createDataFrame(rows, "g string, day date, cnt long")
    got = {
        (r["g"], r["day"]): r["ema"]
        for r in ema_smooth(df, ["g"], "day", "cnt").collect()
    }
    for g in ("a", "b"):
        series = sorted((d, v) for gg, d, v in rows if gg == g)
        e = None
        for d, v in series:
            e = float(v) if e is None else 0.25 * v + 0.75 * e
            assert got[(g, d)] == e, (g, d, got[(g, d)], e)  # BIT-exact


def test_ema_validates_alpha(spark):
    from omop_etl_spark.operators.temporal import ema_smooth

    df = spark.createDataFrame([], "g string, day date, cnt long")
    with pytest.raises(ValueError):
        ema_smooth(df, ["g"], "day", "cnt", alpha_num=4, alpha_den=4)


# --------------------------------------------------------------- Gini
def test_gini_query_matches_integer_bruteforce(spark):
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    got = e.queries()["orders_gini"](spark, sf).collect()[0].asDict()
    import duckdb

    per_c = duckdb.sql(
        f"""SELECT SUM(CAST(floor(o_totalprice*100) AS BIGINT)) AS v, o_custkey
            FROM read_parquet('{sf}/orders.parquet') GROUP BY o_custkey"""
    ).fetchall()
    vs = sorted((v, ck) for v, ck in per_c)
    n = len(vs)
    s = sum(v for v, _ in vs)
    s1 = sum(rk * v for rk, (v, _) in enumerate(vs, 1))
    want = (2_000_000 * s1) // (n * s) - (1_000_000 * (n + 1)) // n
    assert got["n_customers"] == n
    assert got["total_cents"] == s
    assert got["gini_ppm"] == want


# ------------------------------------------------- label propagation
def test_label_propagation_matches_python_simulation(spark):
    from omop_etl_spark.operators.graph import label_propagation

    rng = random.Random(41)
    nodes = list(range(30))
    und = {(a, b) for a in nodes for b in nodes if a < b and rng.random() < 0.12}
    sym = list(und) + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, rounds=3).collect()}

    # python reference: synchronous min-tiebreak LPA
    lab = {n: n for n in {x for e in sym for x in e}}
    for _ in range(3):
        from collections import Counter

        incoming = {}
        for s, d in sym:
            incoming.setdefault(d, []).append(lab[s])
        new = {}
        for n, l in lab.items():
            if n in incoming:
                # ties: highest count, then SMALLEST label
                c = Counter(incoming[n])
                bc = max(c.values())
                new[n] = min(k for k, v in c.items() if v == bc)
            else:
                new[n] = l
        lab = new
    assert got == lab


def test_label_propagation_two_cliques_find_two_communities(spark):
    from omop_etl_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(5) for b in range(5) if a != b]
    c2 = [(a, b) for a in range(10, 15) for b in range(10, 15) if a != b]
    df = spark.createDataFrame(c1 + c2, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, rounds=3).collect()}
    assert len({got[n] for n in range(5)}) == 1
    assert len({got[n] for n in range(10, 15)}) == 1
    assert got[0] != got[10]
    with pytest.raises(ValueError):
        label_propagation(df, rounds=0)


# ------------------------------------------------- distinctive terms
def test_distinctive_terms_finds_planted_keyword(spark):
    from omop_etl_spark.operators.chunking import distinctive_terms

    rows = []
    for i in range(40):
        rows.append((i, "web", "the quick brown fox jumps over the dog"))
    for i in range(40, 80):
        rows.append((i, "legal", "the plaintiff hereby moves the court for relief"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {}
    for r in distinctive_terms(df, "source", top_k=3).collect():
        out.setdefault(r["source"], []).append(r["term"])
    assert "plaintiff" in out["legal"] or "hereby" in out["legal"]
    assert "fox" in out["web"] or "quick" in out["web"]
    # a corpus-wide term is never "distinctive"
    assert "the" not in out["web"] and "the" not in out["legal"]
    with pytest.raises(ValueError):
        distinctive_terms(df, "source", top_k=0)


# ---------------------------------------------------- vocab coverage
def test_vocab_coverage_monotone_and_exact(spark):
    from omop_etl_spark.operators.chunking import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a a a a b b b c c d"), (2, "a b c d e f g h")],
        "doc_id long, text string",
    )
    out = {r["vocab_k"]: r["coverage_ppm"] for r in
           vocab_coverage(docs, checkpoints=(2, 4, 8)).collect()}
    # corpus: a x5, b x4, c x3, d x2, e-h x1 -> 18 tokens
    assert out[2] == (9 * 1_000_000) // 18
    assert out[4] == (14 * 1_000_000) // 18
    assert out[8] == 1_000_000
    assert sorted(out) == [2, 4, 8] and out[2] <= out[4] <= out[8]
    with pytest.raises(ValueError):
        vocab_coverage(docs, checkpoints=())


# ------------------------------------------------- power iteration
def test_power_iteration_finds_numpy_top_eigenvector(spark):
    import numpy as np

    from omop_etl_spark.operators.stats import power_iteration_top_eigen

    rng = np.random.default_rng(7)
    A = rng.integers(-50, 50, size=(6, 6))
    M = (A @ A.T)  # symmetric PSD, integer
    rows = [(i, j, int(M[i, j])) for i in range(6) for j in range(6)]
    df = spark.createDataFrame(rows, "i int, j int, m long")
    got = power_iteration_top_eigen(df, rounds=20).collect()
    v = np.zeros(6)
    for r in got:
        v[r["i"]] = r["v"] / 1e6
    w, vecs = np.linalg.eigh(M)
    top = vecs[:, np.argmax(w)]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.999, cos
    with pytest.raises(ValueError):
        power_iteration_top_eigen(df, rounds=0)


# ------------------------------------------------ markov stationary
def test_markov_stationary_matches_numpy(spark):
    import numpy as np

    from omop_etl_spark.operators.graph import markov_stationary

    # 3-state chain with known structure
    counts = [
        ("a", "a", 8), ("a", "b", 2),
        ("b", "a", 3), ("b", "c", 7),
        ("c", "a", 5), ("c", "b", 5),
    ]
    df = spark.createDataFrame(counts, "src string, dst string, n long")
    got = {r["state"]: r["stationary_scaled"] for r in
           markov_stationary(df, rounds=40).collect()}
    P = np.array([[0.8, 0.2, 0.0], [0.3, 0.0, 0.7], [0.5, 0.5, 0.0]])
    v = np.ones(3) / 3
    for _ in range(200):
        v = v @ P
    for i, st in enumerate(("a", "b", "c")):
        assert abs(got[st] / 1e6 - v[i]) < 1e-3, (st, got[st], v[i])
    # mass conservation up to per-state truncation
    assert 1_000_000 - 10 <= sum(got.values()) <= 1_000_000
    with pytest.raises(ValueError):
        markov_stationary(df, rounds=0)


def test_robust_group_stats_exact(spark):
    """Winsorized sum/mean + MAD against hand-computed values: outlier
    clipped to the p90 cut, negative mean floors toward -inf, MAD from
    the lower median."""
    from omop_etl_spark.operators.stats import robust_group_stats

    rows = [("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]] + [
        ("b", v) for v in [-5, -5, 0, 10]
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        r["g"]: tuple(r)[1:]
        for r in robust_group_stats(df, ["g"], "v", 0.1, 0.9).collect()
    }
    # a: cuts 1/5/9; 1000 clips to 9 -> sum 54, mean 5; MAD of
    # |v-5| = [4,3,2,1,0,1,2,3,4,995] -> rank 5 -> 2
    assert got["a"] == (10, 1, 5, 9, 54, 5, 2)
    # b: cuts -5/-5/0; clip [-5,0] -> sum -10, floor(-10/4) = -3
    # (floor, not truncate); MAD of |v+5| = [0,0,5,15] -> rank 2 -> 0
    assert got["b"] == (4, -5, -5, 0, -10, -3, 0)
