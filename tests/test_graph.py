"""PageRank (operators/graph.py): exact integer semantics vs a pure-
Python reference, plus structural properties."""

import pytest
from pyspark.sql import functions as F

from omop_etl_spark.operators.graph import pagerank

SCALE = 1_000_000


def _py_pagerank(edges, iterations=3, dn=17, dd=20, scale=SCALE):
    """Row-order-independent reference: same integer floor arithmetic."""
    import math

    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {v: math.floor(scale / n) for v in nodes}
    base = math.floor(scale * (dd - dn) / (dd * n))
    for _ in range(iterations):
        inc = {v: 0 for v in nodes}
        for s, d in edges:
            inc[d] += math.floor((rank[s] * dn) / (dd * deg[s]))
        rank = {v: base + inc[v] for v in nodes}
    return rank


@pytest.mark.parametrize(
    "edges",
    [
        # directed triangle
        [("a", "b"), ("b", "c"), ("c", "a")],
        # hub-and-spoke with a dangling node d
        [("a", "h"), ("b", "h"), ("c", "h"), ("h", "a"), ("h", "d")],
        # bipartite with multiplicity-free both directions
        [("u1", "t1"), ("u2", "t1"), ("t1", "u1"), ("t1", "u2"), ("u1", "t2"), ("t2", "u1")],
    ],
)
def test_pagerank_matches_python_reference(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank_scaled for r in pagerank(df, iterations=3).collect()}
    assert got == _py_pagerank(edges)


def test_pagerank_uniform_on_cycle(spark):
    # on a k-cycle every node keeps the uniform rank (fixpoint of the
    # update): floor arithmetic preserves exact symmetry
    k = 7
    edges = [(str(i), str((i + 1) % k)) for i in range(k)]
    df = spark.createDataFrame(edges, "src string, dst string")
    ranks = {r.rank_scaled for r in pagerank(df, iterations=4).collect()}
    assert len(ranks) == 1


def test_pagerank_mass_bounded(spark):
    # dangling mass is dropped, never created: total rank is bounded by
    # the initial mass and stays positive
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = pagerank(df, iterations=5).collect()
    total = sum(r.rank_scaled for r in out)
    assert 0 < total <= SCALE
    assert all(r.rank_scaled > 0 for r in out)


def test_pagerank_checkpointing_same_result(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    plain = {r.node: r.rank_scaled for r in pagerank(df, iterations=4).collect()}
    ckpt = {
        r.node: r.rank_scaled
        for r in pagerank(df, iterations=4, checkpoint_every=2).collect()
    }
    assert plain == ckpt


def test_unigram_and_rare_tokens_match_python(spark):
    from collections import Counter
    import math

    from omop_etl_spark.operators.chunking import (
        rare_token_stats,
        unigram_logprob_scores,
    )

    rows = [
        (1, "The cat sat on the mat"),
        (2, "the dog ate the cat"),
        (3, "zyx qwv unique tokens here"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    import re

    doc_toks = {i: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t] for i, s in rows}
    cf = Counter(t for ts in doc_toks.values() for t in ts)
    total = sum(cf.values())
    lp = {t: math.floor(math.log(c / total) * 1_000_000) for t, c in cf.items()}

    got = {r.doc_id: r for r in unigram_logprob_scores(df).collect()}
    for i, ts in doc_toks.items():
        want = round(sum(lp[t] for t in ts) / (len(ts) * 1_000_000.0), 6)
        assert got[i].n_tokens == len(ts)
        assert got[i].mean_logprob == pytest.approx(want, abs=1e-9)
    # doc 3 is all rare tokens -> lowest mean logprob
    assert got[3].mean_logprob == min(r.mean_logprob for r in got.values())

    rare = {r.doc_id: r for r in rare_token_stats(df, rare_max_count=1).collect()}
    for i, ts in doc_toks.items():
        n_rare = sum(1 for t in ts if cf[t] == 1)
        assert rare[i].n_rare == n_rare
        assert rare[i].n_tokens == len(ts)


def test_count_triangles_known_graph(spark):
    from omop_etl_spark.operators.graph import count_triangles

    # K4 has 4 triangles; add a pendant edge and a duplicate/self edge
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b]
        + [(3, 4), (4, 3), (2, 2)],
        "src int, dst int",
    )
    row = count_triangles(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 7, 4)


def test_count_triangles_matches_naive_on_coorder_graph(spark):
    from omop_etl_spark.operators.graph import count_triangles
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")).distinct()
    pairs = (
        b.alias("a")
        .join(b.alias("c"), (F.col("a.ok") == F.col("c.ok")) & (F.col("a.p") < F.col("c.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("c.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
    )
    got = count_triangles(pairs, "u", "v").collect()[0]
    e = pairs
    naive = (
        e.alias("e1")
        .join(e.alias("e2"), (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")))
        .join(
            e.alias("e3"),
            (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .count()
    )
    assert got.n_triangles == naive


def test_kcore_peel_matches_python(spark):
    from omop_etl_spark.operators.graph import kcore_peel

    # undirected (symmetric) graph: a 4-clique with pendant chains —
    # k=3 peeling must strip the chains and keep the clique
    und = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
           (3, 4), (4, 5), (5, 6), (2, 7)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")

    def py_peel(es, k, rounds):
        es = set(es)
        for _ in range(rounds):
            deg = {}
            for a, _b in es:
                deg[a] = deg.get(a, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            es = {(a, b) for a, b in es if a in keep and b in keep}
        return es

    for k, rounds in [(3, 1), (3, 3), (2, 2), (5, 2)]:
        got = {(r.src, r.dst) for r in kcore_peel(df, k, rounds).collect()}
        assert got == py_peel(edges, k, rounds), (k, rounds)
    # the 3-core after enough rounds is exactly the clique
    final = {(r.src, r.dst) for r in kcore_peel(df, 3, 4).collect()}
    assert {a for a, _ in final} == {0, 1, 2, 3}


def test_cooccurrence_topk_similar(spark):
    """cos_ppm = floor(c12*1e6/sqrt(c1*c2)); per-item top-k both
    directions; min_pairs prunes; duplicate basket rows collapse."""
    import math

    from omop_etl_spark.operators.graph import cooccurrence_topk_similar

    rows = [
        (1, "x"), (1, "y"), (1, "z"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "y"), (3, "y"),  # dup collapses
        (4, "x"), (4, "q"),
        (5, "x"), (5, "q"),
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {
        (r["item"], r["other"]): (r["n_both"], r["cos_ppm"], r["rank"])
        for r in cooccurrence_topk_similar(df, k=2, min_pairs=2).collect()
    }
    # totals: x=5, y=3, z=1, q=2; pairs>=2: (x,y)=3, (x,q)=2
    exp_xy = math.floor(3 * 1_000_000.0 / math.sqrt(5 * 3))
    exp_xq = math.floor(2 * 1_000_000.0 / math.sqrt(5 * 2))
    assert got[("x", "y")] == (3, exp_xy, 1)
    assert got[("y", "x")] == (3, exp_xy, 1)
    assert got[("x", "q")] == (2, exp_xq, 2)
    assert got[("q", "x")] == (2, exp_xq, 1)
    # (x,z) and (y,z) pruned by min_pairs
    assert ("x", "z") not in got and ("z", "x") not in got


def test_bfs_hops_path_graph(spark):
    """Path a-b-c-d-e plus isolated pair f-g: hops from seed {a} are
    exact shortest distances; f/g unreachable within max_hops."""
    from omop_etl_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("f", "g")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {
        (r["node"], r["hop"])
        for r in bfs_hops(edges, seeds, max_hops=3).collect()
    }
    assert out == {("a", 0), ("b", 1), ("c", 2), ("d", 3)}


def test_bfs_hops_multi_source_min_hop(spark):
    """Two seeds on a cycle: every node gets the MIN hop over seeds,
    and the frontier-exhaustion break stops early without error."""
    from omop_etl_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",), ("c",)], "node string")
    out = {
        (r["node"], r["hop"])
        for r in bfs_hops(edges, seeds, max_hops=5).collect()
    }
    assert out == {("a", 0), ("c", 0), ("b", 1), ("d", 1)}


def test_bfs_hops_directionless(spark):
    """Edges are treated as undirected: seed at the sink still reaches
    the source."""
    from omop_etl_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame([("u", "v")], "src string, dst string")
    seeds = spark.createDataFrame([("v",)], "node string")
    out = {
        (r["node"], r["hop"])
        for r in bfs_hops(edges, seeds, max_hops=2).collect()
    }
    assert out == {("v", 0), ("u", 1)}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bfs_hops_matches_python_reference(spark, seed):
    """Random sparse graphs vs a pure-Python level BFS: identical
    (node, min-hop) sets within max_hops."""
    import random as _random

    from omop_etl_spark.operators.graph import bfs_hops

    rng = _random.Random(seed)
    n = 30
    edges = list({tuple(sorted(rng.sample(range(n), 2))) for _ in range(50)})
    seeds = sorted(rng.sample(range(n), 3))
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want, frontier = {s: 0 for s in seeds}, set(seeds)
    for h in range(1, 4):
        frontier = {
            w for u in frontier for w in adj.get(u, ()) if w not in want
        }
        want.update({w: h for w in frontier})
    edf = spark.createDataFrame(edges, "src int, dst int")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node int")
    got = {
        r["node"]: r["hop"] for r in bfs_hops(edf, sdf, max_hops=3).collect()
    }
    assert got == want


def test_sssp_weighted_path(spark):
    """Weighted path a-b-c with a heavy shortcut a-c: within 2 rounds
    the two-edge light path (1+1=2) beats the one-edge heavy edge (5),
    and a settled node's distance still improves in a later round."""
    from omop_etl_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("a", "c", 5)],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    one = {
        (r["node"], r["dist"])
        for r in sssp(edges, seeds, max_rounds=1).collect()
    }
    assert one == {("a", 0), ("b", 1), ("c", 5)}
    two = {
        (r["node"], r["dist"])
        for r in sssp(edges, seeds, max_rounds=2).collect()
    }
    assert two == {("a", 0), ("b", 1), ("c", 2)}


def test_sssp_multi_source_undirected(spark):
    """Two seeds, undirected edges: every node takes the min weighted
    distance over seeds regardless of edge direction in the input."""
    from omop_etl_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [("a", "b", 10), ("c", "b", 1)], "src string, dst string, w long"
    )
    seeds = spark.createDataFrame([("a",), ("c",)], "node string")
    out = {
        (r["node"], r["dist"])
        for r in sssp(edges, seeds, max_rounds=3).collect()
    }
    assert out == {("a", 0), ("c", 0), ("b", 1)}


@pytest.mark.parametrize("seed", [0, 1])
def test_sssp_matches_python_bellman_ford(spark, seed):
    """Random weighted sparse graphs vs a pure-Python bounded
    Bellman-Ford: identical (node, dist) maps after k rounds."""
    import random as _random

    from omop_etl_spark.operators.graph import sssp

    rng = _random.Random(seed)
    n, k = 25, 3
    edges = {
        tuple(sorted(rng.sample(range(n), 2))): rng.randint(1, 9)
        for _ in range(40)
    }
    seeds = sorted(rng.sample(range(n), 2))
    adj = {}
    for (u, v), w in edges.items():
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    want = {s: 0 for s in seeds}
    for _ in range(k):
        nxt = dict(want)
        for u, d in want.items():
            for v, w in adj.get(u, ()):
                if d + w < nxt.get(v, 1 << 60):
                    nxt[v] = d + w
        want = nxt
    edf = spark.createDataFrame(
        [(u, v, w) for (u, v), w in edges.items()], "src int, dst int, w long"
    )
    sdf = spark.createDataFrame([(s,) for s in seeds], "node int")
    got = {
        r["node"]: r["dist"]
        for r in sssp(edf, sdf, max_rounds=k).collect()
    }
    assert got == want
