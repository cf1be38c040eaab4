"""Deduplication operators for document-scale pipelines.

Exact dedup is a hash-shuffle groupBy on the (possibly normalized) key —
fully distributed, one shuffle, AQE-skew-safe. Near-dup variants
(MinHash-LSH, SimHash, n-gram Jaccard) build on the same primitives and
live alongside; all are DataFrame-native (no driver-side loops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import spread

__all__ = [
    "exact_dedup",
    "dedup_groups",
    "token_shingles",
    "jaccard_pairs",
    "containment_pairs",
    "minhash_lsh_pairs",
    "minhash_lsh_join",
    "simhash_text",
    "simhash_signatures",
    "simhash_pairs",
]


def _key_cols(df: DataFrame, keys: list[str | Column]) -> list[Column]:
    return [F.col(k) if isinstance(k, str) else k for k in keys]


def exact_dedup(
    df: DataFrame,
    keys: list[str | Column],
    tiebreak: list[str | Column] | None = None,
) -> DataFrame:
    """Keep exactly one row per distinct key tuple.

    ``tiebreak`` orders rows within a key group (ascending, nulls
    first — Spark's ascending default); the first row survives. Without
    a tiebreak the survivor is arbitrary (``dropDuplicates``
    semantics).

    When the frame carries no payload beyond ``keys`` + a single
    ``tiebreak`` column (the shape of every curate/export call site:
    ``(text, doc_id)``), the windowed ``row_number`` is a plain grouped
    MIN — planned as a HashAggregate with MAP-SIDE partial combine, so
    duplicate keys collapse before the exchange and nothing is sorted;
    the window path shuffles every row into a per-key sort first. The
    window remains for frames with payload columns the survivor must
    carry whole.

    Payload-path alternative measured and REJECTED (r18, VERDICT r17
    #4): ``groupBy(keys).agg(min(struct(tiebreak, payload…)))`` plans
    as a partial SortAggregate and was A/B'd on high-dup fixtures
    (2 M rows, 10 %/40 % dup rates, dup multiplicity swept 8 → 800) on
    wall AND event-log shuffle bytes. It never won: low-multiplicity
    dups don't co-occur within map partitions so the partial combine
    collapses nothing, and high-multiplicity dup payloads are already
    collapsed by SHUFFLE COMPRESSION (the window arm's bytes drop with
    the dup rate too — 664 → 447 MB at 10 % → 40 %), while min-struct
    pays per-partition map-side sorts (wall +15–30 % in every warm
    pair). Side note if this is ever revisited: on tiebreak TIES
    min-struct picks the full-struct minimum (deterministic) while the
    window's survivor is partition-order-dependent — the two paths
    only agree when the tiebreak is unique per key, which every
    oracle-checked caller guarantees.
    """
    str_keys = [k for k in keys if isinstance(k, str)]
    if len(str_keys) == len(keys):
        extras = [c for c in df.columns if c not in str_keys]
        if (
            tiebreak
            and len(tiebreak) == 1
            and isinstance(tiebreak[0], str)
            and extras == [tiebreak[0]]
        ):
            t = tiebreak[0]
            # nulls-first min: ascending row_number puts a NULL
            # tiebreak first, but MIN skips nulls — restore the null
            # survivor iff the group saw one (both legs hash-aggregable)
            agg = df.groupBy(*str_keys).agg(
                F.when(
                    F.count(t) < F.count(F.lit(1)), F.lit(None)
                )
                .otherwise(F.min(t))
                .alias(t)
            )
            return agg.select(*df.columns)
        if not extras and not tiebreak:
            return df.distinct()
    kcols = _key_cols(df, keys)
    order = _key_cols(df, tiebreak) if tiebreak else [F.lit(1)]
    w = Window.partitionBy(*kcols).orderBy(*order)
    return (
        df.withColumn("__dd_rn", F.row_number().over(w))
        .filter(F.col("__dd_rn") == 1)
        .drop("__dd_rn")
    )


def dedup_groups(
    df: DataFrame,
    keys: list[str | Column],
    id_col: str = "doc_id",
) -> DataFrame:
    """Group-level dedup summary: one row per distinct key with the
    surviving (minimum) id and the duplicate count."""
    kcols = _key_cols(df, keys)
    return df.groupBy(*kcols).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


# ---------------------------------------------------------------------------
# near-duplicate detection


def token_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a single-space-tokenized text.

    Single-space split (not ``\\s+``) keeps the definition reproducible
    in ANSI SQL oracles."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.array_join(toks, " ")))
    )


def _verify_jaccard(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """Exact verification of candidate ``(id_a, id_b)`` pairs.

    Re-tokenizes ONLY the candidate-surviving documents: the id
    semi-join runs below the shingle projection by construction, so the
    string arrays are built for a handful of rows, not the corpus.
    Precision of the final output is therefore exact regardless of how
    candidates were generated.

    ``cand`` is consumed three times (both legs of the id union + the
    verify join) and its generating index join is the expensive half of
    the operator; the higher-order shingle expressions upstream defeat
    ReuseExchange canonicalization, so without a persist Spark re-runs
    that join once per consumer. The pair frame is tiny (ids only)."""
    from pyspark import StorageLevel

    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    cand_ids = (
        cand.select(F.col("id_a").alias("__cid"))
        .union(cand.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    # semi-join strategy left to AQE: candidate ids are usually rare
    # (LSH S-curve) but approach corpus size on heavily duplicated
    # corpora, where a forced broadcast would OOM the driver
    #
    # shuffle_hash hint on the verify side (100x probe, r14): the
    # verify joins shuffle CANDIDATE rows against per-doc shingle
    # arrays — a sort-merge join SORTS the array payloads, which at
    # the 100x tiling was ~1/3 of the whole operator's wall time.
    # Hash-building on the verify side (strictly the smaller frame —
    # one row per candidate-touched doc vs one per candidate pair)
    # skips both sorts; the per-partition build is |verify|/P rows,
    # bounded by the same partition-sizing rule that bounds every
    # shuffle here (SCALE.md §26).  Small-scale tradeoff: the hint
    # outranks size-based broadcast in JoinSelection, so a tiny verify
    # frame that would have auto-broadcast now shuffles both sides —
    # milliseconds at test SF, bought back many times over at 100x.
    verify = df.join(
        cand_ids, df[id_col] == cand_ids["__cid"], "left_semi"
    ).select(
        F.col(id_col).alias("__id"), token_shingles(text_col, n).alias("__sh")
    ).hint("shuffle_hash")
    out = (
        cand.join(verify.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sha"), "id_a")
        .join(verify.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__shb"), "id_b")
        .withColumn("__ti", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("__ti") / (F.size("__sha") + F.size("__shb") - F.col("__ti")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _prefix_postings(inv: DataFrame, threshold: float) -> DataFrame:
    """Document-frequency-ordered prefix index over hashed postings.

    Each document keeps only its ``|A| - ⌈τ·|A|⌉ + 1`` shingles that
    are RAREST in the corpus (global order = ascending document
    frequency, hash as tiebreak) — the AllPairs/PPJoin idf-ordering
    refinement of prefix filtering (Bayardo et al. WWW'07; Xiao et al.
    PPJoin). The prefix guarantee holds for ANY common total order, and
    rarest-first makes the indexed posting list of a boilerplate
    shingle shrink toward zero: a shingle shared by half the corpus is
    outranked by rarer shingles in almost every document, so it almost
    never lands in a prefix. This is what bounds hot-key fan-out.

    Input: ``inv(__id, __sz, __g)`` hashed postings. Output: the prefix
    subset, same schema. Both windows partition by keys the frame
    already hashes evenly (shingle hash, then doc id)."""
    wg = Window.partitionBy("__g")
    wid = Window.partitionBy("__id").orderBy("__df", "__g")
    plen = F.greatest(
        (F.col("__sz") - F.ceil(F.col("__sz") * F.lit(float(threshold))) + 1).cast(
            "int"
        ),
        F.lit(1),
    )
    return (
        inv.withColumn("__df", F.count(F.lit(1)).over(wg))
        .withColumn("__rk", F.row_number().over(wid))
        .filter(F.col("__rk") <= plen)
        .select("__id", "__sz", "__g")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool | None = None,
    hot_df: int = 1024,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-duplicate pairs (``id_a < id_b``,
    ``jaccard >= threshold``).

    Candidate generation is an inverted-index self-join on shingle
    hashes — every qualifying pair shares a shingle, so recall is
    exactly 1.0 (no LSH approximation) — followed by exact string-set
    verification of the survivors.

    Two candidate-generation paths, chosen automatically by default:

    * **Counting path** (``prefix_filter=False``): counts co-occurring
      shingles inside the index join itself, so ``|A∩B|`` arrives free.
      Fastest when shingle frequency is benign, but the self-join is
      quadratic in the posting-list length of a hot shingle.
    * **Prefix path** (``prefix_filter=True``): each document indexes
      only its ``|A| - ⌈τ·|A|⌉ + 1`` corpus-RAREST shingles (see
      :func:`_prefix_postings`); for ``J(A,B) ≥ τ`` the smallest shared
      shingle under the global order must fall in both prefixes, so
      recall stays 1.0 while boilerplate shingles all but vanish from
      the index. Costs two extra window shuffles over the postings.

    ``prefix_filter=None`` (default) estimates the max posting-list
    length from a 1/32 Bernoulli document sample (tokenizing ~3% of
    the corpus) and takes the prefix path iff the scaled estimate
    exceeds ``hot_df`` — the regime where the counting join's hot-key
    fan-out dominates. The probe triggers one small Spark job at call
    time; pass an explicit bool to stay fully lazy.

    Hash note: candidates live on ``xxhash64`` keys. In the counting
    path a collision can only INFLATE an apparent intersection
    (superset of candidates, recall unaffected). In the prefix path a
    collision could in principle perturb the global order; missing a
    pair requires two distinct shingles of the same document to collide
    in 64 bits (~2^-64 per pair) — documented, not defended.
    """
    from pyspark import StorageLevel

    sh = spread(df).select(
        F.col(id_col).alias("__id"), token_shingles(text_col, n).alias("__sh")
    )
    # The postings frame is persisted: tokenization is the dominant CPU
    # cost and the higher-order shingle expression defeats Spark's
    # ReuseExchange canonicalization, so without the persist BOTH sides
    # of the self-join re-tokenize the whole corpus. One tokenize pass +
    # cached 16-byte postings is the shape you'd want at 100 TB too (the
    # index is worth materializing; see Engine.register_bucketed for the
    # durable variant). The block is released by the ContextCleaner once
    # the result frame is gone. Set size rides along (shingles are
    # distinct per doc, so |set| = posting count): the size band
    # τ·|A| ≤ |B| ≤ |A|/τ — necessary for J ≥ τ — prunes inside the
    # index join itself.
    inv = sh.select(
        F.col("__id"),
        F.size("__sh").alias("__sz"),
        F.explode(F.transform("__sh", lambda g: F.xxhash64(g))).alias("__g"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    if prefix_filter is None:
        # cheap probe: tokenize only a 1/32 Bernoulli sample of
        # documents (NOT the persisted full postings — that would
        # eagerly pay the whole tokenize pass up front) and scale the
        # hot-df threshold by the sampling rate. Hot shingles are by
        # definition frequent, so a thin doc sample detects them
        # reliably (a df ≥ hot_df shingle shows up ~hot_df/32 ≥ 32
        # times in expectation); a borderline flip just picks the
        # other — still exact — path.
        p = 1.0 / 32.0
        row = (
            df.sample(fraction=p, seed=7)
            .select(
                F.explode(
                    F.transform(
                        token_shingles(text_col, n), lambda g: F.xxhash64(g)
                    )
                ).alias("__g")
            )
            .groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(F.max("__c").alias("m"))
            .first()
        )
        prefix_filter = bool(row and row["m"] and row["m"] > hot_df * p)

    size_band = (
        (F.col("b.__sz") >= F.col("a.__sz") * threshold)
        & (F.col("a.__sz") >= F.col("b.__sz") * threshold)
    )
    if prefix_filter:
        pref = _prefix_postings(inv, threshold)
        cand = (
            pref.alias("a")
            .join(
                pref.alias("b"),
                (F.col("a.__g") == F.col("b.__g"))
                & (F.col("a.__id") < F.col("b.__id"))
                & size_band,
            )
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .distinct()
        )
        return _verify_jaccard(df, cand, id_col, text_col, n, threshold)

    co = (
        inv.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.__g") == F.col("b.__g"))
            & (F.col("a.__id") < F.col("b.__id"))
            & size_band,
        )
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("__inter"),
            F.first(F.col("a.__sz")).alias("__sza"),
            F.first(F.col("b.__sz")).alias("__szb"),
        )
    )
    # the counting join already measured |A∩B| on hashes; keep only
    # pairs whose hash-level jaccard clears the threshold (a superset
    # of the true qualifiers), then verify exactly on strings
    cand = co.filter(
        F.col("__inter") / (F.col("__sza") + F.col("__szb") - F.col("__inter"))
        >= threshold
    ).select("id_a", "id_b")
    return _verify_jaccard(df, cand, id_col, text_col, n, threshold)


def _containment_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Candidate ``(contained_id, container_id)`` pairs for
    :func:`containment_pairs` — contained-side prefix filter joined
    against the full container-side index, recall exactly 1.0.

    Exposed as its own stage so the skew stress test
    (tests/test_properties.py::test_containment_boilerplate_skew_stress)
    can assert the candidate volume stays O(docs) on a hot-shingle
    corpus: the contained-side prefix picks each document's
    corpus-RAREST shingles, so boilerplate grams never enter the probe
    side unless a document consists almost entirely of them.
    """
    from pyspark import StorageLevel

    sh = spread(df).select(
        F.col(id_col).alias("__id"), token_shingles(text_col, n).alias("__sh")
    )
    inv = sh.select(
        F.col("__id"),
        F.size("__sh").alias("__sz"),
        F.explode(F.transform("__sh", lambda g: F.xxhash64(g))).alias("__g"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    pref = _prefix_postings(inv, threshold)
    return (
        pref.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.__g") == F.col("b.__g"))
            & (F.col("a.__id") != F.col("b.__id"))
            & (F.col("b.__sz") >= F.col("a.__sz") * F.lit(float(threshold))),
        )
        .select(
            F.col("a.__id").alias("contained_id"),
            F.col("b.__id").alias("container_id"),
        )
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT directional containment pairs: ``(contained_id,
    container_id, containment)`` with ``|A ∩ B| / |A| >= threshold``
    and ``A != B`` — the asymmetric near-dup relation Jaccard misses.

    A short document quoted inside a long one has tiny Jaccard (the
    union is dominated by the long side) but containment ~1; this is
    the operator for quote-inclusion, page-within-crawl, and
    excerpt-vs-source dedup decisions.

    Candidate generation is prefix-filtered on the CONTAINED side only:
    if ``|A ∩ B| >= ⌈τ·|A|⌉`` then at most ``|A| - ⌈τ·|A|⌉`` of A's
    shingles lie outside B, so A's ``|A| - ⌈τ·|A|⌉ + 1`` corpus-rarest
    shingles (:func:`_prefix_postings` — the same AllPairs prefix rule
    as :func:`jaccard_pairs`) cannot all avoid B. The container side
    must index ALL its shingles (containment puts no upper bound on
    ``|B|``), so the only join-size prune on B is the necessary
    ``|B| >= τ·|A|``. Recall is exactly 1.0; survivors verify on exact
    string shingle sets, so precision is exact too.

    Hot-shingle note: the container-side posting list of a boilerplate
    shingle is NOT thinned (unlike the jaccard prefix path, which thins
    both sides). The contained-side prefix keeps boilerplate grams out
    of the probe side in almost every document, which bounds the
    fan-out in practice; a corpus whose documents consist ENTIRELY of
    boilerplate shingles degrades toward the full index join.

    Exact duplicates qualify in both directions (containment 1.0 each
    way) — callers folding this into survivor election should run
    :func:`exact_dedup` first, as :func:`~omop_etl_spark.pipelines.
    curate_corpus` does for jaccard.
    """
    from pyspark import StorageLevel

    cand = _containment_candidates(df, id_col, text_col, n, threshold).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand_ids = (
        cand.select(F.col("contained_id").alias("__cid"))
        .union(cand.select(F.col("container_id").alias("__cid")))
        .distinct()
    )
    # shuffle_hash hint: same reasoning as _verify_jaccard — the
    # verify frame (one row per candidate-touched doc) hash-builds
    # against the candidate fan-out side, skipping two array-payload
    # sorts that dominated the 100x-tiling profile (SCALE.md §26)
    verify = df.join(
        cand_ids, df[id_col] == cand_ids["__cid"], "left_semi"
    ).select(
        F.col(id_col).alias("__vid"), token_shingles(text_col, n).alias("__vsh")
    ).hint("shuffle_hash")
    out = (
        cand.join(
            verify.withColumnRenamed("__vid", "contained_id").withColumnRenamed(
                "__vsh", "__sha"
            ),
            "contained_id",
        )
        .join(
            verify.withColumnRenamed("__vid", "container_id").withColumnRenamed(
                "__vsh", "__shb"
            ),
            "container_id",
        )
        .withColumn(
            "containment",
            F.size(F.array_intersect("__sha", "__shb")) / F.size("__sha"),
        )
        .filter(F.col("containment") >= threshold)
    )
    return out.select(
        "contained_id", "container_id", F.round("containment", 6).alias("containment")
    )


def _md5_hash(col: Column, salt: int) -> Column:
    """Deterministic 32-bit hash from md5 — identical in any engine
    with an md5 function (used so SQL oracles can replicate minhash)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{salt}|"), col)), 1, 8), 16, 10).cast(
        "bigint"
    )


#: Mersenne prime for the affine rehash family. MUST be paired with
#: base hashes truncated to 31 bits (``x & _MERSENNE_P``): with x and a
#: both below 2^31, a*x stays inside int64 AND a*x + b actually wraps
#: the modulus many times, so each h_i induces an independent-looking
#: ordering of the shingle set. (The previous 2^61-1 prime with
#: a < 2^29 and 32-bit x NEVER wrapped — every h_i was monotone in x,
#: all num_hashes minima picked the same argmin shingle, and the whole
#: signature degenerated to a single hash: banding recall was J, not
#: the S-curve. Caught by a near-dup pipeline test in r6.)
_MERSENNE_P = (1 << 31) - 1


def _affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    ``h_i(x) = (a_i * x + b_i) mod p`` over 31-bit base hashes."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def _banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    base_hash: str,
) -> DataFrame:
    """Banded MinHash signatures as ``(__id, __band)`` rows (``bands``
    rows per document, band index prefixed into the band string so the
    rows are distinct by construction).

    Relational build: explode shingles, base-hash each ONCE, then one
    map-side-combined aggregate with ``num_hashes`` min() columns. (A
    Column-form signature would re-inline the base-hash subtree into
    every per-hash fold after Catalyst collapses projections — the same
    num_hashes-fold blowup simhash_signatures avoids.)

    The base hash is masked to 31 bits — required by the affine family
    (see ``_MERSENNE_P``: 31-bit x keeps a*x inside int64 while letting
    the modulus wrap, which is what makes the num_hashes orderings
    independent). ``xxhash64`` is JVM-native and an order of magnitude
    cheaper than the md5+conv base hash; the md5 form is the
    engine-portable alternative an ANSI oracle can replicate.
    """
    rows = num_hashes // bands
    ex = spread(df).select(
        F.col(id_col).alias("__id"),
        F.explode(token_shingles(text_col, n)).alias("__g"),
    )
    if base_hash == "md5":
        hc = _md5_hash(F.col("__g"), 0).bitwiseAND(F.lit(_MERSENNE_P))
    elif base_hash == "xxhash64":
        hc = F.xxhash64("__g").bitwiseAND(F.lit(_MERSENNE_P))
    else:
        raise ValueError(f"minhash banded signatures: base_hash={base_hash!r}")
    h = ex.select("__id", hc.alias("__h"))
    params = _affine_params(num_hashes)
    mins = h.groupBy("__id").agg(
        *[
            F.min((F.col("__h") * a + b) % _MERSENNE_P).alias(f"__m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    base = mins.select(
        "__id", F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("__sig")
    )
    return base.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(b),
                        *[F.col("__sig")[b * rows + r] for r in range(rows)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int = 256,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Approximate near-dup pairs via MinHash banding: signatures split
    into ``bands``; pairs colliding in ≥1 band become candidates, then
    exact Jaccard verifies. Precision is exact (post-verification);
    recall < 1 for pairs near the threshold (standard LSH S-curve).

    One shuffle to bucket (band-hash join), one to verify — no O(N²)
    stage. This is the 100 TB path; :func:`jaccard_pairs` is the exact
    oracle-checkable sibling.

    ``base_hash`` picks the 32-bit shingle hash under the affine
    rehashes: ``"xxhash64"`` (default, JVM-native, the production
    path) or ``"md5"`` (engine-portable — any SQL engine with ``md5``
    can replay the signature bit-for-bit, which is what makes the
    whole LSH pipeline DuckDB-oracle-checkable). Same hash family,
    same banding behavior; signature VALUES differ between the two.

    **Bucket cap**: a band bucket holding more than ``max_bucket``
    documents (e.g. thousands of identical boilerplate pages) would
    make the self-join quadratic in the bucket size. Over-full buckets
    are instead STAR-LINKED: every member pairs only with the bucket's
    minimum id — candidates stay linear, every member of the bucket
    still appears in ≥1 verified pair, and connected components over
    the output recover the full duplicate group. All-pairs behavior is
    unchanged for buckets at or under the cap. Recall caveat: a
    non-star pair inside an over-full bucket is reported only if it
    also collides in some bucket under the cap.
    """
    from pyspark import StorageLevel

    banded = _banded_signatures(
        df, id_col, text_col, n, num_hashes, bands, base_hash
    )
    # one window pass on the band key (same shuffle key the self-join
    # needs) annotates bucket size + minimum id; persisted so the join
    # branches and the window share a single signature build
    wb = Window.partitionBy("__band")
    stats = (
        banded.withColumn("__cnt", F.count(F.lit(1)).over(wb))
        .withColumn("__mn", F.min("__id").over(wb))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    small = stats.filter(F.col("__cnt") <= max_bucket)
    pair_small = (
        small.alias("a")
        .join(
            small.alias("b"),
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    )
    pair_big = stats.filter(
        (F.col("__cnt") > max_bucket) & (F.col("__id") != F.col("__mn"))
    ).select(F.col("__mn").alias("id_a"), F.col("__id").alias("id_b"))
    # persisted: consumed by both legs of the id union and the verify
    # join; caching the tiny pair frame keeps the bucket self-join from
    # running once per consumer
    cand = pair_small.union(pair_big).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    # exact verification tokenizes ONLY candidate-surviving docs (the
    # LSH S-curve keeps candidates rare), not the corpus a second time
    cand_ids = (
        cand.select(F.col("id_a").alias("__cid"))
        .union(cand.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    # semi-join strategy left to AQE (see jaccard_pairs: a forced
    # broadcast OOMs when candidates approach corpus size)
    sh = df.join(
        cand_ids, df[id_col] == cand_ids["__cid"], "left_semi"
    ).select(
        F.col(id_col).alias("__id"), token_shingles(text_col, n).alias("__sh")
    )
    verified = (
        cand.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sha"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__shb"), "id_b")
        .withColumn("__inter", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("__sha") + F.size("__shb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def minhash_lsh_join(
    incoming: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int = 256,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Cross-corpus near-dup join — the INCREMENTAL dedup primitive: a
    new batch of documents is checked against an already-curated corpus
    without ever re-pairing the existing corpus against itself.

    Returns verified pairs ``(in_id, ex_id, jaccard)`` where an
    incoming document's exact shingle-Jaccard against an existing
    document clears ``threshold`` and the two collide in ≥1 MinHash
    band. Ingestion then keeps incoming docs with no output row.

    Scale design (the 100 TB path): both sides reduce to banded
    signatures (one explode + one map-side-combined min-aggregate
    each); the band equi-join shuffles only ``(id, band-string)`` rows
    on the same key the existing-side bucket-cap window already
    partitioned by; candidates — not corpora — feed the exact-Jaccard
    verify, which tokenizes only candidate-surviving docs via
    semi-joins. Nothing is quadratic: an existing-side band bucket
    larger than ``max_bucket`` (boilerplate pages) pairs each colliding
    incoming doc only with the bucket's minimum existing id — enough to
    FLAG the incoming doc as a near-dup, which is the incremental-dedup
    contract — so candidates stay linear in the incoming batch.
    Precision is exact (post-verification); recall follows the LSH
    S-curve exactly as in :func:`minhash_lsh_pairs`.

    Unlike the self-join, the existing side never pairs with itself, so
    a steady-state pipeline re-checks only the new batch each run —
    cost proportional to the batch, not the corpus.
    """
    from pyspark import StorageLevel

    bl = _banded_signatures(
        incoming, id_col, text_col, n, num_hashes, bands, base_hash
    )
    br = _banded_signatures(
        existing, id_col, text_col, n, num_hashes, bands, base_hash
    )
    # bucket-cap window on the EXISTING side: same shuffle key as the
    # band join, so the Exchange is reused between window and join
    wb = Window.partitionBy("__band")
    stats = (
        br.withColumn("__cnt", F.count(F.lit(1)).over(wb))
        .withColumn("__mn", F.min("__id").over(wb))
    )
    keep = stats.filter(
        (F.col("__cnt") <= max_bucket) | (F.col("__id") == F.col("__mn"))
    ).select(F.col("__id").alias("ex_id"), "__band")
    cand = (
        bl.select(F.col("__id").alias("in_id"), "__band")
        .join(keep, "__band")
        .select("in_id", "ex_id")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # exact verification tokenizes ONLY candidate-surviving docs on
    # each side; semi-join strategy left to AQE
    in_ids = cand.select(F.col("in_id").alias("__cid")).distinct()
    ex_ids = cand.select(F.col("ex_id").alias("__cid")).distinct()
    shl = incoming.join(
        in_ids, incoming[id_col] == in_ids["__cid"], "left_semi"
    ).select(F.col(id_col).alias("in_id"), token_shingles(text_col, n).alias("__sha"))
    shr = existing.join(
        ex_ids, existing[id_col] == ex_ids["__cid"], "left_semi"
    ).select(F.col(id_col).alias("ex_id"), token_shingles(text_col, n).alias("__shb"))
    verified = (
        cand.join(shl, "in_id")
        .join(shr, "ex_id")
        .withColumn("__inter", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("__sha") + F.size("__shb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("in_id", "ex_id", F.round("jaccard", 6).alias("jaccard"))


def simhash_text(
    text: Column | str, num_bits: int = 32, n: int = 3
) -> Column:
    """SimHash fingerprint of the shingle set: bit ``i`` is the sign of
    the sum over shingles of ±1 according to bit ``i`` of the shingle's
    md5-derived hash. Near-duplicate texts differ in few bits (compare
    with ``bit_count(a ^ b)``)."""
    sh = token_shingles(text, n)
    h = F.transform(sh, lambda g: _md5_hash(g, 0))

    def vote(i: int):
        return lambda acc, x: acc + F.when(
            x.bitwiseAND(F.lit(1 << i)) > 0, F.lit(1)
        ).otherwise(F.lit(-1))

    bucket = F.lit(0).cast("bigint")
    for i in range(num_bits):
        votes = F.aggregate(h, F.lit(0), vote(i))
        bucket = bucket + F.when(votes > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast(
            "bigint"
        )
    return bucket


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 32,
    n: int = 3,
) -> DataFrame:
    """``(id, sig)`` SimHash fingerprints, computed relationally:
    explode shingles, md5-hash each ONCE, then one hash-aggregate with
    ``num_bits`` integer vote sums (map-side combined, single shuffle).

    Semantically identical to :func:`simhash_text` (same hash, same
    majority vote) but ~100× faster on real corpora: the per-row Column
    form inlines the shingle+md5 subtree into every per-bit fold (the
    expression tree grows ``num_bits``-fold and falls out of codegen),
    while this form touches each shingle exactly once. Use the Column
    form for inline expressions over short strings; use this for
    corpus-scale fingerprinting.
    """
    ex = spread(df).select(
        F.col(id_col).alias("__id"),
        F.explode(token_shingles(text_col, n)).alias("__g"),
    )
    h = ex.select("__id", _md5_hash(F.col("__g"), 0).alias("__h"))
    votes = h.groupBy("__id").agg(
        *[
            F.sum(
                F.when(F.col("__h").bitwiseAND(F.lit(1 << i)) > 0, 1).otherwise(-1)
            ).alias(f"__v{i}")
            for i in range(num_bits)
        ]
    )
    sig = F.lit(0).cast("bigint")
    for i in range(num_bits):
        sig = sig + F.when(F.col(f"__v{i}") > 0, F.lit(1 << i)).otherwise(0).cast(
            "bigint"
        )
    return votes.select("__id", sig.alias("__sig"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 32,
    n: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """EXACT SimHash near-duplicate pairs: ``(id_a, id_b, hamming)``
    with ``id_a < id_b`` and ``bit_count(sig_a ^ sig_b) <= max_hamming``.

    Candidate generation uses the pigeonhole banding trick (Manku et
    al., WWW'07 "Detecting near-duplicates for web crawling"): split
    the ``num_bits`` fingerprint into ``max_hamming + 1`` contiguous
    bands — any pair within ``max_hamming`` differing bits must agree
    EXACTLY on at least one band, so an equi-join per band finds every
    qualifying pair (recall 1.0, no approximation), and the final
    ``bit_count`` filter restores precision. One narrow pass to
    fingerprint, one hash-shuffle per band on band-value keys — no
    O(N²) stage, skew bounded by band cardinality (2^(bits/bands)).
    """
    from pyspark import StorageLevel

    bands = max_hamming + 1
    width = num_bits // bands
    # persisted: both sides of the band self-join otherwise re-run the
    # corpus-wide explode + md5 + 32-column vote aggregate (ReuseExchange
    # shares the groupBy shuffle but not the post-shuffle agg + band
    # projection); the (id, sig) frame is 16 bytes/doc
    sig = simhash_signatures(df, id_col, text_col, num_bits, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    banded = sig.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(b),
                        F.shiftrightunsigned(F.col("__sig"), b * width)
                        % F.lit(
                            1 << (width + (num_bits % bands if b == bands - 1 else 0))
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    )
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(
                F.col("a.__sig").bitwiseXOR(F.col("b.__sig"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs
