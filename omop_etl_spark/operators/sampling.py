"""Deterministic sampling / splitting / packing for training-data
pipelines.

All three operators are built on the same primitive: a row's md5-derived
unit-interval hash. That makes every decision row-local (no shuffle, no
RNG state, embarrassingly parallel at any scale) and exactly
reproducible across engines — a SQL oracle with an ``md5`` function
replays the assignment bit-for-bit, and re-running the pipeline after
adding rows never reassigns existing ones (the property that matters
when a 100 TB corpus is split incrementally).

``rank_filter`` and ``pack_sequences`` are the exceptions: a rank and
a packing are ordered prefix scans, so both ride
``planner/surrogate._prefix_scan``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..conf import checkpoint as _checkpoint
from ..planner.surrogate import _prefix_scan, with_surrogate_id

__all__ = [
    "unit_hash",
    "hash_split",
    "stratified_sample",
    "mixture_sample",
    "rank_filter",
    "pack_sequences",
    "shuffle_shards",
    "ntile_by",
    "weighted_sample",
    "weighted_sample_per_group",
    "token_budget_sample",
    "exact_allocation_sample",
    "waterfill_allocation",
]


def unit_hash(col: Column | str, salt: str = "") -> Column:
    """Deterministic hash of ``col`` mapped to a double in ``[0, 1)``.

    First 8 hex chars of ``md5(salt || '|' || value)`` as a 32-bit
    integer over 2^32. The integer is exact below 2^32, so the division
    is exact in binary64 and threshold comparisons agree across any
    engine with ``md5`` (DuckDB oracle: ``CAST(concat('0x',
    substr(md5(...), 1, 8)) AS BIGINT) / 4294967296.0``)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}|"), c.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return h / F.lit(float(1 << 32))


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: dict[str, float] | None = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row a deterministic train/val/test-style split.

    ``splits`` maps name -> weight (normalized internally; default
    ``{"train": .9, "val": .05, "test": .05}``). A row lands in the
    split whose cumulative-weight interval contains its
    :func:`unit_hash` — so membership is a pure function of
    ``(salt, id)``: stable under reruns, under appends, and across
    engines. Row-local (no shuffle); the added column is a chained
    ``CASE WHEN`` over one md5, fully inside whole-stage codegen."""
    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = float(sum(splits.values()))
    u = unit_hash(id_col, salt)
    expr: Column | None = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name] / total
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, out)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default: float = 0.0,
    salt: str = "strata",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample.

    Keeps a row iff ``unit_hash(id) < fractions[stratum]`` (strata
    absent from ``fractions`` use ``default``). Same guarantees as
    :func:`hash_split`: row-local, shuffle-free, reproducible, and
    append-stable — unlike ``DataFrame.sampleBy``, whose output depends
    on partitioning and seed-per-partition RNG state."""
    u = unit_hash(id_col, salt)
    frac: Column = F.lit(float(default))
    for s, f_ in fractions.items():
        frac = F.when(F.col(strata_col) == F.lit(s), F.lit(float(f_))).otherwise(frac)
    return df.filter(u < frac)


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    target_frac: float,
    id_col: str = "doc_id",
    salt: str = "mixture",
) -> DataFrame:
    """Deterministic training-mixture sampling: downsample each stratum
    so the output approximates ``target_frac`` of the corpus distributed
    across strata in proportion to ``weights`` (normalized internally;
    strata absent from ``weights`` get weight 0 and are dropped).

    The per-stratum keep-rate is ``min(1, w_s * T / count_s)`` with
    ``T = target_frac * total_rows`` — the standard mixture-reweighting
    rule (cf. The Pile / DoReMi-style domain weighting): a stratum whose
    natural share exceeds its target share is thinned, one already
    below it is kept whole (no upsampling; repetition policy belongs to
    the training loader). Membership is ``unit_hash(id) < rate`` — a
    pure function of ``(salt, id, corpus counts)``: stable under reruns
    and engine-portable.

    Plan shape: one tiny aggregate for per-stratum counts (rows =
    #strata) broadcast back onto the scan, plus a 1-row total broadcast
    — the corpus itself is filtered in place, never shuffled. The rate
    arithmetic is fixed-order binary64 (``w * (frac * total) / cnt``)
    so an ANSI-SQL oracle reproduces the exact doubles.
    """
    wsum = float(sum(weights.values()))
    # default weight must be 0.0, not NULL: Spark's least() SKIPS nulls,
    # so a NULL rate would silently keep the whole stratum
    wcol: Column = F.lit(0.0)
    for s, w_ in weights.items():
        wcol = F.when(F.col(strata_col) == F.lit(s), F.lit(w_ / wsum)).otherwise(wcol)

    # counts feeds the rate join AND (as its sum) the corpus total —
    # checkpoint the strata-bounded frame so the raw input is scanned
    # twice (counts + the filter pass), not three times (r17; the
    # total was a third full scan, and sum-of-strata-counts == count(*)
    # exactly). Lazy: materializes inside the query job.
    counts = (
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__mx_cnt"))
        .transform(_checkpoint, eager=False)
    )
    total = counts.agg(F.sum("__mx_cnt").alias("__mx_total"))
    rate = F.least(
        F.lit(1.0),
        wcol
        * (F.lit(float(target_frac)) * F.col("__mx_total").cast("double"))
        / F.col("__mx_cnt").cast("double"),
    )
    return (
        df.join(F.broadcast(counts), strata_col)
        .crossJoin(F.broadcast(total))
        .filter(unit_hash(id_col, salt) < rate)
        .drop("__mx_cnt", "__mx_total")
    )


def rank_filter(
    df: DataFrame,
    order_cols: list,
    keep_frac: float,
    rank_col: str | None = None,
) -> DataFrame:
    """Keep the best ``keep_frac`` of the corpus under ``ORDER BY
    order_cols`` — the exact-percentile quality gate ("train on the top
    30% by quality score"). A row survives iff its global 1-based rank
    is ``<= ceil(keep_frac * total_rows)``; pass e.g.
    ``[F.col("score").desc(), "doc_id"]`` (the id tiebreak makes the
    cut deterministic under score ties).

    Exactness matters here because approximate quantile thresholds
    (``approxQuantile``) make the kept set irreproducible across runs
    and engines; this operator is oracle-replayable row-for-row.

    The rank is ``with_surrogate_id`` (planner/surrogate.py): below
    the stats threshold a single-partition window, above it ONE range
    exchange + per-partition offsets — the same cost as any global
    sort of the frame. The total count rides the rank frame (a 1-row
    aggregate broadcast), so the whole gate is one wide shuffle
    end-to-end. With ``rank_col`` set the global rank is kept in the
    output (useful for curriculum ordering downstream).
    """
    out_rank = rank_col or "__rk_rank"
    ranked = with_surrogate_id(df, order_cols, id_col=out_rank)
    total = df.select(F.count(F.lit(1)).alias("__rk_total"))
    kept = (
        ranked.crossJoin(F.broadcast(total))
        .filter(
            F.col(out_rank)
            <= F.ceil(F.lit(float(keep_frac)) * F.col("__rk_total").cast("double"))
        )
        .drop("__rk_total")
    )
    return kept if rank_col else kept.drop(out_rank)


def pack_sequences(
    df: DataFrame,
    cost_col: str,
    order_col: str = "doc_id",
    budget: int = 8192,
    bin_col: str = "bin_id",
) -> DataFrame:
    """Pack ordered rows into fixed-budget bins (sequence packing for
    LLM training: documents -> training sequences of ~``budget``
    tokens).

    A row's bin is ``floor(exclusive_prefix_sum(cost) / budget)`` under
    ``ORDER BY order_col`` — deterministic, oracle-expressible as a
    window cumsum, and every bin's cost is ~``budget`` (a bin overflows
    by at most one row, the standard contiguous-fill packing
    approximation; rows with ``cost > budget`` get a bin of their own).
    The exclusive prefix sum is one ``planner/surrogate._prefix_scan``."""
    return _prefix_scan(
        df,
        [order_col],
        [("sum", cost_col, False)],
        lambda s: {
            bin_col: F.floor(F.coalesce(s, F.lit(0)) / F.lit(float(budget))).cast("bigint")
        },
    )


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    num_shards: int = 16,
    salt: str = "shuffle",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle into training shards.

    Every row gets ``(shard, pos)``: ``shard`` from its
    :func:`unit_hash` scaled to ``num_shards`` buckets, ``pos`` its
    0-based rank within the shard under the full md5 of the id — i.e. a
    reproducible random permutation of the corpus, materialized as
    ``num_shards`` independently-ordered shards. Readers stream shard
    files in ``pos`` order to get an unbiased training order without
    any engine-side RNG; re-running reproduces the identical order
    bit-for-bit (a SQL oracle replays it with ``md5`` + ``row_number``).

    Plan shape: one hash exchange on ``shard`` plus a per-shard sort
    (Spark window partitioned by ``shard``). Choose ``num_shards`` so a
    shard fits an executor's spill budget at the target corpus size —
    at 100 TB with 10k shards each sort is ~10 GB, a routine external
    sort; the hash-uniform shard assignment makes skew structurally
    impossible.
    """
    u = unit_hash(id_col, salt)
    order = F.md5(F.concat(F.lit(f"{salt}#|"), F.col(id_col).cast("string")))
    w = Window.partitionBy(shard_col).orderBy(order, F.col(id_col))
    return (
        df.withColumn(
            shard_col,
            F.floor(u * F.lit(float(num_shards))).cast("bigint"),
        )
        .withColumn(pos_col, F.row_number().over(w).cast("bigint") - 1)
    )


def ntile_by(
    df: DataFrame,
    value_col: str,
    id_col: str,
    tiles: int = 10,
) -> DataFrame:
    """Exact NTILE(``tiles``) over ``(value_col, id_col)`` order —
    WITHOUT a global single-reducer window.

    The standard ``Window.orderBy(...)`` NTILE collapses the whole
    dataset onto one task; this decomposition stays distributed when
    ``value_col`` has bounded cardinality (lengths, scores, bucketed
    floats — the usual stratification keys):

    1. intra-value rank: ``row_number`` partitioned BY ``value_col``
       (distributed on the value key);
    2. value offsets: counts per value (vocabulary-sized frame) with a
       running-sum window over that SMALL frame only;
    3. global rank = offset + intra rank, via a broadcast join;
    4. tile from rank by the ANSI NTILE rule (first ``N % tiles``
       tiles get one extra row), with N entering as a lazy 1-row
       broadcast scalar.

    Output: input columns + ``rank`` (1-based) + ``tile`` (1-based) —
    bit-identical to ``ntile(tiles) OVER (ORDER BY value, id)``.
    """
    v, d = F.col(value_col), F.col(id_col)
    intra = F.row_number().over(Window.partitionBy(value_col).orderBy(id_col))
    # counts feeds the offset window AND the global N (sum of
    # per-value counts == count(*)); checkpoint the vocabulary-sized
    # frame so the input is scanned twice (intra rank + counts), not
    # three times (r17 — the N aggregate was a third full scan).
    counts = (
        df.groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .transform(_checkpoint, eager=False)
    )
    wcum = (
        Window.orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        v.alias("__v"),
        F.coalesce(F.sum("__c").over(wcum), F.lit(0)).alias("__off"),
    )
    n_frame = counts.agg(F.sum("__c").alias("__n"))
    ranked = (
        df.withColumn("__intra", intra)
        .join(F.broadcast(offsets), v == F.col("__v"))
        .crossJoin(F.broadcast(n_frame))
    )
    rank = (F.col("__off") + F.col("__intra")).cast("bigint")
    base = F.floor(F.col("__n") / tiles).cast("bigint")
    rem = (F.col("__n") % tiles).cast("bigint")
    big = rem * (base + 1)  # rows covered by the (base+1)-sized tiles
    tile = F.when(
        rank <= big, F.ceil(rank / (base + 1))
    ).otherwise(rem + F.ceil((rank - big) / base)).cast("int")
    return ranked.select(
        *[F.col(c) for c in df.columns],
        rank.alias("rank"),
        tile.alias("tile"),
    )


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (priority
    sampling, Duffield–Lund–Thorup).

    Each row gets priority ``w / u`` with ``u = unit_hash(id)`` (a
    32-bit integer over 2^32; the p ~= 2^-32 ``u = 0`` case yields
    ``+inf`` — "always sampled" — identically in every IEEE engine)
    and ``w = weight_col``; the global top-``n`` priorities are the
    sample.  P(row in sample)
    is ``min(1, w/tau)`` for the rank-(n+1) threshold ``tau`` —
    proportional to the weight below the cap, the classic priority-
    sampling scheme.  Membership is a pure function of
    ``(salt, id, w)`` — rerun-stable — and the plan is a single
    ``TakeOrderedAndProject``: every map task keeps its local top-n,
    the driver merges ``tasks * n`` rows, no global sort, no full
    shuffle.

    Unlike the ``u ** (1/w)`` key of Efraimidis–Spirakis A-Res, the
    ``w / u`` priority needs no ``pow``/``log``: both operands are
    binary64-exact and IEEE-754 division is exactly rounded, so the
    priority — and therefore the rank-``n`` cut — is bit-identical in
    every IEEE engine (the A-Res key goes through libm ``pow``, whose
    last-ulp behavior is platform-dependent and can flip the boundary
    row; ADVICE r6).  Rows with non-positive weight are excluded
    (their priority would be ill-defined).  Tiebreak is
    (priority DESC, id ASC).
    """
    w = F.col(weight_col).cast("double")
    u = unit_hash(id_col, salt)
    pri = w / u
    return (
        df.filter(w > 0)
        .withColumn("__pri", pri)
        .orderBy(F.col("__pri").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("__pri")
    )


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    budgets: dict[str, int],
    default_budget: int = 0,
    id_col: str = "doc_id",
    salt: str = "budget",
    buckets: int = 256,
) -> DataFrame:
    """Select documents until each stratum's TOKEN budget is met — the
    'assemble exactly this training mix' primitive ('50 M tokens of
    web, 30 M of books, ...'), where :func:`mixture_sample` targets
    row fractions, not token counts.

    Within each stratum, documents are ordered by their deterministic
    unit hash (ties broken by id — a total order) and kept while the
    running token sum stays ≤ the stratum's budget.  Membership is a
    pure function of ``(salt, ids, token counts, budgets)``: rerun- and
    engine-stable, and stable under appends for already-kept documents
    whose hash precedes the cut.

    Scale: the per-stratum cumulative sum is the low-cardinality window
    trap (few strata → one serial sort per stratum), so it runs
    two-level, like ``temporal.interval_concurrency``: local cumsum
    within ``(stratum, hash-bucket)`` — ``buckets`` independent sort
    partitions per stratum — plus carry-in offsets from a tiny
    per-bucket totals frame (broadcast).  Bucket order is hash-prefix
    order, so offsets + local = the exact single-window cumsum.

    Output: the kept rows plus ``cum_tokens`` (running total including
    the row itself).
    """
    u = unit_hash(id_col, salt)
    bkt = F.floor(u * buckets).cast("int")
    t = F.col(token_col).cast("bigint")

    budget: Column = F.lit(int(default_budget))
    for s_, b_ in budgets.items():
        budget = F.when(F.col(strata_col) == F.lit(s_), F.lit(int(b_))).otherwise(
            budget
        )

    base = df.withColumn("__u", u).withColumn("__bkt", bkt)
    w_local = (
        Window.partitionBy(strata_col, "__bkt")
        .orderBy("__u", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("__cum_local", F.sum(t).over(w_local))

    w_carry = (
        Window.partitionBy(strata_col)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        base.groupBy(strata_col, "__bkt")
        .agg(F.sum(t).alias("__tot"))
        .select(
            F.col(strata_col).alias("__os"),
            F.col("__bkt").alias("__ob"),
            F.coalesce(F.sum("__tot").over(w_carry), F.lit(0)).alias("__off"),
        )
    )
    return (
        local.join(
            F.broadcast(offsets),
            (F.col(strata_col) == F.col("__os")) & (F.col("__bkt") == F.col("__ob")),
        )
        .withColumn("cum_tokens", F.col("__off") + F.col("__cum_local"))
        .filter(F.col("cum_tokens") <= budget)
        .drop("__u", "__bkt", "__cum_local", "__os", "__ob", "__off")
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wgroup",
) -> DataFrame:
    """Deterministic weighted sample of ``n`` rows PER GROUP (priority
    sampling, the grouped twin of :func:`weighted_sample`).

    Priority is the same ``w / u`` key — one exactly-rounded IEEE
    division over the md5 unit hash, so the per-group rank-``n`` cut
    is bit-identical in every engine, no libm.  The per-group top-n
    compiles to a ``WindowGroupLimit`` partial pass: every map task
    keeps only its local top-n per group BEFORE the shuffle, so
    exchange volume is ``O(groups * n)`` regardless of input size —
    the same bound as the KMV sketch cut.

    Rows with non-positive weight are excluded.  Tiebreak is
    (priority DESC, id ASC).
    """
    w = F.col(weight_col).cast("double")
    u = unit_hash(id_col, salt)
    win = Window.partitionBy(group_col).orderBy(
        (w / u).desc(), F.col(id_col).asc()
    )
    return (
        df.filter(w > 0)
        .withColumn("__rk", F.row_number().over(win))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def exact_allocation_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    id_col: str,
    k: int,
    salt: str = "alloc",
) -> DataFrame:
    """Largest-remainder (Hamilton) EXACT stratified sampling: pick
    exactly ``k`` rows total, strata sized proportionally to their
    population — ``seats_i = floor(k * n_i / N)`` plus one extra seat
    for each of the ``D = k - sum(floors)`` largest remainders
    (remainder DESC, strata key ASC tiebreak) — then within each
    stratum the ``seats_i`` rows with the smallest
    :func:`unit_hash`.

    :func:`hash_split` / :func:`stratified_sample` hit proportions
    only in expectation; evaluation sets and balanced fine-tuning
    mixes need the ALLOCATION exact (100 rows means 100 rows, and a
    2.4%-of-corpus stratum means 2 or 3 rows, never 0 or 7).  Every
    step is integer arithmetic plus the md5 unit hash, so the chosen
    id set replays bit-for-bit in any engine.

    Requires ``k <= N``; seats never exceed a stratum's population
    (``ceil(k * n_i / N) <= n_i`` whenever ``k <= N``), so the output
    is exactly ``k`` rows.

    Scale: the fact shuffles once for the per-stratum counts
    (map-side combinable) and once for the per-stratum hash-rank
    window (PARTITIONED — never a global sort); everything between
    runs on the strata-bounded seats frame, whose global remainder
    ranking rides rank.ranked_running_sum's stats-gated distributed
    path (no partition-less window over an unbounded frame).
    """
    from .rank import ranked_running_sum

    gcols = list(strata_cols)
    counts = df.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("bigint").alias("__alloc_n")
    )
    # totals derive from df, not counts: re-aggregating the counts
    # frame would share its lineage and trip Spark's self-join
    # attribute disambiguation (the rank_filter pattern)
    tot = df.select(F.count(F.lit(1)).cast("bigint").alias("__alloc_total"))
    # column names must differ case-INsensitively: Spark's default
    # resolver treats `__alloc_n` vs `__alloc_N` as the same name once
    # they meet across a join, and flags every reference ambiguous
    # r17: sized is consumed by BOTH the remainder ranking and the
    # deficit aggregate; without the eager checkpoint each branch
    # re-runs the per-stratum count AND the total count over the raw
    # frame (5 source scans in the r17 audit instead of 3). The frame
    # is strata-bounded — materializing it is free.
    sized = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("__alloc_base", F.expr(f"(CAST({k} AS BIGINT) * __alloc_n) div __alloc_total"))
        .withColumn("__alloc_rem", F.expr(f"(CAST({k} AS BIGINT) * __alloc_n) % __alloc_total"))
        .select(*gcols, "__alloc_n", "__alloc_base", "__alloc_rem")
        .transform(_checkpoint)
    )
    ranked = ranked_running_sum(
        sized,
        [F.col("__alloc_rem").desc()] + [F.col(c).asc() for c in gcols],
        "__alloc_base",
        rank_col="__alloc_rrank",
        cum_col="__alloc_bcum",
    )
    deficit = sized.agg(
        (F.lit(int(k)) - F.sum("__alloc_base")).cast("bigint").alias("__alloc_D")
    )
    seats = ranked.crossJoin(F.broadcast(deficit)).select(
        *gcols,
        (
            F.col("__alloc_base")
            + F.when(F.col("__alloc_rrank") <= F.col("__alloc_D"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("seats"),
    )
    w = Window.partitionBy(*gcols).orderBy(
        F.col("__alloc_h").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__alloc_h", unit_hash(id_col, salt))
        .join(seats, gcols)
        .withColumn("__alloc_rn", F.row_number().over(w))
        .filter(F.col("__alloc_rn") <= F.col("seats"))
        .drop("__alloc_h", "__alloc_rn")
    )


def waterfill_allocation(
    df: DataFrame,
    group_col: str,
    avail_col: str,
    budget: int,
) -> DataFrame:
    """Water-filling token-budget allocation across sources: give every
    source an equal share L of ``budget``, capped by its availability,
    with the waterline L as high as the budget allows — THE max-min
    fair mixing rule for "spend B training tokens across these corpora
    without oversampling the small ones". Sources smaller than the
    waterline contribute everything they have; the rest get L (+1 for
    the first ``remainder`` of them in (avail, group) order — exact
    integer accounting, ``sum(alloc) = min(budget, sum(avail))``).

    Pure integer arithmetic over the GROUP-bounded frame (one row per
    source): rank sources by (avail, group), prefix-sum availabilities,
    and test each rank as the cap/no-cap breakpoint — the unique rank
    where the implied waterline clears the last capped source but not
    the first uncapped one. Every step replays bit-for-bit in ANSI SQL
    (gate ``docs_waterfill_mix``). The partition-less windows here are
    exempt from the global-window rule by the same argument as the
    Pareto/KMV frames: they run over the per-SOURCE aggregate, never
    the fact table — the caller aggregates the corpus down to
    ``(source, avail)`` first (one map-side-combinable shuffle).

    Output: ``(group_col, avail, alloc)`` — both bigint.
    """
    if budget < 0:
        raise ValueError("waterfill_allocation requires budget >= 0")
    b = F.lit(int(budget))
    base = df.select(
        F.col(group_col).alias("__g"), F.col(avail_col).cast("bigint").alias("__a")
    )
    w = Window.orderBy("__a", "__g")
    tot = base.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__a").alias("__total")
    )
    # exact int64 floor division (ADVICE r11): `/` on bigints is a
    # DOUBLE divide, so floor((b - prev_s) / slots) silently breaks
    # the "pure integer arithmetic / bit-for-bit SQL replay" contract
    # once b - prev_s exceeds 2^53 — (a - pmod(a, b)) div b is
    # floor(a / b) in pure integer arithmetic for any sign of a
    # (matching the DuckDB oracle's integer //; same pattern as
    # temporal.py's anchor div). slots >= 1 by construction.
    ranked = (
        base.withColumn("__rk", F.row_number().over(w))
        .withColumn(
            "__S",
            F.sum("__a").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("__prev_a", F.lag("__a").over(w))
        .crossJoin(F.broadcast(tot))
        .withColumn("__num", b - (F.col("__S") - F.col("__a")))
        .withColumn("__slots", F.col("__n") - F.col("__rk") + F.lit(1))
        .withColumn(
            "__line",
            F.expr("(__num - pmod(__num, __slots)) div __slots").cast("bigint"),
        )
    )
    prev_s = F.col("__S") - F.col("__a")
    slots = F.col("__slots")
    line = F.col("__line")
    feasible = (
        (prev_s <= b)
        & (F.col("__prev_a").isNull() | (F.col("__prev_a") <= line))
        & (line < F.col("__a"))
    )
    # the unique breakpoint (exists iff total > budget): its waterline,
    # rank, and leftover seats broadcast back onto the source frame
    bp = (
        ranked.filter(feasible)
        .select(
            F.col("__rk").alias("__brk"),
            line.alias("__L"),
            (b - prev_s - line * slots).cast("bigint").alias("__R"),
        )
        .limit(1)
    )
    out = ranked.join(F.broadcast(bp), F.lit(True), "left")
    alloc = (
        F.when(F.col("__brk").isNull(), F.col("__a"))  # total <= budget
        .when(F.col("__rk") < F.col("__brk"), F.col("__a"))
        .when(F.col("__rk") - F.col("__brk") < F.col("__R"), F.col("__L") + 1)
        .otherwise(F.col("__L"))
    )
    return out.select(
        F.col("__g").alias(group_col),
        F.col("__a").alias("avail"),
        alloc.cast("bigint").alias("alloc"),
    )
