"""Skew-handling join/aggregation utilities.

AQE's skew-join splitting (``spark.sql.adaptive.skewJoin``) is the
first line of defense and needs no code. These helpers cover the cases
AQE cannot fix at 100 TB:

* a *broadcast-infeasible* dimension joined on a key whose hot values
  overwhelm single tasks → :func:`salted_join` (explode the small side
  R ways, salt the big side randomly, join on (key, salt));
* a global/grouped aggregation with hot groups → :func:`two_stage_agg`
  (partial aggregate on (key, salt), then final merge on key — the
  manual form of map-side combine for aggregates Spark cannot
  partially evaluate, e.g. ``collect_list`` pipelines).

Both are semantics-preserving for any key distribution; salting only
changes the physical row placement.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_join", "two_stage_agg"]


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to hot keys on the ``big`` side.

    The big side gets a uniform random salt in ``[0, num_salts)`` (from
    a per-row hash of all columns, not ``rand()`` — deterministic
    reruns); the small side is exploded ``num_salts`` times so every
    (key, salt) bucket finds its match. Hot-key rows therefore spread
    over ``num_salts`` tasks instead of one. Output columns = big's
    columns + small's non-key columns (the usual equi-join shape).

    Cost: the small side is replicated ``num_salts`` times — keep it
    the dimension side. For a small side that fits in memory, prefer
    ``F.broadcast`` (no shuffle at all); this helper is for the middle
    regime where the dimension is too big to broadcast and a key is too
    hot for one task.

    Only joins that never emit an unmatched SMALL-side row are allowed:
    with ``right``/``full``, each unmatched small row was exploded
    ``num_salts`` times and would surface as duplicates.
    """
    safe = {"inner", "left", "left_outer", "leftouter", "cross",
            "semi", "left_semi", "leftsemi", "anti", "left_anti", "leftanti"}
    if how.lower() not in safe:
        raise ValueError(
            f"salted_join: how={how!r} is not semantics-preserving (the "
            f"exploded small side would duplicate unmatched rows); use one "
            f"of {sorted(safe)} or a plain join for right/full outer."
        )
    on = list(on)
    salt = F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(num_salts))
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return b.join(s, on + ["__salt"], how).drop("__salt")


def two_stage_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial: Sequence[Column],
    final: Sequence[Column],
    num_salts: int = 16,
) -> DataFrame:
    """Two-stage (salted) aggregation for hot grouping keys.

    ``partial`` aggregates run per (key, salt) — hot groups split over
    ``num_salts`` tasks; ``final`` expressions merge the partials per
    key. Example::

        two_stage_agg(
            events, ["user_id"],
            partial=[F.count("*").alias("c"), F.sum("value").alias("s")],
            final=[F.sum("c").alias("n_events"), F.sum("s").alias("total")],
        )

    For algebraic aggregates Spark already does this (map-side partial
    aggregation); use this form when a pipeline forces full shuffles of
    raw rows (``collect_list``/``percentile_approx`` chains, UDAF-ish
    pandas aggregations).
    """
    keys = list(keys)
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(num_salts))
    staged = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*partial)
        .drop("__salt")
    )
    return staged.groupBy(*keys).agg(*final)
