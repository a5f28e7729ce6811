"""Join operators.

The reference's single join (J1, ETL.py:109-113) is a left equi-join of
a daily aggregate against distinct per-observation triples -- an
intentional fan-out back to observation grain. In Spark this is a plain
`join(on=key, how='left')`; the interesting part is strategy:

- the aggregate side is one row per group -- small -- so we hint
  `broadcast()` when the caller says the build side is dimension-sized;
- otherwise we leave strategy to Catalyst + AQE (shuffle hash / SMJ,
  skew-split at runtime).

Never force a broadcast of an unbounded side: at 100 TB "daily agg"
over decades x stations can exceed driver memory; `auto` trusts AQE's
runtime statistics instead of our guess.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str,
    right_value_cols: Sequence[str],
    left_id_col: str,
) -> DataFrame:
    """As-of join: for each left row, the latest right row of the same
    key with right.ts <= left.ts (inclusive).

    Spark has no native as-of join; the scalable re-expression is the
    union-and-carry-forward pattern (one shuffle on the key, no range
    explosion -- compare pandas merge_asof, which is single-node):

      1. tag left rows side=1, right rows side=0;
      2. union; window over (key) ordered by (ts, side, tiebreak);
      3. `last(right_value, ignoreNulls)` carries the most recent
         right values forward onto every left row;
      4. keep side=1 rows.

    Ties (equal ts) resolve right-before-left, i.e. 'at or before'.
    State per partition is one row of carried values -- O(1) memory,
    streaming-friendly, and the window sort is the only cost beyond
    the key shuffle. At 100 TB: partition count on the key bounds
    parallelism; no broadcast, no range-bucket blowup.
    """
    lcols = left.columns
    tagged_l = left.select(
        *lcols,
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in right_value_cols],
    )
    tagged_r = right.select(
        *[
            F.col(c) if c in (on, ts_col) else F.lit(None).cast(
                left.schema[c].dataType
            ).alias(c)
            for c in lcols
        ],
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in right_value_cols],
    )
    unioned = tagged_l.unionByName(tagged_r)
    from pyspark.sql import Window

    # Ordering must be a total order on BOTH sides: left rows tiebreak
    # on their id; right rows (null id) tiebreak on their carried
    # values, otherwise duplicate (key, ts) right rows would make the
    # carried value engine-arbitrary (largest value wins, ascending
    # order + last()). Keep in lockstep with the oracle SQL.
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc(),
                 F.col(left_id_col).asc_nulls_first(),
                 *[F.col(f"__r_{c}").asc_nulls_first()
                   for c in right_value_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        "__side",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_value_cols
        ],
    )
    return carried.filter(F.col("__side") == 1).drop("__side")


def fanout_join_daily(
    daily_agg: DataFrame,
    observations: DataFrame,
    date_col: str,
    detail_cols: Sequence[str],
) -> DataFrame:
    """J1: daily aggregate <-left join- distinct observation details.

    Reproduces ETL.py:109-113: the right side is the deduplicated
    (date, *detail) projection (P4+D2, ETL.py:110); joining fans each
    daily row out to one row per distinct detail tuple.
    """
    right = observations.select(date_col, *detail_cols).dropDuplicates()
    # Strategy: a left-outer join can only broadcast its non-preserved
    # (right) side, which here is the big observation-grain side -- so
    # no hint. AQE picks a shuffled-hash join building the tiny
    # aggregate side at runtime, which is the plan we want.
    return daily_agg.join(right, on=date_col, how="left")


# --- within-group co-occurrence (co-purchase affinity) ------------------------------

def cooccurrence_topk(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 20,
    max_group_items: int | None = None,
) -> DataFrame:
    """Top item PAIRS by within-group co-occurrence -- the
    co-purchase / co-visitation affinity table (the classic
    market-basket count, the input to lift/PMI recommenders).

    Pairs enumerate per group as an equi-self-join on the group key
    over the DISTINCT (group, item) relation with ``item_a <
    item_b``; the count then aggregates by pair. A group with m
    distinct items contributes C(m, 2) pairs, so the quadratic is
    bounded by the largest basket -- pass ``max_group_items`` to
    fail loud when a whale group would blow that bound (the hot-key
    guard: at 100 TB a single pathological basket of 10^5 items is
    5e9 pairs; cap it or pre-split upstream). Determinism: output is
    top-``k`` by (n_groups DESC, item_a, item_b) via row_number.

    Scale shape: distinct -> self-join on the group key (equi-join,
    AQE-skew-splittable) -> pair count (map-side combinable) -> one
    TakeOrderedAndProject. Nothing shuffles at pair grain beyond the
    baskets' own C(m, 2) mass.
    """
    from pyspark.sql import Window

    gi = (
        df.select(
            F.col(group_col).alias("g"), F.col(item_col).alias("i")
        )
        .distinct()
    )
    if max_group_items is not None:
        # the guard lives in a FILTER predicate, not a projected
        # column: Catalyst prunes unused projections (a dropped
        # raise_error column never evaluates), but filter conditions
        # always run
        sizes = gi.groupBy("g").agg(F.count(F.lit(1)).alias("m"))
        gi = (
            gi.join(F.broadcast(sizes), "g")
            .filter(
                F.when(
                    F.col("m") <= max_group_items, F.lit(True)
                ).otherwise(
                    F.expr(
                        f"raise_error(concat('cooccurrence_topk:"
                        f" group ', cast(g as string), ' has more"
                        f" than {max_group_items} distinct items --"
                        f" C(m,2) pair fan-out would exceed the"
                        f" bound; cap or pre-split upstream'))"
                    ).cast("boolean")
                )
            )
            .drop("m")
        )
    pairs = (
        gi.alias("a")
        .join(gi.alias("b"), "g")
        .filter(F.col("a.i") < F.col("b.i"))
        .groupBy(
            F.col("a.i").alias("item_a"), F.col("b.i").alias("item_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
    )
    w = Window.orderBy(
        F.col("n_groups").desc(), F.col("item_a"), F.col("item_b")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("item_a", "item_b", "n_groups")
    )


def cooccurrence_topk_sql(
    table_sql: str,
    group_col: str,
    item_col: str,
    k: int = 20,
) -> str:
    """DuckDB twin of :func:`cooccurrence_topk` (same distinct pair
    join, same tiebreak)."""
    return f"""
        WITH gi AS (
            SELECT DISTINCT {group_col} AS g, {item_col} AS i
            FROM ({table_sql})
        ), pairs AS (
            SELECT a.i AS item_a, b.i AS item_b,
                   CAST(COUNT(*) AS BIGINT) AS n_groups
            FROM gi a JOIN gi b USING (g)
            WHERE a.i < b.i
            GROUP BY 1, 2
        )
        SELECT item_a, item_b, n_groups FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY n_groups DESC, item_a, item_b) AS rk
            FROM pairs
        ) WHERE rk <= {k}
    """
