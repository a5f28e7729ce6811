"""Mergeable fixed-grid histogram sketch -> quantile estimates.

The third leg of the repo's sketch trio (HLL = distinct counts, CMS =
frequencies, histogram = quantiles). Spark's exact
``percentile``/``approx_percentile`` live inside one aggregation: you
cannot persist the state, union last week's with this week's, or ship
it between jobs. A fixed-grid histogram CAN: the sketch is a plain
(group..., bin, cnt) DataFrame -- persist it, merge batches by
summing counts per bin (:func:`histogram_merge`), and read any
quantile off the cumulative counts whenever needed. At 100 TB this is
the only quantile that composes with an incremental rollup store:
cost is one narrow projection + an n_bins-wide aggregate per batch
(map-side combine, constant-width shuffle), and the sketch is O(bins)
rows regardless of corpus size.

Engine-exact by construction (the CMS/HLL stance): values are
micro-scaled to BIGINT with the house rounding (ROUND(v*1e6) --
Spark's HALF_UP on the exact double equals DuckDB's rounding CAST),
clamped to [lo, hi] BEFORE the bin division so the integer division
never sees a negative numerator (Spark ``div`` truncates toward zero,
DuckDB ``//`` floors -- identical only for non-negative operands),
and quantile selection is a pure integer-rank rule over cumulative
counts. No float ever crosses an engine boundary, so the DuckDB twin
rebuilds the sketch cell-for-cell and the driver hash pins the sketch
itself.

Accuracy: estimates are exact to one grid cell -- error <=
(hi - lo) / n_bins. Bounds are explicit parameters (a capacity
decision, like CMS width); out-of-range values clamp into the edge
bins, preserving counts (quantiles saturate at the bounds rather
than dropping rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

MICRO = 1_000_000


def _bin_expr(value_col: str, lo_micro: int, hi_micro: int,
              n_bins: int) -> str:
    """Spark SQL expression: micro-scale, clamp, integer-divide into
    [0, n_bins-1]. Kept as one string so the DuckDB twin is the same
    text with ``div`` -> ``//``."""
    vm = f"CAST(ROUND({value_col} * {MICRO}) AS BIGINT)"
    clamped = f"LEAST(GREATEST({vm}, {lo_micro}), {hi_micro})"
    raw = (f"(({clamped} - {lo_micro}) * {n_bins})"
           f" div ({hi_micro} - {lo_micro})")
    return f"CAST(LEAST({raw}, {n_bins - 1}) AS INT)"


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    lo_micro: int,
    hi_micro: int,
    n_bins: int = 256,
    group_cols: list[str] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch: (group..., bin, cnt). NULL values are
    excluded (the HLL/CMS contract). One projection + one aggregate;
    output is <= n_bins rows per group.

    ``weight_col`` (integer, e.g. token counts) makes ``cnt`` the
    weight SUM per bin instead of the row count -- downstream merge
    and quantile selection are unchanged, so
    :func:`histogram_quantiles` then answers WEIGHTED quantiles
    ("the document length below which half the corpus's TOKENS sit",
    not half its documents)."""
    groups = group_cols or []
    measure = (
        F.count(F.lit(1)) if weight_col is None
        else F.sum(F.col(weight_col).cast("long"))
    )
    cols = [weight_col] if weight_col else []
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *groups, *cols,
            F.expr(_bin_expr(value_col, lo_micro, hi_micro, n_bins))
            .alias("bin"),
        )
        .groupBy(*groups, "bin")
        .agg(measure.alias("cnt"))
    )


def histogram_merge(
    *sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Merge sketches built with the same grid: sum counts per
    (group..., bin). Associative and commutative, so batches merge in
    any order; ``group_cols`` must match the builder's (the grouped-
    HLL-merge lesson: omitting it fuses groups)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*(group_cols or []), "bin").agg(
        F.sum("cnt").alias("cnt")
    )


def histogram_quantiles(
    sketch: DataFrame,
    q_ppms: list[int],
    lo_micro: int,
    hi_micro: int,
    n_bins: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates off the sketch: (group..., q_ppm, n_rows,
    est_micro). For quantile q (in ppm), pick the first bin whose
    cumulative count c satisfies ``c * 1e6 >= q * total`` (pure
    integer comparison -- no rank float), and report that bin's LOWER
    edge in micros: lo + bin * (hi - lo) div n_bins. Exact to one
    grid cell by construction."""
    from pyspark.sql import Window

    groups = group_cols or []
    w_cum = (
        Window.partitionBy(*groups).orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*groups)
    qdf = local_frame(
        sketch.sparkSession, [(q,) for q in q_ppms], "q_ppm long"
    )
    cum = (
        sketch.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("total", F.sum("cnt").over(w_all))
    )
    # CAST bin first: INT * INT overflows under ANSI when hi-lo fits
    # in int32 (the product doesn't)
    edge = (f"{lo_micro} + CAST(bin AS BIGINT)"
            f" * ({hi_micro} - {lo_micro}) div {n_bins}")
    hits = (
        # constant q_ppms-row relation: broadcast NL join, never a
        # shuffle (the one-row-constant-relation pattern, PLANS.md)
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") * MICRO >= F.col("q_ppm") * F.col("total"))
        .groupBy(*groups, "q_ppm")
        .agg(
            F.max("total").alias("n_rows"),
            F.min(F.expr(edge)).alias("est_micro"),
        )
    )
    return hits.select(*groups, "q_ppm", "n_rows", "est_micro")


# --- DuckDB twins -----------------------------------------------------------


def histogram_sketch_sql(
    table_sql: str,
    value_col: str,
    lo_micro: int,
    hi_micro: int,
    n_bins: int = 256,
    group_cols: list[str] | None = None,
    weight_col: str | None = None,
) -> str:
    """Oracle twin of histogram_sketch: identical integer pipeline
    (DuckDB ``//`` == Spark ``div`` on the clamped non-negative
    operands). Emits (group..., bin, cnt) with BIGINT cnt."""
    groups = group_cols or []
    gsel = "".join(f"{g}, " for g in groups)
    gby = ", ".join([*groups, "bin"]) if groups else "bin"
    binx = _bin_expr(value_col, lo_micro, hi_micro, n_bins).replace(
        " div ", " // "
    )
    measure = (
        "COUNT(*)" if weight_col is None
        else f"CAST(SUM(CAST({weight_col} AS BIGINT)) AS BIGINT)"
    )
    return f"""
        SELECT {gsel}{binx} AS bin,
               {measure} AS cnt
        FROM ({table_sql})
        WHERE {value_col} IS NOT NULL
        GROUP BY {gby}
    """


def histogram_quantiles_sql(
    sketch_sql: str,
    q_ppms: list[int],
    lo_micro: int,
    hi_micro: int,
    n_bins: int = 256,
    group_cols: list[str] | None = None,
) -> str:
    """Oracle twin of histogram_quantiles over a sketch relation."""
    groups = group_cols or []
    part = f"PARTITION BY {', '.join(groups)}" if groups else ""
    gsel = "".join(f"{g}, " for g in groups)
    gby = ", ".join([*groups, "q_ppm"]) if groups else "q_ppm"
    qvals = ", ".join(f"({q})" for q in q_ppms)
    edge = (f"{lo_micro} + CAST(bin AS BIGINT)"
            f" * ({hi_micro} - {lo_micro}) // {n_bins}")
    return f"""
        WITH sk AS ({sketch_sql}),
        cum AS (
            SELECT *,
                   CAST(SUM(cnt) OVER ({part} ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum,
                   CAST(SUM(cnt) OVER ({part}) AS BIGINT) AS total
            FROM sk
        ),
        qs AS (SELECT * FROM (VALUES {qvals}) t(q_ppm))
        SELECT {gsel}CAST(q_ppm AS BIGINT) AS q_ppm,
               CAST(MAX(total) AS BIGINT) AS n_rows,
               CAST(MIN({edge}) AS BIGINT) AS est_micro
        FROM cum CROSS JOIN qs
        WHERE cum * {MICRO} >= q_ppm * total
        GROUP BY {gby}
    """


# --- persistent incremental quantile store ------------------------------------


def histogram_store_ingest(
    spark,
    batch: DataFrame,
    store_path: str,
    batch_id: str,
    value_col: str,
    lo_micro: int,
    hi_micro: int,
    n_bins: int = 256,
    group_cols: list[str] | None = None,
    keep_versions: int | None = None,
) -> DataFrame:
    """Fold one ingestion batch into a PERSISTENT quantile store:
    bin the batch on the fixed grid and merge it into the versioned
    rollup store keyed on (group..., bin) -- counts per bin are the
    rollup's ``n_rows``, so the exactly-once machinery (marker-last
    commit, batch replay ledger, keep-last-N vacuum) is inherited
    verbatim from operators/rollup_store.py rather than rebuilt.
    The store also accumulates exact scaled-integer per-bin sums,
    which an interpolating reader could use for sub-cell estimates.

    foreachBatch streaming ingestion: call this from the sink with
    the namespaced streaming batch id (the stream_incremental_rollup
    ledger recipe); replays are no-ops.
    """
    from .rollup_store import incremental_rollup

    groups = group_cols or []
    binned = batch.filter(F.col(value_col).isNotNull()).select(
        *groups,
        F.expr(_bin_expr(value_col, lo_micro, hi_micro, n_bins))
        .alias("bin"),
        F.col(value_col).alias("__v"),
    )
    return incremental_rollup(
        spark, binned, store_path, batch_id,
        key_cols=[*groups, "bin"], value_col="__v",
        keep_versions=keep_versions,
    )


def histogram_store_quantiles(
    spark,
    store_path: str,
    q_ppms: list[int],
    lo_micro: int,
    hi_micro: int,
    n_bins: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantiles straight off the persistent store's current version
    -- no corpus scan, ever: the read is O(bins x groups) rows."""
    from .rollup_store import read_rollup

    agg, _, version = read_rollup(spark, store_path)
    if agg is None:
        raise ValueError(f"no committed store at {store_path}")
    sketch = agg.select(
        *(group_cols or []), "bin", F.col("n_rows").alias("cnt")
    )
    return histogram_quantiles(
        sketch, q_ppms, lo_micro, hi_micro, n_bins,
        group_cols=group_cols,
    )
