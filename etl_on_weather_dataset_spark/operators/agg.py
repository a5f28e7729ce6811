"""Aggregation operators: keyed mean rollups (A1/A3) and deterministic
grouped mode (A2).

Deterministic mode (SURVEY.md par.2a A2): the reference's
`x.mode().iloc[0]` (ETL.py:76-77) ignores nulls and breaks frequency
ties by the smallest value. Spark >=3.4 has `mode()` but it is
non-deterministic on ties, so we rewrite as:

    count per (keys, value)  ->  row_number() over
        (partition by keys order by count desc, value asc)  ->  = 1

All-null groups must still appear (with a null mode), so the winners
are left-joined back onto the full key domain.

Scale notes: both steps shuffle on the group keys. The count
aggregation gets map-side partial aggregation for free; the window is
over the (keys, value) count table, which is tiny relative to the
input (cardinality of the key-value domain, not row count).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mean_rollup(
    df: DataFrame,
    keys: Sequence[str],
    metrics: dict[str, str],
    scale: int | None = None,
) -> DataFrame:
    """group by ``keys``; mean of each metric col -> alias (A1/A3).

    ``metrics`` maps input column -> output alias. With ``scale`` set,
    metrics are fixed-decimal (<= log10(scale) dp) and the mean is
    computed over exact scaled-integer sums (functions/exact.py), so
    the result is bit-identical regardless of partitioning -- required
    for hash parity with a sequential oracle, and immune to float
    drift across retries at scale.
    """
    if scale is None:
        aggs = [F.avg(c).alias(a) for c, a in metrics.items()]
    else:
        from ..functions.exact import exact_avg

        aggs = [exact_avg(c, scale).alias(a) for c, a in metrics.items()]
    return df.groupBy(*keys).agg(*aggs)


def grouped_mode(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    output_col: str = "mode",
) -> DataFrame:
    """Deterministic most-frequent value per group (A2).

    Nulls excluded from counting (pandas mode semantics); a group whose
    values are all null yields one row with a null mode.
    """
    keys = list(keys)
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, value_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    # argmin over (-count, value) = max count, ties -> smallest value.
    # A single min_by aggregate replaces the row_number window: one
    # hash-agg instead of a sort, and the partial aggregation runs
    # map-side before the key exchange.
    winners = counts.groupBy(*keys).agg(
        F.min_by(
            value_col, F.struct((-F.col("__cnt")).alias("nc"), F.col(value_col))
        ).alias(output_col)
    )
    domain = df.select(*keys).dropDuplicates()
    return domain.join(winners, on=keys, how="left")

