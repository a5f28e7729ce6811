"""Aggregation operators: keyed mean rollups (A1/A3) and deterministic
grouped mode (A2).

Deterministic mode (SURVEY.md par.2a A2): the reference's
`x.mode().iloc[0]` (ETL.py:76-77) ignores nulls and breaks frequency
ties by the smallest value. Spark's `mode(col, deterministic=True)`
has exactly that contract: nulls are not counted, ties go to the
lowest value, and a group whose values are all null still appears,
with a null mode. So the mode is one more aggregate column beside the
means -- A3's monthly means and mode share a single `groupBy`.

Scale notes: one key exchange per rollup. The mode's per-group buffer
is a (value -> count) map whose size is the group's value domain, not
its row count, and it is merged map-side before the exchange like the
sums are.
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
    modes: dict[str, str] | None = None,
) -> DataFrame:
    """group by ``keys``; mean of each metric col -> alias (A1/A3).

    ``metrics`` maps input column -> output alias. With ``scale`` set,
    metrics are fixed-decimal (<= log10(scale) dp) and the mean is
    computed over exact scaled-integer sums (functions/exact.py), so
    the result is bit-identical regardless of partitioning -- required
    for hash parity with a sequential oracle, and immune to float
    drift across retries at scale.

    ``modes`` maps input column -> output alias of a deterministic
    mode (:func:`grouped_mode` semantics) computed in the same
    aggregate.
    """
    if scale is None:
        aggs = [F.avg(c).alias(a) for c, a in metrics.items()]
    else:
        from ..functions.exact import exact_avg

        aggs = [exact_avg(c, scale).alias(a) for c, a in metrics.items()]
    aggs += [
        F.mode(c, deterministic=True).alias(a)
        for c, a in (modes or {}).items()
    ]
    return df.groupBy(*keys).agg(*aggs)


def grouped_mode(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    output_col: str = "mode",
) -> DataFrame:
    """Deterministic most-frequent value per group (A2).

    Nulls excluded from counting (pandas mode semantics), frequency
    ties broken by the smallest value; a group whose values are all
    null yields one row with a null mode.
    """
    return df.groupBy(*keys).agg(
        F.mode(value_col, deterministic=True).alias(output_col)
    )
