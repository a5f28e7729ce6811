"""Column profiling: one-pass data-quality statistics per column
(the Deequ/great-expectations "profiler" surface -- the first thing a
data engineer runs against an unfamiliar 100 TB table).

One aggregate job over the table computes, for every profiled column:
row count, null count, exact distinct count, and a type-appropriate
min/max (numeric as double, strings by length, timestamps natively).
The single agg row is then exploded into one row per column -- so the
table is scanned ONCE however many columns are profiled.

Scale notes:
- multiple exact COUNT(DISTINCT col) in one aggregate compile to
  Spark's Expand (one pass over the data, one duplicated row per
  distinct-aggregate) -- the standard multi-distinct shape. At very
  wide tables or petabyte scale pass ``exact_distinct=False`` to use
  HLL (`approx_count_distinct`) instead: no Expand, pure map-side
  sketch merge. The oracle twin only exists for the exact form.
- min/max/count/null-count are map-side-combinable; nothing here
  shuffles anything wider than the aggregation buffers.

Engine-invariance: counts are exact integers; numeric min/max are
selections of existing values (no arithmetic), so their doubles are
bit-identical; string columns are profiled by LENGTH bounds (integers)
-- never by value casting, whose text formatting differs between
engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

PPM = 1_000_000


def profile(df: DataFrame, exact_distinct: bool = True) -> DataFrame:
    """Profile every column of supported type; one output row each.

    Output: (col_name, dtype, n_rows, n_null, n_distinct,
    min_num, max_num, min_len, max_len, min_ts, max_ts) -- the
    type-inappropriate slots are null.
    """
    num_types = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType,
    )
    ts_types = (T.TimestampType, T.TimestampNTZType, T.DateType)

    aggs: list[F.Column] = [F.count(F.lit(1)).alias("__n")]
    specs: list[tuple[str, str]] = []  # (column, kind)
    for field in df.schema.fields:
        c, name = F.col(field.name), field.name
        if isinstance(field.dataType, num_types):
            kind = "numeric"
        elif isinstance(field.dataType, T.StringType):
            kind = "string"
        elif isinstance(field.dataType, ts_types):
            kind = "timestamp"
        else:
            continue  # arrays/binary/maps: not profiled
        specs.append((name, kind))
        aggs.append(
            F.count(F.when(c.isNull(), 1)).alias(f"__null_{name}")
        )
        aggs.append(
            (
                F.countDistinct(c)
                if exact_distinct
                else F.approx_count_distinct(c)
            ).alias(f"__dist_{name}")
        )
        if kind == "numeric":
            aggs.append(F.min(c).cast("double").alias(f"__min_{name}"))
            aggs.append(F.max(c).cast("double").alias(f"__max_{name}"))
        elif kind == "string":
            aggs.append(F.min(F.length(c)).alias(f"__min_{name}"))
            aggs.append(F.max(F.length(c)).alias(f"__max_{name}"))
        else:
            # explicit cast: a DATE column must surface as timestamp
            # even when NO other column forces the struct array to
            # unify the slot (all-date tables would otherwise emit
            # DATE here while the SQL twin casts to TIMESTAMP)
            aggs.append(
                F.min(c).cast("timestamp").alias(f"__min_{name}")
            )
            aggs.append(
                F.max(c).cast("timestamp").alias(f"__max_{name}")
            )

    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(name).alias("col_name"),
            F.lit(kind).alias("dtype"),
            F.col("__n").alias("n_rows"),
            F.col(f"__null_{name}").alias("n_null"),
            F.col(f"__dist_{name}").alias("n_distinct"),
            (
                F.col(f"__min_{name}")
                if kind == "numeric"
                else F.lit(None).cast("double")
            ).alias("min_num"),
            (
                F.col(f"__max_{name}")
                if kind == "numeric"
                else F.lit(None).cast("double")
            ).alias("max_num"),
            (
                F.col(f"__min_{name}").cast("long")
                if kind == "string"
                else F.lit(None).cast("long")
            ).alias("min_len"),
            (
                F.col(f"__max_{name}").cast("long")
                if kind == "string"
                else F.lit(None).cast("long")
            ).alias("max_len"),
            (
                F.col(f"__min_{name}")
                if kind == "timestamp"
                else F.lit(None).cast("timestamp")
            ).alias("min_ts"),
            (
                F.col(f"__max_{name}")
                if kind == "timestamp"
                else F.lit(None).cast("timestamp")
            ).alias("max_ts"),
        )
        for name, kind in specs
    ])
    return one.select(F.explode(rows).alias("r")).select("r.*")


def profile_sql(table: str, columns: list[tuple[str, str]]) -> str:
    """DuckDB twin of profile(exact_distinct=True) for the given
    (column, kind) list, kinds in {numeric, string, timestamp}."""
    parts = []
    for name, kind in columns:
        if kind == "numeric":
            mn = f"CAST(MIN({name}) AS DOUBLE)"
            mx = f"CAST(MAX({name}) AS DOUBLE)"
            ln = "CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)"
            ts = "CAST(NULL AS TIMESTAMP)", "CAST(NULL AS TIMESTAMP)"
            num = mn, mx
        elif kind == "string":
            num = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ln = (
                f"CAST(MIN(length({name})) AS BIGINT)",
                f"CAST(MAX(length({name})) AS BIGINT)",
            )
            ts = "CAST(NULL AS TIMESTAMP)", "CAST(NULL AS TIMESTAMP)"
        else:
            num = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ln = "CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)"
            # explicit TIMESTAMP cast: Spark's struct array coerces a
            # DATE column's min/max to timestamp to unify with the
            # other rows' null slots, so the twin must match
            ts = (
                f"CAST(MIN({name}) AS TIMESTAMP)",
                f"CAST(MAX({name}) AS TIMESTAMP)",
            )
        parts.append(f"""
            SELECT '{name}' AS col_name, '{kind}' AS dtype,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null,
                   CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct,
                   {num[0]} AS min_num, {num[1]} AS max_num,
                   {ln[0]} AS min_len, {ln[1]} AS max_len,
                   {ts[0]} AS min_ts, {ts[1]} AS max_ts
            FROM {table}""")
    return " UNION ALL ".join(parts)


def corr_matrix(
    df: DataFrame, cols: list[str], scale: int = 100
) -> DataFrame:
    """All pairwise Pearson correlations in ONE aggregate pass.

    For k columns the pass computes k sums, k sums-of-squares and
    k*(k-1)/2 cross-products as exact scaled-bigint aggregates (the
    inputs are fixed-decimal), then derives every r from those
    integers with one fixed float expression -- so the full matrix
    costs a single scan + a 1-row reduce, and is bit-identical to a
    sequential engine running the same formula. Compare
    MLlib's Correlation.corr, which assembles vectors and gives no
    engine-exactness guarantee.

    Returns long-form rows (col_x, col_y, r) for x < y.
    """
    def c(name: str) -> Column:
        return F.round(F.col(name) * scale).cast("long")

    # Per-term products stay in BIGINT (cents-scaled inputs ~1e7 ->
    # ~1e14 per term, well inside int64), but the SUMS accumulate in
    # DECIMAL(38,0): with ~1e14-sized terms an int64 sum wraps
    # silently at ~85k rows (r4 advice) -- far below even sf0.1's
    # 600k-row lineitem, let alone 100 TB. DECIMAL(38,0) holds ~1e38,
    # i.e. ~1e24 rows of cents-scaled data, and Spark's decimal sum
    # is exact integer arithmetic so the engine-exactness contract
    # (bit-identical to the oracle's HUGEINT sums) is preserved.
    def dsum(col: Column) -> Column:
        return F.sum(col.cast("decimal(38,0)"))

    aggs: list[Column] = [F.count(F.lit(1)).alias("n")]
    for a in cols:
        aggs.append(dsum(c(a)).alias(f"s_{a}"))
        aggs.append(dsum(c(a) * c(a)).alias(f"ss_{a}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(dsum(c(a) * c(b)).alias(f"sp_{a}_{b}"))
    one = df.agg(*aggs)

    pairs = None
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            n = F.col("n").cast("double")
            sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
            ssa, ssb = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
            sp = F.col(f"sp_{a}_{b}").cast("double")
            r = (n * sp - sa * sb) / F.sqrt(
                (n * ssa - sa * sa) * (n * ssb - sb * sb)
            )
            row = one.select(
                F.lit(a).alias("col_x"), F.lit(b).alias("col_y"),
                r.alias("r"),
            )
            pairs = row if pairs is None else pairs.unionAll(row)
    return pairs


def corr_matrix_sql(
    table: str, cols: list[str], scale: int = 100
) -> str:
    """DuckDB twin of :func:`corr_matrix` (same integer sums + float
    formula shape)."""
    def c(name: str) -> str:
        return f"CAST(ROUND({name} * {scale}) AS BIGINT)"

    sel = ["COUNT(*) AS n"]
    for a in cols:
        sel.append(f"SUM({c(a)}) AS s_{a}")
        sel.append(f"SUM({c(a)} * {c(a)}) AS ss_{a}")
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            sel.append(f"SUM({c(a)} * {c(b)}) AS sp_{a}_{b}")
    parts = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            expr = (
                f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
                f" / SQRT((CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
                f" * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
            )
            parts.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y, {expr} AS r"
                f" FROM one"
            )
    return (
        f"WITH one AS (SELECT {', '.join(sel)} FROM {table}) "
        + " UNION ALL ".join(parts)
    )


# --- functional-dependency / candidate-key audit --------------------------------


def fd_audit(
    df: DataFrame,
    fds: list[tuple[tuple[str, ...], str | None]],
) -> DataFrame:
    """Audit candidate functional dependencies ``lhs -> rhs`` (and,
    with ``rhs=None``, candidate KEYS: "lhs determines the row").

    One output row per candidate:
      - ``fd``: ``"a,b->c"`` (or ``"a,b->*"`` for a key check),
      - ``n_rows``: table rows,
      - ``n_groups``: distinct LHS combinations,
      - ``n_violating_groups``: LHS groups with >1 distinct RHS value
        (for keys: groups with >1 row),
      - ``g3_delete_rows``: the classical g3 error -- the MINIMUM
        number of rows to delete so the FD holds exactly (0 iff the
        FD holds): ``n_rows - sum over groups of max per-RHS count``
        (for keys: ``n_rows - n_groups``),
      - ``holds``: ``g3_delete_rows == 0``.

    NULL discipline: NULL is one more RHS value (two groups
    ``(x, NULL)`` and ``(x, 1)`` violate), which both engines express
    identically through GROUP BY equality -- no null-safe-compare
    traps (the round-8 full-outer lesson).

    Scale shape: each FD is ONE two-level aggregate -- groupBy(lhs,
    rhs) with map-side combine, then groupBy(lhs), then a 1-row
    summary -- over a scan pruned to exactly lhs+rhs columns. Jobs
    union |fds| one-row frames; nothing collects, nothing joins. At
    100 TB each audit costs one shuffle whose key is the LHS (the
    same shuffle the table's natural grouping would cost); auditing
    k FDs is k independent jobs, not k passes of one widening plan.
    """
    if not fds:
        raise ValueError("fd_audit needs at least one candidate")
    out: DataFrame | None = None
    for lhs, rhs in fds:
        if not lhs:
            raise ValueError("FD needs a non-empty LHS")
        label = ",".join(lhs) + "->" + (rhs if rhs else "*")
        if rhs is None:
            per_group = df.groupBy(*lhs).agg(
                F.count(F.lit(1)).alias("n_in_group")
            )
            summary = per_group.agg(
                F.lit(label).alias("fd"),
                F.sum("n_in_group").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum(
                    F.when(F.col("n_in_group") > 1, 1).otherwise(0)
                ).cast("long").alias("n_violating_groups"),
                (F.sum("n_in_group") - F.count(F.lit(1)))
                .cast("long").alias("g3_delete_rows"),
            )
        else:
            per_value = df.groupBy(
                *lhs, F.col(rhs).alias("_rhs")
            ).agg(F.count(F.lit(1)).alias("n_rv"))
            per_group = per_value.groupBy(*lhs).agg(
                F.sum("n_rv").alias("n_in_group"),
                F.count(F.lit(1)).alias("n_rhs"),
                F.max("n_rv").alias("max_rv"),
            )
            summary = per_group.agg(
                F.lit(label).alias("fd"),
                F.sum("n_in_group").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum(
                    F.when(F.col("n_rhs") > 1, 1).otherwise(0)
                ).cast("long").alias("n_violating_groups"),
                (F.sum("n_in_group") - F.sum("max_rv"))
                .cast("long").alias("g3_delete_rows"),
            )
        summary = summary.withColumn(
            "holds", F.col("g3_delete_rows") == 0
        )
        out = summary if out is None else out.unionByName(summary)
    return out


def fd_audit_sql(
    table: str,
    fds: list[tuple[tuple[str, ...], str | None]],
) -> str:
    """DuckDB twin of :func:`fd_audit` (same two-level aggregates,
    BIGINT casts to dodge HUGEINT promotion)."""
    parts = []
    for lhs, rhs in fds:
        cols = ", ".join(lhs)
        label = ",".join(lhs) + "->" + (rhs if rhs else "*")
        if rhs is None:
            parts.append(f"""
                SELECT '{label}' AS fd,
                       CAST(SUM(n_in_group) AS BIGINT) AS n_rows,
                       CAST(COUNT(*) AS BIGINT) AS n_groups,
                       CAST(SUM(CASE WHEN n_in_group > 1 THEN 1
                                     ELSE 0 END) AS BIGINT)
                           AS n_violating_groups,
                       CAST(SUM(n_in_group) - COUNT(*) AS BIGINT)
                           AS g3_delete_rows,
                       SUM(n_in_group) - COUNT(*) = 0 AS holds
                FROM (SELECT COUNT(*) AS n_in_group
                      FROM {table} GROUP BY {cols})""")
        else:
            parts.append(f"""
                SELECT '{label}' AS fd,
                       CAST(SUM(n_in_group) AS BIGINT) AS n_rows,
                       CAST(COUNT(*) AS BIGINT) AS n_groups,
                       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1
                                     ELSE 0 END) AS BIGINT)
                           AS n_violating_groups,
                       CAST(SUM(n_in_group) - SUM(max_rv) AS BIGINT)
                           AS g3_delete_rows,
                       SUM(n_in_group) - SUM(max_rv) = 0 AS holds
                FROM (SELECT SUM(n_rv) AS n_in_group,
                             COUNT(*) AS n_rhs,
                             MAX(n_rv) AS max_rv
                      FROM (SELECT {cols}, COUNT(*) AS n_rv
                            FROM {table} GROUP BY {cols}, {rhs})
                      GROUP BY {cols})""")
    return " UNION ALL ".join(parts)


# --- Benford first-digit audit (round-12) ---------------------------------------

# log10(1 + 1/d) in exact ppm, d = 1..9 -- pinned integer literals in
# BOTH engines (no float log at query time, no rounding-boundary
# divergence). They sum to 1_000_000.
BENFORD_PPM: dict[int, int] = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_digit_audit(
    df: DataFrame, value_col: str, scale: int = 100
) -> DataFrame:
    """First-significant-digit distribution of a positive money/metric
    column vs Benford's law -- the classic forensic data-quality
    screen (Nigrini 2012): fabricated, capped, or unit-mangled
    numeric feeds bend the leading-digit curve long before any range
    check fires.

    The leading digit is scale-invariant under the fixed-point
    ``scale`` factor (x -> 100x moves the decimal point, never the
    leading digit), so the value is first snapped to exact integer
    units via ``FLOOR(x * scale + 0.5)`` -- one identical IEEE
    expression in both engines (no engine-specific double-to-string
    formatting, no ROUND half-mode divergence) -- and the digit is
    read off the BIGINT's decimal text. Null values and values that
    snap below one fixed-point unit are excluded (Benford applies to
    positive magnitudes; a sub-unit value has no leading digit at
    this scale), so every counted value lands on a digit 1..9 and
    observed_ppm sums to 1e6 minus trunc residue.

    Output: one row per digit 1..9 (always all nine -- the expected
    relation left-joins the observed counts) with n_values,
    observed_ppm (exact trunc-div of positive operands),
    expected_ppm (pinned literals above), delta_ppm (signed). The
    max |delta_ppm| row is the headline a fraud/ingest dashboard
    alerts on.

    Scale shape: one map-side-combinable groupBy over <= 9 observed
    digits; the 9-row expected relation joins broadcast-side. Nothing
    here shuffles more than 9 rows past the partial aggregate.
    """
    spark = df.sparkSession
    units = F.floor(
        F.col(value_col).cast("double") * scale + F.lit(0.5)
    ).cast("long")
    observed = (
        df.filter(F.col(value_col).isNotNull())
        .select(units.alias("units"))
        .filter(F.col("units") >= 1)
        .select(
            F.substring(F.col("units").cast("string"), 1, 1)
            .cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_values"))
    )
    expected = local_frame(
        spark, [(d, p) for d, p in BENFORD_PPM.items()],
        "digit int, expected_ppm long",
    )
    total = observed.agg(
        F.sum("n_values").cast("long").alias("n_total")
    )
    return (
        expected.join(observed, "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce("n_values", F.lit(0))
            .cast("long").alias("n_values"),
            F.expr(
                "CAST(coalesce(n_values, 0) * 1000000 div n_total"
                " AS BIGINT)"
            ).alias("observed_ppm"),
            "expected_ppm",
            (
                F.expr(
                    "coalesce(n_values, 0) * 1000000 div n_total"
                ) - F.col("expected_ppm")
            ).cast("long").alias("delta_ppm"),
        )
        .orderBy("digit")
    )


def benford_digit_audit_sql(
    table: str, value_col: str, scale: int = 100
) -> str:
    """DuckDB twin of :func:`benford_digit_audit` (same FLOOR
    fixed-point snap, same pinned expected-ppm literals, same
    trunc-division on positive operands)."""
    expected = " UNION ALL ".join(
        f"SELECT {d} AS digit, CAST({p} AS BIGINT) AS expected_ppm"
        for d, p in BENFORD_PPM.items()
    )
    return f"""
        WITH observed AS (
            SELECT CAST(substr(CAST(units AS VARCHAR), 1, 1)
                        AS INTEGER) AS digit,
                   CAST(COUNT(*) AS BIGINT) AS n_values
            FROM (
                SELECT CAST(FLOOR(
                    CAST({value_col} AS DOUBLE) * {scale} + 0.5
                ) AS BIGINT) AS units
                FROM {table} WHERE {value_col} IS NOT NULL
            ) WHERE units >= 1
            GROUP BY 1
        ), expected AS ({expected}),
        tot AS (SELECT SUM(n_values) AS n_total FROM observed)
        SELECT e.digit,
               CAST(COALESCE(o.n_values, 0) AS BIGINT) AS n_values,
               CAST(COALESCE(o.n_values, 0) * {PPM} // n_total
                    AS BIGINT) AS observed_ppm,
               e.expected_ppm,
               CAST(COALESCE(o.n_values, 0) * {PPM} // n_total
                    - e.expected_ppm AS BIGINT) AS delta_ppm
        FROM expected e LEFT JOIN observed o USING (digit), tot
        ORDER BY e.digit
    """
