"""Declarative data-quality expectations (F1-F5), fused into ONE scan.

The reference's validate task (ETL.py:142-193) runs ~10 eager `.all()`
passes over two tables. A naive Spark port would be ~10 jobs; here
every expectation compiles to a `sum(case when violated then 1 end)`
column and all of them run in a single aggregate job per DataFrame
(SURVEY.md par.4, "fuse validation scans"). Failure raises
`ValidationError` carrying per-check violation counts and (optionally)
a small sample of offending rows -- mirroring ETL.py:184-191, which
prints the offending outlier values.

At 100 TB the one-pass property is the whole point: validation costs
exactly one extra scan (or zero, if attached to another action via
`df.observe`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """One named predicate that every row must satisfy."""

    name: str
    predicate: Column  # True => row is VALID

    def violation_count(self) -> Column:
        return F.sum(
            F.when(~F.coalesce(self.predicate, F.lit(False)), 1).otherwise(0)
        ).alias(self.name)


def not_null(cols: list[str]) -> Expectation:
    """F3: no nulls in any listed column (ETL.py:158-159,171-172)."""
    pred = None
    for c in cols:
        p = F.col(c).isNotNull()
        pred = p if pred is None else (pred & p)
    return Expectation("not_null:" + ",".join(cols), pred)


def in_range(col: str, lo: float, hi: float) -> Expectation:
    """F1: two-sided range, null passes (ETL.py:162-165,175-178)."""
    return Expectation(
        f"in_range:{col}", F.col(col).isNull() | F.col(col).between(lo, hi)
    )


def at_least(col: str, lo: float) -> Expectation:
    """F2: one-sided bound, null passes (ETL.py:166-167,179-180)."""
    return Expectation(f"at_least:{col}", F.col(col).isNull() | (F.col(col) >= lo))


class ValidationError(ValueError):
    def __init__(self, failures: dict[str, int], samples: dict[str, list]):
        self.failures = failures
        self.samples = samples
        msg = "; ".join(f"{k}: {v} violation(s)" for k, v in failures.items())
        if samples:
            msg += f" | sample offenders: {samples}"
        super().__init__(f"validation failed -- {msg}")


def violation_counts(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """All expectations as one single-row aggregate (one job)."""
    return df.agg(*[e.violation_count() for e in expectations])


def check(
    df: DataFrame,
    expectations: list[Expectation],
    sample_rows: int = 5,
) -> dict[str, int]:
    """F5 fail-fast gate: raise ValidationError on any violation, else
    return the (all-zero) counts. One aggregate job; plus one tiny
    filtered-sample job per FAILED check only."""
    row = violation_counts(df, expectations).first()
    return _gate(df, expectations, row.asDict(), sample_rows)


def observed(
    df: DataFrame, expectations: list[Expectation], name: str = "validation"
) -> tuple[DataFrame, Observation]:
    """Zero-extra-scan variant: attach violation counters to the plan
    via `df.observe`; metrics materialize with the caller's own action
    (e.g. the sink write). Caller gates on :func:`assert_observation`
    after that action."""
    obs = Observation(name)
    return df.observe(obs, *[e.violation_count() for e in expectations]), obs


def assert_observation(
    obs: Observation,
    df: DataFrame,
    expectations: list[Expectation],
    sample_rows: int = 5,
) -> dict[str, int]:
    """:func:`check` for counts an :func:`observed` plan already
    produced: no aggregate job of its own. ``df`` is the frame before
    ``observe``; it is queried for offender samples only on failure."""
    return _gate(df, expectations, obs.get, sample_rows)


def _gate(
    df: DataFrame,
    expectations: list[Expectation],
    counts: dict,
    sample_rows: int,
) -> dict[str, int]:
    """The one failure path of :func:`check` and
    :func:`assert_observation`: all-zero counts are returned (a null
    count -- no rows -- reads 0); any violation raises ValidationError
    with up to ``sample_rows`` offending rows per failed check."""
    counts = {e.name: int(counts[e.name] or 0) for e in expectations}
    failures = {name: n for name, n in counts.items() if n > 0}
    if not failures:
        return counts
    samples: dict[str, list] = {}
    if sample_rows > 0:
        for e in expectations:
            if e.name in failures:
                bad = (
                    df.filter(~F.coalesce(e.predicate, F.lit(False)))
                    .limit(sample_rows)
                    .collect()
                )
                samples[e.name] = [r.asDict() for r in bad]
    raise ValidationError(failures, samples)


def row_violations(expectations: list[Expectation]) -> Column:
    """array<string> of the expectation names a ROW violates -- the
    per-row face of the same Expectation objects the aggregate tier
    (check / observed / contract_report) consumes. Pure codegen: one
    array of when()s filtered for non-null, no shuffle, no UDF."""
    return F.filter(
        F.array(*[
            F.when(
                ~F.coalesce(e.predicate, F.lit(False)), F.lit(e.name)
            )
            for e in expectations
        ]),
        lambda x: x.isNotNull(),
    )


def quarantine_split(
    df: DataFrame, expectations: list[Expectation]
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter routing: (valid, quarantined) where quarantined
    rows carry a ``reasons`` array naming every violated expectation.

    The production shape between fail-fast (:func:`check`, which
    aborts the load) and monitoring (:func:`contract_report`, which
    only counts): a continuously-fed pipeline neither aborts on one
    bad row nor silently drops it -- it routes the row plus WHY to a
    quarantine sink for replay after the upstream fix. Both returned
    frames derive from one row-level codegen column, so writing
    valid and quarantined to their sinks costs the same scans the
    writes themselves need; no extra validation job.

    At 100 TB: the split is a filter on a computed column --
    partition-local, no shuffle; the quarantine side is typically
    tiny and compacts like any append sink.
    """
    tagged = df.withColumn("reasons", row_violations(expectations))
    valid = tagged.filter(F.size("reasons") == 0).drop("reasons")
    quarantined = tagged.filter(F.size("reasons") > 0)
    return valid, quarantined


def contract_report(
    df: DataFrame, expectations: list[Expectation]
) -> DataFrame:
    """Declarative data-contract report: ONE scan evaluates every
    expectation, then the single aggregate row unpivots to the
    long-format table a quality dashboard ingests:
    (expectation, n_rows, n_violations, passed).

    This is the reporting face of the F1-F5 validation tier (the
    fail-fast gate is :func:`check`; the zero-extra-scan plan hook is
    :func:`observed`): same Expectation objects, same
    count-the-violations semantics, but it always returns -- contracts
    are monitored continuously, not only enforced at load time. Scale
    cost is exactly one aggregate job regardless of how many
    expectations the contract carries."""
    agg = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[e.violation_count() for e in expectations],
    )
    entries = F.array(*[
        F.struct(
            F.lit(e.name).alias("expectation"),
            F.col("__n").cast("long").alias("n_rows"),
            F.coalesce(F.col(f"`{e.name}`"), F.lit(0))
            .cast("long").alias("n_violations"),
        )
        for e in expectations
    ])
    return (
        agg.select(F.explode(entries).alias("x"))
        .select(
            "x.expectation", "x.n_rows", "x.n_violations",
            (F.col("x.n_violations") == 0).cast("int").alias("passed"),
        )
    )


def uniqueness_report(
    df: DataFrame, key_cols: list[str], name: str | None = None
) -> DataFrame:
    """The one contract single-pass predicates cannot express: key
    uniqueness. One (key)-grouped count + one tiny aggregate --
    violations = rows beyond the first per duplicated key, so a clean
    table reports 0 and each extra copy counts once. Output schema
    matches :func:`contract_report` so the two union into one
    contract table."""
    label = name or ("unique:" + ",".join(key_cols))
    per_key = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_key.agg(
        F.lit(label).alias("expectation"),
        F.sum("cnt").cast("long").alias("n_rows"),
        (F.sum("cnt") - F.count(F.lit(1))).cast("long")
        .alias("n_violations"),
    ).select(
        "expectation", "n_rows", "n_violations",
        (F.col("n_violations") == 0).cast("int").alias("passed"),
    )
