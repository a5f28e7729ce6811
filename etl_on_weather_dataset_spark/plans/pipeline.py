"""The weather ETL pipeline: the reference DAG re-expressed as one lazy
Spark plan.

Reference mapping (SURVEY.md par.3):
- Airflow DAG extract >> transform >> validate >> load (ETL.py:288)
  becomes function composition over DataFrames; XCom file-path handoffs
  and CSV round-trips between tasks (ETL.py:126-129,147-148,209-210)
  disappear -- Catalyst carries lineage.
- validate raising aborts before load (trigger_rule='all_success',
  ETL.py:283) becomes validation that rides on the sink writes: the
  expectations are observed counters on the write plans, the sinks
  land in a staging directory, and they are renamed into place only
  when every count is 0.
- The shared cleaned fact table feeds three branches (daily agg,
  monthly agg, wind-strength details); in eager pandas that reuse is
  free, in lazy Spark we cache it on the caching ledger
  (SURVEY.md par.4 "common subplan reuse"): a loading run releases it
  once its sinks are written, a run without ``output_dir`` leaves it
  backing the returned frames until ``caching.release_all()``.

Scale notes: outputs partitioned by month; validation costs no pass of
its own (the writes evaluate it) and publishing is metadata-only
renames; the only Python anywhere is the driver-side composition --
every expression is codegen'd.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.agg import mean_rollup
from ..operators.caching import persisted, scoped
from ..operators.clean import coerce_timestamp, dedup_exact, impute_median
from ..operators.derive import with_date_parts, with_wind_strength
from ..operators.joins import fanout_join_daily
from ..operators.validate import (
    Expectation,
    assert_observation,
    at_least,
    check,
    in_range,
    not_null,
    observed,
)
from ..operators.versioned import fs_for
from ..schemas import WEATHER_CRITICAL_COLS, WEATHER_RAW_SCHEMA
from ..sources.io import read_csv, write_parquet

# Validation bounds (ETL.py:151-153) and outlier thresholds (ETL.py:184).
TEMP_RANGE = (-50.0, 50.0)
HUMIDITY_RANGE = (0.0, 1.0)
WIND_MIN = 0.0
OUTLIER_TEMP_RANGE = (-30.0, 40.0)

# Sink column renames (ETL.py:214-233). 'avg_visibilty_km' [sic]
# preserves the reference's canonical output spelling.
DAILY_SINK_RENAMES = {
    "date": "formatted_date",
    "avg_temperature_c": "temperature_c",
    "avg_humidity": "humidity",
    "avg_wind_speed_kmh": "wind_speed_kmh",
}
MONTHLY_SINK_COLS = [
    "month",
    "avg_temperature_c",
    "avg_humidity",
    "avg_visibilty_km",
    "avg_pressure_millibars",
    "mode_precip_type",
]


@dataclass
class WeatherPipelineResult:
    daily: DataFrame
    monthly: DataFrame
    validation: dict[str, int] = field(default_factory=dict)


def extract(spark: SparkSession, csv_path: str) -> DataFrame:
    """S3: schema-pinned CSV scan of the landed weather file
    (ETL.py:54; Kaggle download/unzip is an out-of-engine landing
    step, ETL.py:29-43)."""
    return read_csv(spark, csv_path, WEATHER_RAW_SCHEMA)


def transform(df: DataFrame) -> WeatherPipelineResult:
    """The reference transform (ETL.py:52-133) as one lazy plan."""
    # P1: parse timestamps, null on error (real format has a tz offset)
    df = coerce_timestamp(
        df, "Formatted Date", fmt="yyyy-MM-dd HH:mm:ss.SSS xx"
    )
    # D1: full-row dedup (ETL.py:58)
    df = dedup_exact(df)
    # I1: median-impute the 5 critical columns (ETL.py:61-62 intent).
    # Medians are computed BEFORE dropping unparseable-timestamp rows,
    # matching the reference's statement order (parse:57 -> dedup:58 ->
    # fillna:61; NaT rows only vanish at groupby, which drops null keys)
    df = impute_median(df, WEATHER_CRITICAL_COLS)
    # pandas groupby drops null keys; Spark keeps them -> filter here
    df = df.filter(F.col("Formatted Date").isNotNull())
    # P2/P3: derive date + month (ETL.py:65-66)
    df = with_date_parts(df, "Formatted Date")
    # U1: Beaufort bucketing (ETL.py:80-107)
    df = with_wind_strength(df, "Wind Speed (km/h)")
    # Shared fact table feeds 3 branches -> cache once (SURVEY par.4),
    # at cache()'s level, on the ledger so release_all() can free it
    df = persisted(df, StorageLevel.MEMORY_AND_DISK_DESER)

    # A1: daily means (ETL.py:69-73). scale=1000: inputs are 2-dp and
    # the imputed median is at most 3-dp (midpoint of two 2-dp values),
    # so scaled-integer sums make the means exact + engine-portable.
    daily_agg = mean_rollup(
        df,
        ["date"],
        {
            "Temperature (C)": "avg_temperature_c",
            "Humidity": "avg_humidity",
            "Wind Speed (km/h)": "avg_wind_speed_kmh",
        },
        scale=1000,
    )
    # J1: fan daily means back out to distinct (date, ts, strength)
    # triples (ETL.py:109-113)
    daily = fanout_join_daily(
        daily_agg, df, "date", ["Formatted Date", "wind_strength"]
    )

    # A3 (+A2 folded in, ETL.py:116-123): monthly means + precip mode
    # in one aggregate
    monthly = mean_rollup(
        df,
        ["month"],
        {
            "Temperature (C)": "avg_temperature_c",
            "Humidity": "avg_humidity",
            "Visibility (km)": "avg_visibilty_km",  # sic, ETL.py:229
            "Pressure (millibars)": "avg_pressure_millibars",
        },
        scale=1000,
        modes={"Precip Type": "mode_precip_type"},
    )

    return WeatherPipelineResult(daily=daily, monthly=monthly)


def daily_expectations() -> list[Expectation]:
    """F1-F3 on the daily output (ETL.py:151-167)."""
    return [
        not_null(["formatted_date", "temperature_c", "humidity",
                  "wind_speed_kmh"]),
        in_range("temperature_c", *TEMP_RANGE),
        in_range("humidity", *HUMIDITY_RANGE),
        at_least("wind_speed_kmh", WIND_MIN),
    ]


def monthly_expectations() -> list[Expectation]:
    """F1-F3 on the monthly output (ETL.py:171-180)."""
    return [
        not_null(["month", "avg_temperature_c", "avg_humidity"]),
        in_range("avg_temperature_c", *TEMP_RANGE),
        in_range("avg_humidity", *HUMIDITY_RANGE),
    ]


def reshape_daily(daily: DataFrame) -> DataFrame:
    """P5/P6: drop helper cols, rename to sink schema (ETL.py:213-221)."""
    out = daily.withColumnsRenamed(
        {
            "avg_temperature_c": "temperature_c",
            "avg_humidity": "humidity",
            "avg_wind_speed_kmh": "wind_speed_kmh",
        }
    )
    return out.select(
        F.col("Formatted Date").alias("formatted_date"),
        "temperature_c", "humidity", "wind_speed_kmh", "wind_strength",
    ).withColumn("month", F.month("formatted_date"))


def reshape_monthly(monthly: DataFrame) -> DataFrame:
    """P5/P6 monthly variant (ETL.py:223-233)."""
    return monthly.select(*MONTHLY_SINK_COLS)


def _outputs(raw: DataFrame) -> tuple[DataFrame, DataFrame, list]:
    """(daily sink frame, monthly sink frame, [(name, frame,
    expectations, partition_by)]) of one transform over ``raw``."""
    result = transform(raw)
    daily_out = reshape_daily(result.daily)
    monthly_out = reshape_monthly(result.monthly)
    return daily_out, monthly_out, [
        ("daily_weather", daily_out, daily_expectations(), ["month"]),
        ("monthly_weather", monthly_out, monthly_expectations(), None),
    ]


def run(
    spark: SparkSession,
    csv_path: str,
    output_dir: str | None = None,
    fail_fast: bool = True,
) -> WeatherPipelineResult:
    """extract -> transform -> validate -> load.

    Nothing loads unless every check passes (the reference's
    all_success trigger rule). With ``output_dir`` set, the sink writes
    are the validation pass: daily_weather (partitioned by month -- the
    100 TB pruning key) and monthly_weather are written, with the
    expectations observed on their plans, into a staging directory
    beside ``output_dir``. Only when every count is 0 are they renamed
    to ``output_dir/daily_weather`` and ``output_dir/monthly_weather``;
    otherwise the staging directory is deleted, a sink published by an
    earlier run stays as it was, and ValidationError is raised.
    ``fail_fast=False`` writes and publishes without checks. Without
    ``output_dir`` there is no write to observe: a fail-fast
    ``check()`` per output gates the returned DataFrames.
    """
    raw = extract(spark, csv_path)
    if output_dir is None:
        daily_out, monthly_out, sinks = _outputs(raw)
        validation: dict[str, int] = {}
        if fail_fast:
            for _, out, expectations, _ in sinks:
                validation.update(check(out, expectations))
        return WeatherPipelineResult(
            daily=daily_out, monthly=monthly_out, validation=validation
        )

    fs, dest, jvm = fs_for(spark, output_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    dest = fs.makeQualified(dest)
    # a sibling, so publishing is a same-filesystem rename; the _
    # prefix hides it from parquet discovery while it exists
    stage = hpath(
        dest.getParent(), f"_{dest.getName()}.staging-{uuid.uuid4().hex}"
    )
    validation = {}
    # the scope releases the cached fact table once the sinks are
    # materialized (or abandoned), so a long-lived session doesn't
    # accumulate block-manager memory
    with scoped():
        daily_out, monthly_out, sinks = _outputs(raw)
        try:
            gates = []
            for name, out, expectations, partition_by in sinks:
                written = out
                if fail_fast:
                    written, obs = observed(out, expectations, name)
                    gates.append((obs, out, expectations))
                write_parquet(
                    written, hpath(stage, name).toString(),
                    partition_by=partition_by,
                )
            for obs, out, expectations in gates:
                validation.update(
                    assert_observation(obs, out, expectations)
                )
            fs.mkdirs(dest)
            for name, *_ in sinks:
                target = hpath(dest, name)
                fs.delete(target, True)
                if not fs.rename(hpath(stage, name), target):
                    raise OSError(f"could not publish {name} to {target}")
        finally:
            fs.delete(stage, True)

    return WeatherPipelineResult(
        daily=daily_out, monthly=monthly_out, validation=validation
    )
