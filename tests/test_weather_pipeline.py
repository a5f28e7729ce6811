"""End-to-end weather pipeline test (SURVEY.md par.5.3): clean fixture
produces daily/monthly outputs matching a DuckDB-computed golden;
dirty fixture fails validation and publishes nothing.
"""

from __future__ import annotations

import math
import os
from pathlib import Path

import duckdb
import pytest

from etl_on_weather_dataset_spark.operators.validate import ValidationError
from etl_on_weather_dataset_spark.plans import pipeline

from etl_on_weather_dataset_spark.fixtures import write_fixture


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("weather")
    clean = write_fixture(d / "clean.csv", dirty=False)
    dirty = write_fixture(d / "dirty.csv", dirty=True)
    return str(clean), str(dirty)


def test_clean_pipeline_runs_and_validates(spark, fixture_paths, tmp_path):
    clean, _ = fixture_paths
    out_dir = str(tmp_path / "out")
    res = pipeline.run(spark, clean, output_dir=out_dir)
    assert all(v == 0 for v in res.validation.values())
    daily = spark.read.parquet(f"{out_dir}/daily_weather")
    monthly = spark.read.parquet(f"{out_dir}/monthly_weather")
    assert daily.count() > 0
    assert monthly.count() == 4  # months 4,5,6 (+March: UTC shift of +0200 offsets)
    assert set(monthly.columns) == set(pipeline.MONTHLY_SINK_COLS)
    # partitioned by month for pruning
    assert daily.select("month").distinct().count() == 4


def test_dirty_pipeline_fails_before_load(spark, fixture_paths, tmp_path):
    _, dirty = fixture_paths
    out_dir = str(tmp_path / "never_written")
    with pytest.raises(ValidationError) as ei:
        pipeline.run(spark, dirty, output_dir=out_dir)
    # validation gates the load: neither the sink nor its staging
    # directory (a sibling of out_dir) is left behind
    assert os.listdir(tmp_path) == []
    assert ei.value.failures  # named violation counts present
    assert ei.value.samples  # offender rows, queried on failure only


def _tree(root):
    """{relative path: bytes} of every file under ``root``."""
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in Path(root).rglob("*") if p.is_file()
    }


def test_failed_run_keeps_the_published_sinks(spark, fixture_paths, tmp_path):
    """Publish only on pass: a dirty run into a directory a clean run
    already loaded raises and leaves the clean sinks byte-identical."""
    clean, dirty = fixture_paths
    out_dir = str(tmp_path / "out")
    pipeline.run(spark, clean, output_dir=out_dir)
    published = _tree(out_dir)
    assert any(p.startswith("daily_weather") for p in published)
    assert any(p.startswith("monthly_weather") for p in published)
    with pytest.raises(ValidationError):
        pipeline.run(spark, dirty, output_dir=out_dir)
    assert _tree(out_dir) == published
    assert os.listdir(tmp_path) == ["out"]


def test_no_fail_fast_writes_both_sinks(spark, fixture_paths, tmp_path):
    _, dirty = fixture_paths
    out_dir = str(tmp_path / "out")
    res = pipeline.run(spark, dirty, output_dir=out_dir, fail_fast=False)
    assert res.validation == {}
    assert spark.read.parquet(f"{out_dir}/daily_weather").count() > 0
    assert spark.read.parquet(f"{out_dir}/monthly_weather").count() > 0
    assert sorted(os.listdir(tmp_path)) == ["out"]


def test_clean_run_job_budget(spark, fixture_paths, tmp_path):
    """Validation rides on the sink writes: a clean loading run
    schedules no aggregate job of its own. Checking before writing
    (one validation job per sink, each recomputing its plan) took 24
    jobs."""
    clean, _ = fixture_paths
    sc = spark.sparkContext
    group = f"job-budget-{tmp_path.name}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        pipeline.run(spark, clean, output_dir=str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 12, f"{len(jobs)} Spark jobs"


def test_run_without_output_dir_releases_with_release_all(spark, tmp_path):
    """Without ``output_dir`` the cached fact table backs the returned
    frames; it sits on the caching ledger, so ``release_all()`` frees
    it. A CSV of its own keeps an identical plan cached by another
    test from hiding a leak."""
    from etl_on_weather_dataset_spark.operators import caching

    csv = str(write_fixture(tmp_path / "own.csv", dirty=False))
    jsc = spark.sparkContext._jsc.sc()
    caching.release_all()
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        res = pipeline.run(spark, csv, output_dir=None)
        assert res.monthly.count() == 4
    assert jsc.getPersistentRDDs().size() > before
    assert caching.release_all() >= 1
    assert jsc.getPersistentRDDs().size() == before


def test_monthly_golden_against_duckdb(spark, fixture_paths):
    """Monthly means + deterministic precip mode vs a DuckDB oracle
    computing the same semantics from the raw CSV."""
    clean, _ = fixture_paths
    res = pipeline.run(spark, clean, output_dir=None, fail_fast=False)
    got = {
        r["month"]: r.asDict() for r in res.monthly.collect()
    }

    con = duckdb.connect()
    oracle = con.sql(f"""
        WITH raw AS (
            SELECT try_strptime("Formatted Date",
                                '%Y-%m-%d %H:%M:%S.%g %z') AT TIME ZONE 'UTC'
                       AS ts, *
            FROM read_csv('{clean}', header=true, all_varchar=false)
        ), dedup AS (
            SELECT DISTINCT * FROM raw
        ), med AS (
            SELECT median("Temperature (C)") AS mt, median("Humidity") AS mh,
                   median("Wind Speed (km/h)") AS mw,
                   median("Visibility (km)") AS mv,
                   median("Pressure (millibars)") AS mp
            FROM dedup
        ), filled AS (
            SELECT month(ts) AS month,
                   COALESCE("Temperature (C)", (SELECT mt FROM med)) AS temp,
                   COALESCE("Humidity", (SELECT mh FROM med)) AS hum,
                   COALESCE("Visibility (km)", (SELECT mv FROM med)) AS vis,
                   COALESCE("Pressure (millibars)", (SELECT mp FROM med)) AS pres,
                   "Precip Type" AS precip
            FROM dedup WHERE ts IS NOT NULL
        ), means AS (
            SELECT month, AVG(temp) a_t, AVG(hum) a_h, AVG(vis) a_v,
                   AVG(pres) a_p
            FROM filled GROUP BY month
        ), modes AS (
            SELECT month, precip FROM (
                SELECT month, precip,
                       ROW_NUMBER() OVER (PARTITION BY month
                           ORDER BY COUNT(*) DESC, precip ASC) rn
                FROM filled WHERE precip IS NOT NULL
                GROUP BY month, precip
            ) WHERE rn = 1
        )
        SELECT means.month, a_t, a_h, a_v, a_p, modes.precip
        FROM means LEFT JOIN modes ON means.month = modes.month
    """).fetchall()
    con.close()

    assert len(oracle) == len(got)
    for month, a_t, a_h, a_v, a_p, precip in oracle:
        row = got[month]
        assert math.isclose(row["avg_temperature_c"], a_t, rel_tol=1e-9)
        assert math.isclose(row["avg_humidity"], a_h, rel_tol=1e-9)
        assert math.isclose(row["avg_visibilty_km"], a_v, rel_tol=1e-9)
        assert math.isclose(row["avg_pressure_millibars"], a_p, rel_tol=1e-9)
        assert row["mode_precip_type"] == precip
