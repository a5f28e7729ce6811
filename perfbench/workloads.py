"""The benchmark's workloads: one pipeline run each, plus its output check.

Every workload calls the package only through its public functions and
writes into a fresh output directory per run (overwrite mode on local
disk). A run returns what its check needs; ``check`` runs outside the
timed region,
sets ``result["recall"]`` and returns a list of problems (empty means
correct).

- weather_etl: ``plans.pipeline.run`` -- the paper's extract ->
  transform -> validate -> load DAG -- over the generated CSV, writing
  the month-partitioned parquet sink. A downstream consumer then reads
  the monthly sink back through ``sources.io`` and collects the top-10
  and bottom-10 months of each measure, one query each. Checked against the
  DuckDB twin ``plans.queries_reference._weather_oracle`` pointed at
  the same CSV; the rankings' recall against the twin's must be 1.
- ann_index: the lifecycle of ``operators.ann_store`` --
  ``ivf_index_build`` over the build corpus, ``ivf_index_append`` per
  append batch, then ``ivf_index_query`` per held-out query batch,
  each batch collected to the driver and its latency recorded. Checked against numpy
  brute-force neighbours: every returned similarity must be the exact
  cosine of its pair, recall@10 must stay above ``RECALL_FLOOR``, the
  store must hold every vector, and the result hash must not change
  between runs of one invocation.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq


REL_TOL = 1e-9
MB = 1024.0 * 1024.0
TOP_K = 10


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


# -- weather_etl ---------------------------------------------------------------
class WeatherEtl:
    plan_layer = "plans.pipeline"
    query_span = "sink_query"  # not a layer: counted in the engine totals
    COLUMNS = ["month", "avg_temperature_c", "avg_humidity",
               "avg_visibilty_km", "avg_pressure_millibars",
               "mode_precip_type"]
    # (column, descending): a top-10 and a bottom-10 query per measure
    RANKINGS = [(c, d) for c in COLUMNS[1:5] for d in (True, False)]

    def __init__(self, inputs: dict, work: Path):
        self.csv = str(Path(inputs["root"]) / inputs["csv"])
        self.work = work
        self._expected: list[tuple] | None = None

    def run(self, spark, out: Path, span) -> dict:
        from pyspark.sql import functions as F

        from etl_on_weather_dataset_spark.operators import caching
        from etl_on_weather_dataset_spark.plans import pipeline
        from etl_on_weather_dataset_spark.sources import io

        with span(self.plan_layer):
            res = pipeline.run(spark, self.csv, str(out))
            caching.release_all()
        rankings = {}
        with span(self.query_span):
            for col, desc in self.RANKINGS:
                monthly = io.read_parquet(spark, str(out / "monthly_weather"))
                order = F.desc(col) if desc else F.asc(col)
                rankings[col, desc] = [r.month for r in monthly.orderBy(
                    order, "month").limit(TOP_K).collect()]
        return {"validation": res.validation, "rankings": rankings}

    def trace_extras(self, spark, out: Path) -> dict[str, float]:
        return {}

    def expected(self) -> list[tuple]:
        """Monthly sink rows from the DuckDB twin, computed once."""
        if self._expected is None:
            from etl_on_weather_dataset_spark import fixtures
            from etl_on_weather_dataset_spark.plans import queries_reference

            # the oracle SQL names the package's fixture CSV; keep that
            # file inside the work dir and point the SQL at our input
            os.environ["SPARK_GRAFT_FIXTURE_DIR"] = str(self.work / "fixture")
            fixture = str(fixtures.fixture_dir() / "weatherHistory.csv")
            sql = queries_reference._weather_oracle().replace(fixture, self.csv)
            with _duckdb() as con:
                rows = con.execute(sql).fetchall()
            self._expected = sorted(rows)
        return self._expected

    def recall(self, rankings: dict[tuple, list]) -> float:
        """Recall@10 of the sink rankings against the twin's rankings."""
        want = self.expected()
        hits = 0
        for (col, desc), got in rankings.items():
            i = self.COLUMNS.index(col)
            sign = -1 if desc else 1
            top = sorted(want, key=lambda r: (sign * r[i], r[0]))[:TOP_K]
            hits += len(set(got) & {r[0] for r in top})
        return hits / sum(min(TOP_K, len(want)) for _ in rankings)

    def check(self, out: Path, result: dict) -> list[str]:
        problems = []
        if not result["validation"]:
            problems.append("validation counts missing")
        got = sorted(
            tuple(r[c] for c in self.COLUMNS)
            for r in pq.read_table(out / "monthly_weather").to_pylist()
        )
        if not _rows_match(got, self.expected()):
            problems.append("monthly sink differs from the DuckDB twin")
        daily = pq.read_table(out / "daily_weather").num_rows
        if daily == 0:
            problems.append("daily sink is empty")
        result["recall"] = self.recall(result["rankings"])
        if result["recall"] != 1.0:
            problems.append(f"sink rankings recall {result['recall']} != 1")
        return problems


def _rows_match(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(
                        a, b, rel_tol=REL_TOL, abs_tol=REL_TOL):
                    return False
            elif a != b:
                return False
    return True


# -- ann_index -----------------------------------------------------------------
class AnnIndex:
    root_span = "ann_index"  # not a layer: no plan module drives the store
    N_CELLS = 16
    ITERS = 2
    N_PROBE = 4
    KEEP_VERSIONS = 2
    RECALL_FLOOR = 0.9
    SIM_TOL = 2e-6  # Spark rounds similarities to 6 decimals

    def __init__(self, inputs: dict, work: Path):
        root = Path(inputs["root"])
        self.build = str(root / inputs["build"])
        self.appends = [str(root / f) for f in inputs["appends"]]
        self.queries = [str(root / f) for f in inputs["queries"]]
        self._hash: str | None = None
        self._exact: tuple | None = None

    def run(self, spark, out: Path, span) -> dict:
        from etl_on_weather_dataset_spark.operators import ann_store, caching
        from etl_on_weather_dataset_spark.sources import io

        store = str(out / "store")
        rows, batch_s = [], []
        with span(self.root_span):
            ann_store.ivf_index_build(
                spark, io.read_parquet(spark, self.build), store,
                k=self.N_CELLS, iters=self.ITERS,
                keep_versions=self.KEEP_VERSIONS)
            for i, path in enumerate(self.appends):
                ann_store.ivf_index_append(
                    spark, io.read_parquet(spark, path), store, f"batch-{i}",
                    keep_versions=self.KEEP_VERSIONS)
            for path in self.queries:
                # one span around query + collect: the collect's jobs
                # are the query's cost
                with span("operators.ann_store"):
                    t0 = time.perf_counter()
                    rows += ann_store.ivf_index_query(
                        spark, io.read_parquet(spark, path), store,
                        k=TOP_K, n_probe=self.N_PROBE).collect()
                    batch_s.append(time.perf_counter() - t0)
            caching.release_all()
        return {"neighbours": [(r.query_id, r.neighbor_id, r.sim, r.rk)
                               for r in rows],
                "query_batch_s": batch_s}

    def expected(self) -> tuple:
        """(exact top-k ids per query, id -> unit vector, query id ->
        unit vector, corpus size), from numpy brute force."""
        if self._exact is None:
            def load(paths):
                t = pq.read_table(paths)
                return (np.asarray(t.column("vec_id").to_pylist()),
                        np.asarray(t.column("embedding").to_pylist()))

            ids, vecs = load([self.build, *self.appends])
            qids, qvecs = load(self.queries)
            unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            qunit = qvecs / np.linalg.norm(qvecs, axis=1, keepdims=True)
            sims = np.round(qunit @ unit.T, 6)
            # similarity descending, then id ascending: the store's order
            order = np.lexsort((np.broadcast_to(ids, sims.shape), -sims))
            top = {int(q): set(ids[order[i, :TOP_K]].tolist())
                   for i, q in enumerate(qids)}
            self._exact = (top, dict(zip(ids.tolist(), unit)),
                           dict(zip(qids.tolist(), qunit)), len(ids))
        return self._exact

    def recall(self, neighbours: list[tuple]) -> float:
        """Mean recall@10 against the exact neighbours."""
        top = self.expected()[0]
        got: dict[int, set] = {}
        for q, n, _, _ in neighbours:
            got.setdefault(q, set()).add(n)
        hits = sum(len(got.get(q, set()) & want) for q, want in top.items())
        return hits / (TOP_K * len(top))

    def check(self, out: Path, result: dict) -> list[str]:
        problems = []
        top, unit, qunit, n_vectors = self.expected()
        neighbours = result["neighbours"]
        per_query: dict[int, int] = {}
        bad_sim = 0
        for q, n, sim, _ in neighbours:
            per_query[q] = per_query.get(q, 0) + 1
            if n not in unit or abs(float(unit[n] @ qunit[q]) - sim) > self.SIM_TOL:
                bad_sim += 1
        if bad_sim:
            problems.append(f"{bad_sim} similarities differ from numpy")
        if set(per_query) != set(top) or any(
                c != TOP_K for c in per_query.values()):
            problems.append("not every query got top-k neighbours")
        result["recall"] = self.recall(neighbours)
        if result["recall"] < self.RECALL_FLOOR:
            problems.append(f"recall@{TOP_K} {result['recall']:.3f} "
                            f"< {self.RECALL_FLOOR}")
        if _store_vectors(out / "store") != n_vectors:
            problems.append("store does not hold every vector")
        digest = hashlib.sha256(repr(sorted(neighbours)).encode()).hexdigest()
        if self._hash is None:
            self._hash = digest
        elif digest != self._hash:
            problems.append("result hash changed between runs")
        return problems

    def trace_extras(self, spark, out: Path) -> dict[str, float]:
        """Store health from ``ivf_store_stats``, read after the run."""
        from etl_on_weather_dataset_spark.operators import ann_store

        stats = ann_store.ivf_store_stats(spark, str(out / "store")).first()
        return {
            "operators.ann_store.segments": float(stats.n_segments),
            "operators.ann_store.cell_skew_ppm": float(stats.cell_skew_ppm),
            "operators.ann_store.index_mb": _dir_bytes(out / "store") / MB,
        }


def _store_vectors(store: Path) -> int:
    """Rows in the segments the newest committed manifest lists."""
    version = max(int(p.parent.name[1:]) for p in store.glob("v*/_COMMITTED"))
    names = pq.read_table(store / f"v{version}" / "manifest.parquet")
    return sum(pq.read_table(store / "segments" / name, columns=["cluster"]).num_rows
               for name in names.column("segment").to_pylist())


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


WORKLOADS = {"weather_etl": WeatherEtl, "ann_index": AnnIndex}


def corrupt(workload: str, out: Path, result: dict) -> None:
    """Damage one run's output in place (the self-test's negative case)."""
    if workload == "weather_etl":
        path = out / "monthly_weather"
        table = pq.read_table(path)
        rows = table.to_pylist()
        rows[0]["avg_temperature_c"] += 0.5
        for f in path.glob("*.parquet"):
            f.unlink()
        pq.write_table(table.from_pylist(rows, schema=table.schema),
                       path / "part-corrupt.parquet")
    else:
        q, n, sim, rk = result["neighbours"][0]
        result["neighbours"][0] = (q, n + 1, sim, rk)
