"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of (seed, size): the same pair always
writes byte-identical files. Inputs are cached on disk under
``perfbench/.cache/<workload>-s<seed>-<size>/`` so generation stays
outside every timing; ``ensure_inputs`` returns the file paths plus the
input row and byte counts that the results record.

- weather_etl: a Szeged-schema hourly CSV with the dirt of FIXTURES.md
  par.B -- ~2% exact duplicate rows, ~0.5% unparseable timestamps, ~1%
  nulls per critical column, Beaufort boundary wind speeds, null
  precipitation runs.
- ann_index: clustered 64-d vectors -- a build corpus, append batches
  and held-out query batches drawn from the same Gaussian mixture --
  with a stated rate of planted near-duplicates.
"""

from __future__ import annotations

import csv
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
CACHE = HERE / ".cache"
CACHE_KEEP = 12  # newest input sets kept; older ones are evicted

# Per-workload size presets. "tiny" is the self-test size.
SIZES = {
    "weather_etl": {"tiny": 3_000, "small": 60_000},
    # build-corpus vectors
    "ann_index": {"tiny": 1_000, "small": 2_000},
}

WEATHER_COLUMNS = [
    "Formatted Date", "Summary", "Precip Type", "Temperature (C)",
    "Apparent Temperature (C)", "Humidity", "Wind Speed (km/h)",
    "Wind Bearing (degrees)", "Visibility (km)", "Loud Cover",
    "Pressure (millibars)", "Daily Summary",
]
WEATHER_CRITICAL = ["Temperature (C)", "Humidity", "Wind Speed (km/h)",
                    "Visibility (km)", "Pressure (millibars)"]
BEAUFORT_BOUNDARIES = [1.5, 3.3, 5.4, 7.9, 10.7, 13.8, 17.1, 20.7, 24.4,
                       28.4, 32.6, 40.0]
WEATHER_DUP_RATE = 0.02
WEATHER_BAD_DATE_RATE = 0.005
WEATHER_NULL_RATE = 0.01
WEATHER_BOUNDARY_RATE = 0.01

VEC_DIM = 64
VEC_CLUSTERS = 48
VEC_NEAR_DUP_RATE = 0.02
# Append batches and query batches per run. Each costs seconds of
# fixed Spark overhead at any size, so the run holds one query batch
# and no appends to fit the per-run time budget (see CHANGES.md).
VEC_APPEND_BATCHES = 0
VEC_APPEND_FRACTION = 0.05   # of the build corpus, per append batch
VEC_QUERY_BATCHES = 1
VEC_QUERY_BATCH = 400
VEC_QUERY_ID_BASE = 1_000_000_000


def _weather(path: Path, rng: np.random.Generator, n: int) -> int:
    hours = np.arange(n, dtype="int64")
    base = np.datetime64("2006-01-01T00:00")
    stamps = base + hours.astype("timedelta64[h]")
    months = (stamps.astype("datetime64[M]").astype(int) % 12) + 1
    # CEST (+0200) in April..September, CET (+0100) otherwise -- the
    # real file's offsets, so every parse goes through the tz path
    offsets = np.where((months >= 4) & (months <= 9), "+0200", "+0100")
    text = np.datetime_as_string(stamps, unit="s")
    dates = [f"{t.replace('T', ' ')}.000 {o}" for t, o in zip(text, offsets)]

    season = np.cos((months - 7) / 12.0 * 2 * np.pi)
    cols = {
        "Temperature (C)": np.round(12 + 14 * season + rng.normal(0, 6, n), 2),
        "Apparent Temperature (C)": np.round(
            10 + 15 * season + rng.normal(0, 7, n), 2),
        "Humidity": np.round(rng.uniform(0.2, 1.0, n), 2),
        "Wind Speed (km/h)": np.round(rng.gamma(2.0, 5.0, n), 2),
        "Wind Bearing (degrees)": rng.integers(0, 360, n).astype(float),
        "Visibility (km)": np.round(rng.uniform(0, 16, n), 2),
        "Loud Cover": np.zeros(n),
        "Pressure (millibars)": np.round(rng.normal(1015, 8, n), 2),
    }
    bnd = rng.random(n) < WEATHER_BOUNDARY_RATE
    cols["Wind Speed (km/h)"][bnd] = rng.choice(BEAUFORT_BOUNDARIES, bnd.sum())
    precip = np.where(season + rng.normal(0, 0.5, n) < -0.6, "snow", "rain")
    precip = precip.astype(object)
    # null runs of 24 h in the precipitation column
    for start in rng.choice(n, max(1, n // 2000), replace=False):
        precip[start:start + 24] = None
    summaries = np.array(["Partly Cloudy", "Mostly Cloudy", "Overcast",
                          "Clear", "Foggy"], dtype=object)
    summary = summaries[rng.integers(0, len(summaries), n)]

    rows = []
    nulls = {c: rng.random(n) < WEATHER_NULL_RATE for c in WEATHER_CRITICAL}
    bad_date = rng.random(n) < WEATHER_BAD_DATE_RATE
    for i in range(n):
        row = [
            "not-a-timestamp" if bad_date[i] else dates[i],
            summary[i],
            precip[i] or "",
        ]
        for c in WEATHER_COLUMNS[3:11]:
            row.append("" if c in nulls and nulls[c][i] else repr(cols[c][i]))
        row.append("Mostly cloudy throughout the day.")
        rows.append(row)
    dups = rng.choice(n, int(n * WEATHER_DUP_RATE), replace=False)
    rows.extend(list(rows[i]) for i in dups)
    order = rng.permutation(len(rows))
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(WEATHER_COLUMNS)
        w.writerows(rows[i] for i in order)
    return len(rows)


def _vector_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float64())
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, VEC_DIM)
        .cast(pa.list_(pa.float64())),
    })


def _vectors(root: Path, rng: np.random.Generator, n: int) -> dict:
    """Build corpus of ``n`` vectors, append batches and query batches;
    returns the file names. Values are rounded to 6 decimals so the
    parquet doubles are exact decimal literals."""
    centers = rng.normal(0, 1, (VEC_CLUSTERS, VEC_DIM))
    spread = rng.uniform(0.3, 0.6, VEC_CLUSTERS)

    def draw(m: int) -> np.ndarray:
        c = rng.integers(0, VEC_CLUSTERS, m)
        return centers[c] + rng.normal(0, 1, (m, VEC_DIM)) * spread[c, None]

    n_app = max(1, int(n * VEC_APPEND_FRACTION))
    n_query = VEC_QUERY_BATCHES * VEC_QUERY_BATCH
    vecs = draw(n + VEC_APPEND_BATCHES * n_app + n_query)
    # planted near-dups: a copy of an earlier vector with tiny noise
    dup = np.flatnonzero(rng.random(len(vecs)) < VEC_NEAR_DUP_RATE)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(int)
    vecs[dup] = vecs[src] + rng.normal(0, 1e-3, (len(dup), VEC_DIM))
    vecs = np.round(vecs, 6)
    ids = np.arange(1, len(vecs) + 1)

    files = {"build": "build.parquet", "appends": [], "queries": []}
    pq.write_table(_vector_table(ids[:n], vecs[:n]), root / files["build"])
    lo = n
    for b in range(VEC_APPEND_BATCHES):
        name = f"append-{b}.parquet"
        pq.write_table(_vector_table(ids[lo:lo + n_app], vecs[lo:lo + n_app]),
                       root / name)
        files["appends"].append(name)
        lo += n_app
    for b in range(VEC_QUERY_BATCHES):
        hi = lo + VEC_QUERY_BATCH
        name = f"queries-{b}.parquet"
        pq.write_table(
            _vector_table(VEC_QUERY_ID_BASE + ids[lo:hi], vecs[lo:hi]),
            root / name)
        files["queries"].append(name)
        lo = hi
    files["rows"] = len(vecs)
    return files


def _generate(workload: str, root: Path, seed: int, n) -> dict:
    rng = np.random.default_rng([seed, len(workload)])
    if workload == "weather_etl":
        rows = _weather(root / "weatherHistory.csv", rng, n)
        return {"csv": "weatherHistory.csv", "rows": rows}
    if workload == "ann_index":
        return _vectors(root, rng, n)
    raise ValueError(f"unknown workload {workload!r}")


def ensure_inputs(workload: str, seed: int, size: str) -> dict:
    """Generate (or reuse) the inputs of one (workload, seed, size);
    returns the manifest with absolute paths, ``rows`` and ``bytes``."""
    n = SIZES[workload][size]
    root = CACHE / f"{workload}-s{seed}-{size}"
    manifest = root / "manifest.json"
    if not manifest.exists():
        tmp = root.with_name(root.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        info = _generate(workload, tmp, seed, n)
        info["bytes"] = sum(p.stat().st_size for p in tmp.iterdir())
        (tmp / "manifest.json").write_text(json.dumps(info))
        shutil.rmtree(root, ignore_errors=True)
        tmp.rename(root)
        _evict(keep=root)
    info = json.loads(manifest.read_text())
    info["root"] = str(root)
    return info


def _evict(keep: Path) -> None:
    sets = sorted((p for p in CACHE.iterdir() if p.is_dir() and p != keep),
                  key=lambda p: p.stat().st_mtime)
    for old in sets[:max(0, len(sets) - (CACHE_KEEP - 1))]:
        shutil.rmtree(old, ignore_errors=True)
