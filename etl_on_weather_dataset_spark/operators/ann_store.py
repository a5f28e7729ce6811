"""Persistent IVF index store: build -> append -> probe.

The production maintenance cycle of a serving ANN index: train the
coarse quantizer ONCE on a build corpus, then keep ingesting new
vector batches WITHOUT retraining (faiss's ``add`` on a trained
index), and serve top-k queries from the committed index. At 100 TB
this is the only viable shape -- re-running Lloyd over the full
corpus per ingestion batch is a full-scan job, while appending is one
assignment pass over just the batch (broadcast centroid literals, no
shuffle wider than (id, cluster, v)).

Storage follows the repo's versioned-store discipline
(operators/versioned.py -- same markers, replay ledger and
keep-last-N vacuum as the rollup store), with the inverted file held
as IMMUTABLE SEGMENTS so an append writes O(batch) bytes, never
O(index) -- faiss's ``add`` is the mental model: append a segment,
publish a manifest:

    store_path/
      segments/
        seg-v1-build.parquet     # (id, cluster, v) -- never rewritten
        seg-v2-<batch>.parquet
      v1/centroids.parquet  v1/manifest.parquet  v1/batches.parquet
      v1/_COMMITTED
      v2/...

``centroids.parquet`` freezes the trained centroids (cluster id +
exact double components -- parquet round-trips IEEE doubles, so
appends assign against bit-identical literals to the build).
``manifest.parquet`` lists the live segment names: the committed
index is the union-read of exactly those segments; old versions'
manifests keep serving their own segment set until vacuumed.
``batches.parquet`` is the applied-batch replay ledger: re-appending
a recorded batch id returns the store untouched (exactly-once
appends on at-least-once drivers, the foreachBatch contract).

Per APPEND the bytes written are: the batch's segment (O(batch)) +
the metadata trio (centroids k x dim, manifest #segments rows,
ledger #batches rows) -- all O(metadata), none O(corpus). A REBUILD
(ivf_index_build on a non-empty store) writes a fresh full segment
and a manifest listing only it; superseded segments become garbage
once no committed manifest references them and are removed by
:func:`gc_segments` (run automatically after every vacuum). Segment
GC is safe under the store's single-writer discipline: a segment is
referenced by the manifest of the version that created it, so an
unreferenced segment is either crash garbage (its version never
committed) or vacuumed history.

Drift honesty: appended vectors are quantized by the BUILD-time
partition. As the ingested distribution drifts, cell balance and
probe recall degrade -- monitor cell sizes (one groupBy on the cells
table) and rebuild when skew crosses a threshold; the versioned
layout makes the rebuild a new store published atomically.

Exactness: build and append assign with operators/cluster.py
`_assign` itself (micro-snapped ROUND(d * 1e6) BIGINT distances,
first-min argmin; unrolled-fold dot products in the oracle). A query
probes with the shared probe rule, similarity._best_indices, over the
same snapped distances -- the n nearest cells, ties by the smaller
cell id, so one probe is exactly the build's argmin -- and ranks with
the shared similarity._rank_topk. Every cell assignment, probe list,
and top-k row is reproducible bit-for-bit against the DuckDB twin
(plans/queries_similarity.py ``ivf_store_scenario``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import re

from ..session import local_frame
from .cluster import _assign, _cent_row, _snapped_dists_row, kmeans_fit
from .similarity import (
    _as_double,
    _best_indices,
    _rank_topk,
    _score,
    _with_constant_row,
    norm,
)
from .versioned import (
    commit,
    committed_versions,
    current_version,
    fs_for,
    vacuum,
)


def _segment_dir(store_path: str) -> str:
    return f"{store_path}/segments"


def _segment_path(store_path: str, segment: str) -> str:
    return f"{_segment_dir(store_path)}/{segment}"


def _segment_name(version: int, tag: str) -> str:
    """Unique immutable segment name: the creating version prefixes
    it (single-writer + monotone versions -> no collisions), the tag
    (sanitized batch id / 'build') keeps it debuggable."""
    return f"seg-v{version}-{re.sub(r'[^A-Za-z0-9_.-]', '_', tag)}.parquet"


def _manifest_names(
    spark: SparkSession, store_path: str, version: int
) -> list[str]:
    return [
        r.segment
        for r in spark.read.parquet(
            f"{store_path}/v{version}/manifest.parquet"
        ).collect()
    ]


def _read_version(
    spark: SparkSession, store_path: str, version: int | None = None
) -> tuple[DataFrame | None, DataFrame | None, DataFrame | None, int]:
    """(centroids, cells, batches, version) of the newest committed
    version; (None, None, None, 0) for an empty store. ``cells`` is
    the union-read of the manifest's segments -- one multi-path
    parquet scan, no copy.

    ``version`` pins a TIME-TRAVEL read (the rollup store's
    read_rollup contract): older committed versions read exactly as
    published -- their manifests keep naming their own segment sets,
    and gc_segments only deletes segments NO committed manifest
    references, so a retained version's segments are always intact."""
    if version is None:
        v = current_version(spark, store_path)
        if v == 0:
            return None, None, None, 0
    else:
        if version not in committed_versions(spark, store_path):
            raise ValueError(
                f"version {version} is not committed at {store_path} "
                "-- time travel reaches only versions retention kept"
            )
        v = version
    base = f"{store_path}/v{v}"
    segments = _manifest_names(spark, store_path, v)
    return (
        spark.read.parquet(f"{base}/centroids.parquet"),
        spark.read.parquet(
            *[_segment_path(store_path, s) for s in segments]
        ),
        spark.read.parquet(f"{base}/batches.parquet"),
        v,
    )


def _committed(
    spark: SparkSession, store_path: str
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """:func:`_read_version` of the newest committed version; raises
    on an empty store."""
    found = _read_version(spark, store_path)
    if found[0] is None:
        raise ValueError(
            f"no committed index at {store_path}; run ivf_index_build"
        )
    return found


def _frozen_centroids(cent_df: DataFrame) -> list[list[float]]:
    """The committed centroids as literals, in cluster order."""
    return [
        list(r.cent)
        for r in sorted(cent_df.collect(), key=lambda r: r.cluster)
    ]


def gc_segments(spark: SparkSession, store_path: str) -> list[str]:
    """Delete segments referenced by NO committed manifest (vacuumed
    history or crash garbage); returns the deleted names. Runs after
    every vacuum; safe under the single-writer discipline (see module
    docstring)."""
    fs, _, jvm = fs_for(spark, store_path)
    segdir = jvm.org.apache.hadoop.fs.Path(_segment_dir(store_path))
    if not fs.exists(segdir):
        return []
    live: set[str] = set()
    for v in committed_versions(spark, store_path):
        live |= set(_manifest_names(spark, store_path, v))
    deleted: list[str] = []
    for status in fs.listStatus(segdir):
        name = status.getPath().getName()
        if name not in live:
            fs.delete(status.getPath(), True)
            deleted.append(name)
    return sorted(deleted)


def _publish_version(
    spark: SparkSession,
    store_path: str,
    version: int,
    centroids: DataFrame,
    segments: list[str],
    batches: DataFrame,
    keep_versions: int | None,
) -> None:
    """Write the O(metadata) version trio and drop the marker LAST.
    Cell data is NOT written here -- the caller has already written
    the new segment (or none, for metadata-only publishes)."""
    base = f"{store_path}/v{version}"
    centroids.write.mode("overwrite").parquet(f"{base}/centroids.parquet")
    local_frame(
        spark, [(s,) for s in segments], "segment string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/manifest.parquet")
    batches.write.mode("overwrite").parquet(f"{base}/batches.parquet")
    commit(spark, base)
    if keep_versions is not None:
        vacuum(spark, store_path, keep_last=keep_versions)
        gc_segments(spark, store_path)


def ivf_index_build(
    spark: SparkSession,
    vecs: DataFrame,
    store_path: str,
    k: int | None = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
    keep_versions: int | None = None,
    target_cell_rows: int = 256,
) -> int:
    """Train the coarse quantizer on ``vecs`` (engine-exact Lloyd,
    operators/cluster.py), assign the build corpus, and publish v1
    (or v{current+1} -- a REBUILD on a drifted store). Returns the
    published version number.

    ``k=None`` sizes the quantizer to the corpus (round-8 verdict
    item 4): k = scaled_n_cells(count, target_cell_rows) -- cells
    ~ N/target_cell_rows, so probe cost per query stays ~constant as
    the store grows across rebuilds instead of cell sizes (and the
    contained per-cell quadratic of any within-cell consumer)
    growing with N. This is the rebuild-path home of the density
    dial SF1.md documents: each drift-triggered rebuild re-derives
    the cell count from the corpus it trains on.

    A rebuild RESETS the replay ledger (the new version's corpus is
    exactly ``vecs``; prior batch ids refer to state that no longer
    exists). Streaming ingesters must therefore restart from a fresh
    checkpoint after a rebuild -- re-using the old checkpoint would
    let a re-delivered batch that is already inside ``vecs`` be
    appended twice."""
    if k is None:
        from .similarity import scaled_n_cells

        k = scaled_n_cells(vecs.count(), target_cell_rows)
    prepped = vecs.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    )
    cents = kmeans_fit(vecs, k=k, iters=iters, id_col=id_col,
                       vec_col=vec_col, dim=dim, seed=seed)
    cent_df = local_frame(
        spark, [(i, c) for i, c in enumerate(cents)],
        "cluster int, cent array<double>",
    )
    cells = _assign(prepped, cents)
    batches = local_frame(spark, [("__build__",)], "batch_id string")
    new_v = current_version(spark, store_path) + 1
    seg = _segment_name(new_v, "build")
    cells.write.mode("overwrite").parquet(_segment_path(store_path, seg))
    _publish_version(spark, store_path, new_v, cent_df, [seg], batches,
                     keep_versions)
    return new_v


def ivf_index_append(
    spark: SparkSession,
    new_vecs: DataFrame,
    store_path: str,
    batch_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_versions: int | None = None,
) -> int:
    """Append one ingestion batch to the committed index WITHOUT
    retraining: assign the batch against the frozen centroids, write
    it as one NEW immutable segment, and publish a manifest listing
    old segments + the new one -- O(batch) bytes written, the
    existing cells are never read or rewritten. Replaying a recorded
    ``batch_id`` is a no-op (returns the current version).
    """
    cent_df, _, batches, version = _committed(spark, store_path)
    if batch_id in {r.batch_id for r in
                    batches.select("batch_id").collect()}:
        return version  # replay: batch already in the index
    prepped = new_vecs.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    )
    new_v = version + 1
    seg = _segment_name(new_v, batch_id)
    _assign(prepped, _frozen_centroids(cent_df)).write.mode(
        "overwrite"
    ).parquet(_segment_path(store_path, seg))
    new_batches = batches.select("batch_id").unionAll(
        local_frame(spark, [(batch_id,)], "batch_id string")
    )
    _publish_version(
        spark, store_path, new_v, cent_df,
        _manifest_names(spark, store_path, version) + [seg],
        new_batches, keep_versions,
    )
    return new_v


def ivf_index_compact(
    spark: SparkSession,
    store_path: str,
    keep_versions: int | None = None,
    rows_per_file: int = 4_000_000,
) -> int:
    """Merge the current manifest's segments into ONE segment and
    publish it as the next version (centroids and ledger unchanged) --
    the lifecycle's counterpart to O(batch) appends: many tiny
    ingestion segments degrade scan parallelism and parquet footer
    overhead, so compact when the segment count crosses a threshold
    (caller's policy). Superseded segments become garbage for
    :func:`gc_segments` once retention drops the versions naming
    them. No-op (returns the current version) when already compact."""
    cent_df, cells, batches, version = _committed(spark, store_path)
    if len(_manifest_names(spark, store_path, version)) <= 1:
        return version
    new_v = version + 1
    seg = _segment_name(new_v, "compact")
    # RANGE-partition + sort by cluster: each output file (and each
    # row group within it) covers a contiguous, near-disjoint cluster
    # range, so a probe's `cluster IN (...)` filter prunes to the few
    # row groups whose footer min/max straddle the probed cells.
    # (Hash repartition("cluster") would scatter cluster ids across
    # files -- every footer would span the whole id range and nothing
    # would prune.) The file count is EXPLICIT (rows/rows_per_file):
    # an unsized repartitionByRange lets AQE coalesce a small shuffle
    # into one partition, producing one row group that spans every
    # cluster -- exactly the unprunable layout compaction exists to
    # fix. Proof from actual parquet footers:
    # tests/test_operators.py::test_compaction_prunes_probe_row_groups.
    n_files = max(1, -(-cells.count() // rows_per_file))
    (
        cells.repartitionByRange(n_files, "cluster")
        .sortWithinPartitions("cluster")
        .write.mode("overwrite")
        .parquet(_segment_path(store_path, seg))
    )
    _publish_version(spark, store_path, new_v, cent_df, [seg],
                     batches.select("batch_id"), keep_versions)
    return new_v


def ivf_store_stats(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """One-row health report of the committed index -- the drift and
    maintenance monitor the store's docstring prescribes: (version,
    n_segments, n_vectors, n_cells, max_cell_rows, cell_skew_ppm).
    ``cell_skew_ppm`` = max cell share in ppm (uniform = 1e6/k): as
    ingested distribution drifts from the trained quantizer it climbs,
    telling you WHEN to rebuild; ``n_segments`` tells you when to
    compact. Cost: one groupBy over the cells table + metadata reads.
    """
    _, cells, _, version = _committed(spark, store_path)
    n_segments = len(_manifest_names(spark, store_path, version))
    per_cell = cells.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("rows")
    )
    return per_cell.agg(
        F.lit(version).cast("int").alias("version"),
        F.lit(n_segments).cast("int").alias("n_segments"),
        F.sum("rows").alias("n_vectors"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("rows").alias("max_cell_rows"),
    ).withColumn(
        "cell_skew_ppm",
        F.expr("max_cell_rows * 1000000 div n_vectors"),
    )


def ivf_index_query(
    spark: SparkSession,
    queries: DataFrame,
    store_path: str,
    k: int = 5,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors per query from the committed index:
    probe the ``n_probe`` nearest cells (same snapped-L2 rule the
    cells were built with), score only their members, exact-rescore
    with the house rounding + tie-break. Returns
    (query_id, neighbor_id, sim, rk)."""
    cent_df, cells, _, _ = _committed(spark, store_path)
    qv = _with_constant_row(
        queries.select(
            F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
        ),
        _cent_row(spark, _frozen_centroids(cent_df)),
        "id",
    )
    probes = qv.select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"),
        F.explode(_best_indices(_snapped_dists_row(), n_probe))
        .alias("cluster"),
    ).withColumn("qn", norm(F.col("qv")))
    members = cells.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"),
        "cluster",
    ).withColumn("cn", norm(F.col("cv")))
    return _rank_topk(_score(probes.join(members, "cluster")), k)
