"""Distributed Lloyd's k-means with engine-exact aggregation.

Why it exists: the IVF / SemDeDup tiers run on seeded centroids (the
no-training baseline) and document that "k-means only rebalances
cells". This operator IS that rebalancing -- MLlib-free, so results
are reproducible bit-for-bit against the DuckDB oracle, which MLlib's
float reductions can never be.

Exactness discipline (functions/exact.py): per-dimension component
sums are accumulated as ROUND(val * 1e6) longs -- integer addition is
associative, so Spark's partial aggregation and the oracle's
sequential sum agree exactly -- and the mean is rebuilt with one
fixed op order ((CAST(s AS DOUBLE) / n) / 1e6). Assignment distances
(||c||^2 - 2<v,c>) and inertia terms are the same IEEE expressions in
both engines -- the oracle's dot products are unrolled to Spark's
exact left-fold order (similarity.dot_sql) -- and every distance is
micro-rounded to BIGINT before the argmin as well as before any sum,
so no raw double ever decides a cluster id or enters the compare
surface.

Scale shape: each round is one distributed assignment (per-row
codegen against a one-row broadcast centroid relation,
constants-as-data rule) + one (cluster, dim)-keyed partial-sum
aggregate -- constant-width shuffle keys, map-side combine, identical
to how MLlib's Lloyd iterations are laid out. The ONLY driver-side
work per round is collecting the k x dim integer sums (a few KB,
O(1) in corpus size) to rebuild the next centroid literals --
coordination, not data movement, same stance as dedup_components'
convergence counts.

Empty clusters keep their previous centroid (the standard Lloyd
fallback); ties in assignment go to the lowest cluster id in both
engines (first-min).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .similarity import (
    _as_double,
    _with_constant_row,
    dot,
    dot_sql,
    lsh_hyperplanes,
)

MICRO = 1_000_000


def _cent_row(spark, cents: list[list[float]]) -> DataFrame:
    """ONE-ROW constants relation (cents, ccs, __k) from literal
    centroids. ``ccs[j] = dot(c_j, c_j)`` is evaluated IN-ENGINE on
    the single row with the exact ``dot`` fold, so the per-centroid
    self-dot -- a constant -- is computed once per QUERY instead of
    once per data row per centroid (optimization round 12, guide
    par.1.2 "per-task work": at dim=64, k=8 that fold was half the
    assignment scan's flops on every corpus row).

    The row comes from ``local_frame``, so it is a ``LocalRelation``:
    the ``ccs`` projection folds into it in the JVM and the broadcast
    runs no Python-worker stage -- per Lloyd round, per build
    assignment and per query probe."""
    df = local_frame(
        spark, [(cents, 0)], "cents array<array<double>>, __k long"
    )
    return df.select(
        "cents",
        F.transform(F.col("cents"), lambda c: dot(c, c)).alias("ccs"),
        "__k",
    )


def _snapped_dists_row() -> F.Column:
    """Micro-snapped shifted L2 distances against the attached
    one-row (cents, ccs) columns: ROUND((ccs[i] - 2<v, c_i>) * 1e6).
    Bit-identical to the historical ROUND((dot(c,c) - 2<v,c>) * 1e6)
    -- ccs[i] IS dot(c_i, c_i) by the same left fold -- so the argmin
    and the oracle's ROW_NUMBER ordering cannot disagree."""
    return F.transform(
        F.col("cents"),
        lambda c, i: F.round(
            (F.element_at(F.col("ccs"), i + 1) - 2 * dot(F.col("v"), c))
            * MICRO
        ).cast("long"),
    )


def _assign_row(vecs: DataFrame, cent_row: DataFrame) -> DataFrame:
    """Add the argmin-distance cluster id (first-min tie-break)
    against a one-row centroid relation (literal or LAZILY DERIVED).

    The argmin runs over MICRO-SNAPPED distances (ROUND(d * 1e6) as
    long), not raw IEEE doubles: a near-tie pair of centroids whose
    raw distances differ below micro precision must resolve the same
    way in Spark and in the oracle's ROW_NUMBER ordering, independent
    of either engine's dot-product summation order (r4 verdict:
    one ulp of libm/FMA wiggle flipped a cluster count in the
    driver's environment)."""
    dists = _snapped_dists_row()
    return (
        _with_constant_row(vecs, cent_row, "id")
        .withColumn(
            "cluster",
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
        )
        .drop("cents", "ccs")
    )


def _assign(vecs: DataFrame, cents: list[list[float]]) -> DataFrame:
    """:func:`_assign_row` against literal centroids (same output).

    (Optimization round 12 note: a fully LAZY Lloyd chain -- each
    round's centroids derived as a nested one-row broadcast relation,
    the oracle's unrolled-CTE shape -- was implemented and measured
    rep-interleaved against this collect loop at sf0.1:
    1.04-1.05x, flat. The per-round driver collect of k x dim
    integers costs exactly what the nested BroadcastExchange build
    costs, so the chain bought plan depth without buying seconds and
    was dropped; the self-dot hoist below is what survived.)"""
    return _assign_row(vecs, _cent_row(vecs.sparkSession, cents))


def _lloyd(vecs: DataFrame, k: int, iters: int, dim: int,
           seed: int) -> list[list[float]]:
    """Run the Lloyd rounds; return the final centroids as plain
    Python floats (exact: integer sums come back from the cluster,
    the mean arithmetic is the same fixed op order as the oracle)."""
    cents = lsh_hyperplanes(dim, k, seed)
    for _ in range(iters):
        assigned = _assign(vecs, cents)
        sums = (
            assigned.select(
                "cluster", F.posexplode(F.col("v")).alias("pos", "val")
            )
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.round(F.col("val") * MICRO).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new = [list(c) for c in cents]
        for r in sums:
            new[r["cluster"]][r["pos"]] = (float(r["s"]) / r["n"]) / MICRO
        if new == cents:
            # exact fixpoint (component arithmetic is exact, so float
            # equality is meaningful): every further round would
            # reproduce these centroids bit-for-bit, which is also why
            # early-stopping cannot diverge from the oracle's fully
            # unrolled CTE rounds
            break
        cents = new
    return cents


def _prep(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Normalized (id, v) projection, persisted: every Lloyd round and
    the final assignment scan it."""
    from .caching import persisted

    return persisted(
        df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> list[list[float]]:
    """Fit and return the trained centroids -- feed them to
    kmeans_assignments / a trained-cell ANN query."""
    return _lloyd(_prep(df, id_col, vec_col), k, iters, dim, seed)


def kmeans_assignments(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """(id, v, cluster) under the trained centroids -- the
    trained-cell partition that IVF-style search runs on."""
    vecs = _prep(df, id_col, vec_col)
    return _assign(vecs, _lloyd(vecs, k, iters, dim, seed))


def kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Run ``iters`` Lloyd rounds from seeded centroids; return the
    final per-cluster summary (cluster, n_members, inertia_micro)
    where inertia_micro = exact long sum of ROUND(||v - c||^2 * 1e6)
    over members -- the full pipeline (every assignment and every
    centroid update) is pinned by this hash.
    """
    vecs = _prep(df, id_col, vec_col)
    # ONE broadcast join: cluster and its inertia term come out of the
    # same joined frame (the cents column is still present), instead
    # of assigning, dropping cents, and re-joining to look them up
    cent_row = _cent_row(
        vecs.sparkSession, _lloyd(vecs, k, iters, dim, seed)
    )
    # same micro-snapped argmin as _assign_row (see its docstring)
    dists = _snapped_dists_row()
    joined = _with_constant_row(vecs, cent_row, "id").withColumn(
        "cluster",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
    )
    sel = F.element_at(F.col("cents"), F.col("cluster") + 1)
    # + ccs[cluster] == + dot(sel, sel) bit-for-bit (same fold, same
    # op order) without re-folding the constant per row
    sq_dist = (
        dot(F.col("v"), F.col("v"))
        - 2 * dot(F.col("v"), sel)
        + F.element_at(F.col("ccs"), F.col("cluster") + 1)
    )
    return (
        joined.select(
            "cluster",
            F.round(sq_dist * MICRO).cast("long").alias("d_micro"),
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d_micro").alias("inertia_micro"),
        )
    )


def kmeans_ctes(
    k: int = 8,
    iters: int = 3,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
    prefix: str = "",
) -> str:
    """The Lloyd rounds unrolled as CTE chains (seeded centroid
    literals -> assignment via first-min window -> exact micro-long
    component sums -> rebuilt centroid relation), ending in
    ``{prefix}afinal(id, v, cluster, cent)`` -- exposed separately so
    composed queries (trained-cell ANN, trained PQ codebooks) can
    build on the final partition. ``prefix`` namespaces every internal
    CTE so several chains (one per PQ subspace) can share one WITH
    clause; ``{prefix}cents{iters}`` is the trained-centroid
    relation."""
    P = prefix
    cents0 = lsh_hyperplanes(dim, k, seed)
    rows = ", ".join(
        f"({j}, {c!r}::DOUBLE[])" for j, c in enumerate(cents0)
    )
    # mirror of _assign: unrolled left-fold dots (bit-identical to
    # Spark's fold, see similarity.dot_sql) micro-snapped to BIGINT
    # BEFORE the argmin ordering -- no raw IEEE double ever decides a
    # cluster id in either engine
    d_snap = (
        f"CAST(ROUND(({dot_sql('c.cent', 'c.cent', dim)}"
        f" - 2 * {dot_sql('q.v', 'c.cent', dim)}) * {MICRO}) AS BIGINT)"
    )
    parts = [
        f"""{P}vecs AS (
            SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
            FROM {table}
        ), {P}spine AS (
            SELECT unnest(range({k})) AS cluster
        ), {P}cents0(cluster, cent) AS (VALUES {rows})"""
    ]
    for r in range(iters):
        parts.append(f"""{P}a{r} AS (
            SELECT id, v, CAST(cluster AS INTEGER) AS cluster FROM (
                SELECT q.id, q.v, c.cluster,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.id
                           ORDER BY {d_snap} ASC, c.cluster ASC
                       ) AS rn
                FROM {P}vecs q CROSS JOIN {P}cents{r} c
            ) WHERE rn = 1
        ), {P}s{r} AS (
            SELECT cluster, u.pos,
                   SUM(CAST(ROUND(u.val * {MICRO}) AS BIGINT)) AS s,
                   COUNT(*) AS n
            FROM (
                SELECT cluster, unnest(list_transform(v,
                    (x, i) -> struct_pack(pos := i, val := x))) AS u
                FROM {P}a{r}
            ) GROUP BY cluster, u.pos
        ), {P}cents{r + 1} AS (
            SELECT sp.cluster,
                   COALESCE(l.cent, p.cent) AS cent
            FROM {P}spine sp
            LEFT JOIN (
                SELECT cluster,
                       list((CAST(s AS DOUBLE) / n) / {MICRO}
                            ORDER BY pos) AS cent
                FROM {P}s{r} GROUP BY cluster
            ) l ON l.cluster = sp.cluster
            JOIN {P}cents{r} p ON p.cluster = sp.cluster
        )""")
    parts.append(f"""{P}afinal AS (
            SELECT id, v, cluster, cent FROM (
                SELECT q.id, q.v, c.cluster, c.cent,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.id
                           ORDER BY {d_snap} ASC, c.cluster ASC
                       ) AS rn
                FROM {P}vecs q CROSS JOIN {P}cents{iters} c
            ) WHERE rn = 1
        )""")
    return ",\n".join(parts)


def kmeans_sql(
    k: int = 8,
    iters: int = 3,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> str:
    """DuckDB twin of kmeans: the unrolled CTE chain + the same
    per-cluster inertia summary."""
    ctes = kmeans_ctes(k, iters, table, id_col, vec_col, dim, seed)
    # (v.v - 2*v.c) + c.c: identical op order to kmeans()'s sq_dist,
    # with unrolled dots -- bit-identical doubles before the ROUND
    sq = (
        f"({dot_sql('v', 'v', dim)} - 2 * {dot_sql('v', 'cent', dim)}"
        f" + {dot_sql('cent', 'cent', dim)})"
    )
    return f"""WITH {ctes}
        SELECT CAST(cluster AS INTEGER) AS cluster,
               COUNT(*) AS n_members,
               CAST(SUM(CAST(ROUND({sq} * {MICRO}) AS BIGINT))
                    AS BIGINT) AS inertia_micro
        FROM afinal GROUP BY cluster
    """


# --- class prototypes (label centroids + margin audit) -------------------------
#
# Nearest-class-mean diagnostics over a labeled embedding table: the
# audit an embedding-based curation pipeline reads before trusting a
# label column (noisy labels show up as collapsed inter-class
# margins) and the init a prototype classifier serves from. Unlike
# kmeans above (IEEE distances snapped per-expression), prototypes
# stay in PURE INTEGER space end to end: components are micro-snapped
# once on entry, centroids divide with Spark `div` / DuckDB `//`
# (both truncate toward zero -- verified on negative sums), and every
# distance is a sum of integer squares -- associative, so partial
# aggregation cannot diverge from a sequential oracle by
# construction.


def _exact_div_micro(c) -> "F.Column":
    """Integer floor-divide a NON-NEGATIVE long column by 1e6 without
    ever trusting a double quotient's rounding: subtract the modulus
    first, so the `/` is exact (numerator divisible, result < 2^53)
    and the cast cannot flip a floor boundary. Matches DuckDB's
    integer `// 1000000` bit-for-bit."""
    return ((c - c % F.lit(MICRO)) / F.lit(MICRO)).cast("long")


def label_prototypes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
) -> DataFrame:
    """Per-label prototype audit (one row per label, sorted):

    - ``n_vecs``: class size;
    - ``intra_mean_sqdist_micro``: mean squared distance of members
      to their own class centroid (micro^2 scaled down by 1e6 per
      vector BEFORE summing, so the corpus-wide sum stays far from
      BIGINT range at any scale);
    - ``nearest_label`` / ``inter_sqdist_micro``: the closest other
      class centroid and its (same-scaled) squared distance --
      deterministic (distance, label) tie-break;
    - ``margin_ppm``: inter/(intra+1) ratio in ppm -- the
      separability number; < 1e6 means the nearest foreign prototype
      sits inside the class's own scatter.

    Scale shape: one (label, dim)-keyed partial-sum shuffle (explode
    is map-side; keys are constant-width), centroids are a
    |labels|-row relation broadcast back for the intra pass, and the
    pairwise margin table is |labels|^2 driver-free arithmetic.
    """
    snapped = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.transform(
            _as_double(vec_col),
            lambda x: F.round(x * MICRO).cast("long"),
        ).alias("v"),
    )
    comp = (
        snapped.select(
            "label", F.posexplode("v").alias("pos", "c")
        )
        .groupBy("label", "pos")
        .agg(F.sum("c").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label", "pos", "n",
            # Spark `div` and DuckDB `//` BOTH truncate toward zero
            # (verified on negative operands), so the centroid
            # components agree exactly even where sums are negative.
            F.expr("s div n").cast("long").alias("cc"),
        )
    )
    cents = comp.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cc"))),
            lambda st: st.cc,
        ).alias("cent"),
    )
    sq_sum = F.aggregate(
        F.zip_with("v", "cent", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    intra = (
        snapped.join(F.broadcast(cents.select("label", "cent")), "label")
        .select("label", _exact_div_micro(sq_sum).alias("d"))
        .groupBy("label")
        .agg(F.expr("sum(d) div count(1)").cast("long")
             .alias("intra_mean_sqdist_micro"))
    )
    pairs = (
        cents.select(F.col("label").alias("la"), F.col("cent").alias("ca"))
        .join(cents.select(F.col("label").alias("lb"),
                           F.col("cent").alias("cb")),
              F.col("la") != F.col("lb"))
        .select(
            "la", "lb",
            _exact_div_micro(F.aggregate(
                F.zip_with("ca", "cb", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )).alias("d"),
        )
    )
    nearest = (
        pairs.groupBy("la")
        .agg(F.min(F.struct("d", "lb")).alias("m"))
        .select(
            F.col("la").alias("label"),
            F.col("m.lb").alias("nearest_label"),
            F.col("m.d").alias("inter_sqdist_micro"),
        )
    )
    return (
        cents.select("label", "n_vecs")
        .join(intra, "label")
        .join(nearest, "label")
        .select(
            "label", "n_vecs", "intra_mean_sqdist_micro",
            "nearest_label", "inter_sqdist_micro",
            F.expr(f"inter_sqdist_micro * {MICRO} div "
                   f"(intra_mean_sqdist_micro + 1)").cast("long")
            .alias("margin_ppm"),
        )
        .orderBy("label")
    )


def label_prototypes_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`label_prototypes` (identical integer
    pipeline; DuckDB ``//`` truncates toward zero exactly like
    Spark's ``div``, including on negative component sums)."""
    isq = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {dim} + 1), "
        f"i -> (v[i] - cent[i]) * (v[i] - cent[i]))), (x, y) -> x + y)"
    )
    psq = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {dim} + 1), "
        f"i -> (ca[i] - cb[i]) * (ca[i] - cb[i]))), (x, y) -> x + y)"
    )
    return f"""
        WITH snapped AS (
            SELECT {id_col} AS id, {label_col} AS label,
                   list_transform(CAST({vec_col} AS DOUBLE[]),
                       x -> CAST(ROUND(x * {MICRO}) AS BIGINT)) AS v
            FROM {table}
        ), comp AS (
            SELECT label, t.i AS pos,
                   CAST(SUM(v[t.i]) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM snapped, range(1, {dim} + 1) t(i)
            GROUP BY label, t.i
        ), cents AS (
            SELECT label, CAST(MAX(n) AS BIGINT) AS n_vecs,
                   list(s // n ORDER BY pos) AS cent
            FROM comp GROUP BY label
        ), intra AS (
            SELECT s.label,
                   CAST(SUM({isq} // {MICRO}) AS BIGINT)
                       // COUNT(*) AS intra_mean_sqdist_micro
            FROM snapped s JOIN cents c USING (label)
            GROUP BY s.label
        ), pairs AS (
            SELECT a.label AS la, b.label AS lb,
                   CAST({psq} // {MICRO} AS BIGINT) AS d
            FROM (SELECT label, cent AS ca FROM cents) a
            JOIN (SELECT label, cent AS cb FROM cents) b
              ON a.label != b.label
        ), nearest AS (
            SELECT la AS label, lb AS nearest_label, d AS inter_sqdist_micro
            FROM (
                SELECT la, lb, d, ROW_NUMBER() OVER (
                    PARTITION BY la ORDER BY d, lb) AS rn
                FROM pairs
            ) WHERE rn = 1
        )
        SELECT c.label, c.n_vecs, i.intra_mean_sqdist_micro,
               n.nearest_label, n.inter_sqdist_micro,
               n.inter_sqdist_micro * {MICRO}
                   // (i.intra_mean_sqdist_micro + 1) AS margin_ppm
        FROM cents c
        JOIN intra i ON i.label = c.label
        JOIN nearest n ON n.label = c.label
        ORDER BY c.label
    """


def kmeans_silhouette(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Per-cluster simplified silhouette -- the clustering-quality
    number read AFTER kmeans, answering "are these clusters real or
    did Lloyd just carve a blob".

    Simplified silhouette replaces the classic all-pairs a/b (O(n^2),
    a non-starter at corpus scale) with centroid distances: per point,
    a2 = snapped ||v - c_own||^2, b2 = min over OTHER centroids of the
    same snap, s_ppm = (b2 - a2) * 1e6 div max(a2, b2) -- in [0, 1e6]
    since the assigned centroid is the argmin (1e6 = perfectly
    separated, 0 = on the boundary). Both-zero distances (a point ON
    two centroids) score 0 by convention.

    Exactness discipline: distances are micro-snapped longs with the
    identical (v.v - 2*v.c) + c.c op order as kmeans(), so the oracle
    cannot disagree on a boundary point. Per cluster: (cluster,
    n_members, mean_sil_ppm = sum(s) div n).

    Scale: one broadcast of k centroids, k snapped dots per row, one
    groupBy(cluster) -- same shape as the assignment scan itself.
    """
    from .similarity import _with_constant_row

    vecs = _prep(df, id_col, vec_col)
    cent_row = _cent_row(
        vecs.sparkSession, _lloyd(vecs, k, iters, dim, seed)
    )
    # assignment argmin on the SAME snap kmeans uses (cc - 2vc);
    # ccs[i] == dot(c_i, c_i) bit-for-bit (one fold per query, not
    # per row -- see _cent_row)
    adists = _snapped_dists_row()
    # full squared distance for the silhouette ratio (vv - 2vc + cc,
    # kmeans()'s sq_dist op order)
    fdists = F.transform(
        F.col("cents"),
        lambda c, i: F.round(
            (
                dot(F.col("v"), F.col("v"))
                - 2 * dot(F.col("v"), c)
                + F.element_at(F.col("ccs"), i + 1)
            ) * MICRO
        ).cast("long"),
    )
    joined = (
        _with_constant_row(vecs, cent_row, "id")
        .withColumn(
            "cluster",
            (F.array_position(adists, F.array_min(adists)) - 1)
            .cast("int"),
        )
        .withColumn("fd", fdists)
    )
    scored = joined.select(
        "cluster",
        F.element_at("fd", F.col("cluster") + 1).alias("a2"),
        F.array_min(
            F.filter("fd", lambda x, i: i != F.col("cluster"))
        ).alias("b2"),
    ).select(
        "cluster",
        F.when(F.greatest("a2", "b2") <= 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr("(b2 - a2) * 1000000 div greatest(a2, b2)")
        ).cast("long").alias("s_ppm"),
    )
    return (
        scored.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.expr("sum(s_ppm) div count(1)")
            .cast("long").alias("mean_sil_ppm"),
        )
        .orderBy("cluster")
    )


def kmeans_silhouette_sql(
    k: int = 8,
    iters: int = 3,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> str:
    """DuckDB twin of :func:`kmeans_silhouette` (shared Lloyd CTEs +
    the same snapped full-distance a2/b2 ratio)."""
    ctes = kmeans_ctes(k, iters, table, id_col, vec_col, dim, seed)
    fd = (
        f"CAST(ROUND(({dot_sql('q.v', 'q.v', dim)}"
        f" - 2 * {dot_sql('q.v', 'c.cent', dim)}"
        f" + {dot_sql('c.cent', 'c.cent', dim)}) * {MICRO}) AS BIGINT)"
    )
    return f"""WITH {ctes},
        alldist AS (
            SELECT q.id, q.cluster, c.cluster AS cj, {fd} AS d2
            FROM afinal q CROSS JOIN cents{iters} c
        ), ab AS (
            SELECT id, cluster,
                   MIN(CASE WHEN cj = cluster THEN d2 END) AS a2,
                   MIN(CASE WHEN cj <> cluster THEN d2 END) AS b2
            FROM alldist GROUP BY id, cluster
        )
        SELECT CAST(cluster AS INTEGER) AS cluster,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(CASE WHEN GREATEST(a2, b2) <= 0 THEN 0
                             ELSE (b2 - a2) * 1000000
                                  // GREATEST(a2, b2) END)
                    // COUNT(*) AS BIGINT) AS mean_sil_ppm
        FROM ab GROUP BY cluster ORDER BY cluster
    """
