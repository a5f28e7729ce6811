"""Similarity search over an embedding column (north-star par.2b).

Every top-k operator is candidate generation followed by ONE exact
verify-and-rank step (the filter-and-verify split):

- brute-force cosine top-k (cosine_topk): the exact baseline. Cross
  join of queries against the corpus with the dot product as pure
  array expressions (`zip_with` + `aggregate`, JVM-side, no Python).
  Cost O(|Q| x |C|): right for small query sets or reranking.
- LSH top-k (lsh_topk_multi; lsh_topk is its one-table case):
  random-hyperplane signatures (fixed, seeded, shipped as a broadcast
  constants row -> identical across engines/runs) bucket the corpus in
  ``n_tables`` independent tables; a pair is a candidate if it shares
  a bucket in ANY table. Sub-linear scans at the cost of recall.
- IVF top-k (ivf_topk): vectors live in their argmax Voronoi cell;
  a query probes its ``n_probe`` nearest cells.
- IVF-PQ top-k (ivf_pq_topk): IVF cells, but the candidate join ships
  product-quantized codes; an ADC score picks a ``rerank`` shortlist,
  which the exact step then ranks.

One probe rule (_best_indices): a query's cells are the n best
entries of its key array, ties by the smaller index -- one probe is
the argmax (argmin) assignment itself. One ranking rule (_score +
_rank_topk): similarity is computed in float64 and ROUNDED to
SIM_DECIMALS before ranking, self-matches are dropped, and each query
keeps its k best rows by (sim desc, neighbor_id asc). Rounding makes
top-k membership independent of summation order (Spark partial
aggregation vs the oracle's sequential loop). The DuckDB twins
(``*_sql``) are the reference implementations and spell both rules
out in SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

SIM_DECIMALS = 6


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str, dim: int = 64) -> str:
    """DuckDB dot product as an explicit SEQUENTIAL left fold --
    ``list_reduce`` over the per-index products, seeded with 0.0 --
    instead of ``list_dot_product``.

    Why: Spark's :func:`dot` is a strict left fold
    (``((0+t0)+t1)+...``) of separately-rounded IEEE multiplies, so
    its result is a deterministic function of the inputs.
    ``list_dot_product``'s internal summation order / FMA contraction
    is an implementation detail that may differ across DuckDB builds
    -- one ulp of wiggle at a ROUND half-boundary or an argmin
    near-tie flips an integer output (r4 verdict: the
    ``kmeans_cluster_stats`` driver-environment hash miss).
    ``list_reduce`` applies the lambda element-by-element left to
    right, each ``*`` and ``+`` its own separately-rounded scalar op
    (no FMA), bit-identical to Spark's fold. (An unrolled 64-term
    ``+`` chain is equally exact but blows up DuckDB's CTE-inlining
    planner memory when spliced into multi-round CTE chains.)

    SHORT vectors (dim <= 16, e.g. PQ sub-spaces) unroll into a
    plain ``+`` chain instead: same left-associated value
    (``0.0 + t0 == t0`` bit-exactly), ~10x faster than per-element
    lambda dispatch, and small enough that CTE inlining cannot
    amplify it meaningfully.
    """
    if dim <= 16:
        return "(" + " + ".join(
            f"{a}[{i}] * {b}[{i}]" for i in range(1, dim + 1)
        ) + ")"
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim} + 1), "
        f"i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
    )


def dot_lit_sql(vec: str, lit: list[float]) -> str:
    """:func:`dot_sql` against a LITERAL vector (centroid/hyperplane):
    the components are inlined as repr'd doubles, so DuckDB parses
    the exact same IEEE values Spark gets from the constants-as-data
    literal array, and the sum is the same left fold. Short vectors
    unroll with INLINE scalar literals (see dot_sql)."""
    if len(lit) <= 16:
        return "(" + " + ".join(
            f"{vec}[{i + 1}] * {c!r}" for i, c in enumerate(lit)
        ) + ")"
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {len(lit)} + 1), "
        f"i -> {vec}[i] * ({lit!r}::DOUBLE[])[i])), (x, y) -> x + y)"
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# The verify-and-rank step (module docstring): _side -> _score ->
# _rank_topk.
_SIDES = {
    "query": ("query_id", "qv", "qn"),
    "neighbor": ("neighbor_id", "cv", "cn"),
}


def _side(vecs: DataFrame, role: str, *extra) -> DataFrame:
    """One side of a candidate pair from (id, v, n) rows: ``role``
    "query" gives (query_id, qv, qn, *extra), "neighbor" gives
    (neighbor_id, cv, cn, *extra) -- the columns _score reads."""
    i, v, n = _SIDES[role]
    return vecs.select(
        F.col("id").alias(i), F.col("v").alias(v), F.col("n").alias(n),
        *extra,
    )


def _score(
    pairs: DataFrame, *keep: str, sim: Column | None = None
) -> DataFrame:
    """(query_id, neighbor_id, *keep, sim) of candidate pairs with
    self-matches dropped. ``sim`` defaults to the house similarity:
    cosine of (qv, qn) against (cv, cn) in float64, ROUNDED to
    SIM_DECIMALS before any ranking sees it."""
    if sim is None:
        sim = F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
            SIM_DECIMALS,
        )
    return pairs.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", *keep, sim.alias("sim")
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """THE ranking rule: each query's ``k`` best rows by ``sim``
    descending, ties by the smaller ``neighbor_id``, numbered from 1
    in ``rk`` (an existing ``rk`` is replaced)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query row (self-matches
    excluded). Corpus-side norms are precomputed once; the corpus side
    of the cross join is broadcast when small enough (hint left to
    AQE -- a 100 TB corpus must shuffle instead)."""
    q = queries.select(
        F.col(query_id).alias("id"), _as_double(vec_col).alias("v")
    ).withColumn("n", norm(F.col("v")))
    c = corpus.select(
        F.col(corpus_id).alias("id"), _as_double(vec_col).alias("v")
    ).withColumn("n", norm(F.col("v")))
    return _rank_topk(
        _score(_side(q, "query").crossJoin(_side(c, "neighbor"))), k
    )


def cosine_topk_sql(
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "TRUE",
    dim: int = 64,
) -> str:
    """DuckDB oracle for cosine_topk (same rounding + tie-break).

    ``dim`` < 64 evaluates over the length-``dim`` PREFIX of each
    vector (DuckDB list slice == Spark ``F.slice`` — the
    Matryoshka-truncation twin)."""
    vec_expr = f"CAST({vec_col} AS DOUBLE[])"
    if dim != 64:
        vec_expr = f"({vec_expr})[1:{dim}]"
    return f"""
        WITH vecs AS (
            SELECT {id_col} AS id, {vec_expr} AS v
            FROM {table}
        ), q AS (
            SELECT id AS query_id, v AS qv,
                   sqrt({dot_sql('v', 'v', dim)}) AS qn
            FROM vecs WHERE {query_filter}
        ), c AS (
            SELECT id AS neighbor_id, v AS cv,
                   sqrt({dot_sql('v', 'v', dim)}) AS cn
            FROM vecs
        ), scored AS (
            SELECT query_id, neighbor_id,
                   ROUND({dot_sql('qv', 'cv', dim)} / (qn * cn),
                         {SIM_DECIMALS}) AS sim
            FROM q CROSS JOIN c
            WHERE query_id != neighbor_id
        )
        SELECT query_id, neighbor_id, sim, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {k}
    """


def cosine_topk_pandas(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """cosine_topk with the similarity computed by a VECTORIZED scalar
    @pandas_udf (Arrow batches -> numpy) instead of Catalyst array
    expressions. Same plan shape, same rounding, same tie-break --
    results are identical; this is the path to take when the per-row
    math outgrows what array expressions express (e.g. a real model's
    scoring head). numpy's pairwise summation differs from a
    sequential fold only below the rounding threshold.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no parameter annotations: `from __future__ import annotations`
    # stringifies them, which pandas_udf's hint inference rejects
    @pandas_udf("double")
    def cos_sim(a, b):
        am = np.stack(a.to_numpy())
        bm = np.stack(b.to_numpy())
        dots = np.einsum("ij,ij->i", am, bm)
        na = np.sqrt(np.einsum("ij,ij->i", am, am))
        nb = np.sqrt(np.einsum("ij,ij->i", bm, bm))
        return pd.Series(np.round(dots / (na * nb), SIM_DECIMALS))

    q = queries.select(
        F.col(query_id).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    return _rank_topk(
        _score(q.crossJoin(c), sim=cos_sim(F.col("qv"), F.col("cv"))), k
    )


def scaled_n_cells(
    n_vectors: int,
    target_cell_rows: int = 256,
    min_cells: int = 8,
    max_cells: int = 1 << 20,
) -> int:
    """Corpus-size-aware Voronoi cell count: ceil(N / target_cell_rows),
    clamped to [min_cells, max_cells].

    THE density dial (round-8 verdict item 4, SF1.md): every
    cell-partitioned operator here (ivf_topk, semdedup, the IVF
    store) contains its quadratic within cells, so cost per cell is
    ~target_cell_rows^2 and total cost is LINEAR in N only if n_cells
    grows ~N/target_cell_rows. A pinned n_cells makes cell size grow
    with the corpus and the contained quadratic resurface -- measured
    3.5-4.4x at 10x data in SF1.md. SemDeDup (Abbas et al. 2023) runs
    50k clusters at LAION scale for exactly this reason.

    Exact-integer ceil division (no floats), so the Spark query and
    the DuckDB oracle derive the identical cell count from the same
    corpus size.
    """
    if n_vectors <= 0:
        return min_cells
    return max(
        min_cells,
        min(max_cells, -(-int(n_vectors) // int(target_cell_rows))),
    )


def lsh_hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-python LCG so
    the exact same literals can be embedded in engine and oracle)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        vals = []
        for _ in range(dim):
            # Park-Miller minimal standard LCG
            state = (state * 48271) % 2147483647
            vals.append(state / 2147483647.0 - 0.5)
        n = math.sqrt(sum(v * v for v in vals)) or 1.0
        planes.append([round(v / n, 6) for v in vals])
    return planes


def lsh_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket -- lsh_topk_multi with one table (the same seeded plane
    family, buckets and rescore). The candidate join is an equi-join
    on bucket id -- at 100 TB each bucket is ~N/2^planes rows and the
    quadratic blow-up is contained per-bucket (add planes to shrink
    buckets)."""
    return lsh_topk_multi(
        df, df, k, id_col, id_col, vec_col, n_tables=1,
        n_planes=n_planes, dim=dim, seed=seed,
    )


def _with_constant_row(
    df: DataFrame, const_df: DataFrame, key_col: str
) -> DataFrame:
    """Attach a ONE-ROW constant relation (plane/centroid matrices) as
    columns of every row.

    Three candidate encodings, measured at 8 tables x 8 planes x 64
    dims on 500 rows:
    - per-element literal trees: ~6 s of Catalyst analysis + codegen
      per query (plan size linear in matrix size);
    - one nested F.lit Literal: small plan, but ~3x slower per ROW
      (boxed GenericArrayData walked by the higher-order fold);
    - broadcast one-row relation (this): small plan AND unsafe-row
      data (~0.75 s warm for the same scan).
    A plain crossJoin of the 1-row side would compile to
    BroadcastNestedLoopJoin -- the operator the scale plan-assertions
    ban as the all-pairs signature -- so both join keys are kept
    non-foldable: the probe is a deterministic always-zero expression
    of ``key_col``, and the build key is a DATA-BORNE zero (a real
    column of the one-row relation -- a literal withColumn would
    constant-propagate out of the condition and degrade the join back
    to a nested loop). The plan stays a BroadcastHashJoin (a per-row
    probe of a 1-entry hashmap), and nested-loop joins remain
    greppable as genuine scale bugs. ``const_df`` must carry a
    ``__k`` bigint column equal to 0 in its data.

    Callers build ``const_df`` with ``session.local_frame``, so the
    one row is a ``LocalRelation`` the JVM broadcasts directly: no
    Python-worker stage behind the broadcast (a ``createDataFrame``
    list would run one pickled-row task per core each time)."""
    probe = F.pmod(F.xxhash64(F.col(key_col)), F.lit(1))
    return df.join(
        F.broadcast(const_df), probe == F.col("__k")
    ).drop("__k")


def _multi_table_planes(
    dim: int, n_tables: int, n_planes: int, seed: int
) -> list[list[list[float]]]:
    """One independent plane family per LSH table (seed + 1000*t --
    the same family layout embedding_near_dup_pairs uses; table 0 is
    lsh_hyperplanes(dim, n_planes, seed), the lsh_topk_sql planes)."""
    return [
        lsh_hyperplanes(dim, n_planes, seed + 1000 * t)
        for t in range(n_tables)
    ]


def _bucket_from_planes(vec: Column, planes: Column) -> Column:
    """Sign-bit bucket of ``vec`` against a DATA-side array of planes
    (array<array<double>>): a zip_with product + sequential fold per
    plane, bit b set iff dot > 0 -- the same float ops as the oracle's
    CASE chain. The planes live in a broadcast ROW, not in the
    expression tree: inlining n_planes x dim literal nodes per call
    makes Catalyst analysis + Janino compile dominate multi-table
    queries (~0.75 s per table
    instance at 8 planes x 64 dims -- on 500 rows). Here the planes
    arrive as a broadcast row (_with_constant_row) and the expression
    is a fixed-size higher-order fold, so plan cost is constant in
    n_tables and n_planes."""
    return F.aggregate(
        planes,
        F.struct(
            F.lit(0).alias("bucket"), F.lit(1).alias("bit")
        ),
        lambda acc, p: F.struct(
            (
                acc["bucket"]
                + F.when(dot(vec, p) > 0, acc["bit"]).otherwise(F.lit(0))
            ).alias("bucket"),
            (acc["bit"] * 2).alias("bit"),
        ),
        lambda acc: acc["bucket"],
    )


def _banded_ids(
    vecs: DataFrame, planes_per_table: list[list[list[float]]]
) -> DataFrame:
    """(id, t, bucket) rows: each vector's bucket in every table.
    Carries IDS ONLY through the band join -- vectors are joined back
    for the exact rescore afterwards (the minhash_lsh_pairs shape), so
    the widest shuffle ships (id, t, bucket), never the embeddings.

    The plane tables ride in as one broadcast row (see
    _with_constant_row); the per-table loop is a higher-order
    transform over that row, so the plan stays small at any T."""
    planes_df = local_frame(
        vecs.sparkSession, [(planes_per_table, 0)],
        "tables array<array<array<double>>>, __k long",
    )
    tb = F.transform(
        F.col("tables"),
        lambda tbl, ti: F.struct(
            ti.cast("int").alias("t"),
            _bucket_from_planes(F.col("v"), tbl).alias("bucket"),
        ),
    )
    return (
        _with_constant_row(vecs, planes_df, "id")
        .select("id", F.explode(tb).alias("tb"))
        .select("id", "tb.t", "tb.bucket")
    )


def lsh_multi_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    broadcast_queries: bool = False,
) -> DataFrame:
    """Distinct (query_id, neighbor_id) ANN candidates: a pair is a
    candidate iff it shares a bucket in ANY of ``n_tables`` independent
    hyperplane tables (OR-amplification). Exposed separately so the
    recall/cost evaluation can count the scored-candidate set -- the
    cost axis of the recall/cost curve -- with exactly the operator's
    candidate generation.

    ``broadcast_queries``: the ANN serving shape is a BOUNDED query
    batch against a huge corpus -- broadcasting the banded query side
    turns the candidate join into a map-side hash probe, so the
    corpus-side banding never shuffles at all (at 100 TB that shuffle
    is the whole cost). Leave False for self-join ANN, where the query
    side is the corpus itself.
    """
    planes_per_table = _multi_table_planes(dim, n_tables, n_planes, seed)
    qv = queries.select(
        F.col(query_id).alias("id"), _as_double(vec_col).alias("v")
    )
    cv = corpus.select(
        F.col(corpus_id).alias("id"), _as_double(vec_col).alias("v")
    )
    bq = _banded_ids(qv, planes_per_table).withColumnRenamed(
        "id", "query_id"
    )
    if broadcast_queries:
        bq = F.broadcast(bq)
    bc = _banded_ids(cv, planes_per_table).withColumnRenamed(
        "id", "neighbor_id"
    )
    return (
        bq.join(bc, ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        # a pair colliding in several tables is one candidate
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def lsh_topk_multi(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    broadcast_queries: bool = False,
) -> DataFrame:
    """OR-amplified multi-table ANN top-k (the recall fix for
    single-table lsh_topk, which is this operator at ``n_tables=1``).

    Single-table LSH top-k holds recall hostage to one partition of
    the space: a true neighbor on the far side of any one hyperplane
    is invisible. Multi-table OR-amplification re-rolls the partition
    ``n_tables`` times -- a neighbor is a candidate if it shares the
    query's bucket in ANY table -- multiplying recall (~1-(1-p)^T for
    per-table collision prob p) for a LINEAR T-times candidate cost,
    the standard LSH recall/cost dial (tune T up for recall, planes up
    for cost).

    Plan shape at 100 TB: banding ships (id, t, bucket) rows only --
    constant width regardless of embedding dim; the band join is an
    equi-join on (t, bucket) (AQE splits hot buckets); only the
    DISTINCT candidate pairs join back to the vectors (persisted,
    scanned by banding + rescore) for the exact cosine; top-k is a
    per-query window. Candidates scale ~ |Q| * T * N/2^planes.
    ``broadcast_queries=True`` is the serving shape (bounded query
    batch vs huge corpus): the banded query side and the query-vector
    rescore side are broadcast, so the corpus never shuffles before
    the candidate cut -- see lsh_multi_candidates.

    Determinism: seeded plane literals shared verbatim with the SQL
    twin; similarities rounded before ranking; ties broken by
    neighbor id.
    """
    from .caching import persisted

    qv = persisted(
        queries.select(
            F.col(query_id).alias("id"), _as_double(vec_col).alias("v")
        ).withColumn("n", norm(F.col("v")))
    )
    cv = persisted(
        corpus.select(
            F.col(corpus_id).alias("id"), _as_double(vec_col).alias("v")
        ).withColumn("n", norm(F.col("v")))
    )
    cand = lsh_multi_candidates(
        qv, cv, "id", "id", "v", n_tables, n_planes, dim, seed,
        broadcast_queries=broadcast_queries,
    )
    q_side = _side(qv, "query")
    if broadcast_queries:
        q_side = F.broadcast(q_side)
    pairs = cand.join(q_side, "query_id").join(
        _side(cv, "neighbor"), "neighbor_id"
    )
    return _rank_topk(_score(pairs), k)


def _banded_cte_sql(
    src: str, planes_per_table: list[list[list[float]]]
) -> str:
    """UNION ALL of per-table bucket assignments over a vecs CTE."""
    def plane_sql(planes: list[list[float]]) -> str:
        return " + ".join(
            f"(CASE WHEN {dot_lit_sql('v', p)} > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    return "\n            UNION ALL\n            ".join(
        f"SELECT id, {t} AS t, ({plane_sql(planes)}) AS bucket "
        f"FROM {src}"
        for t, planes in enumerate(planes_per_table)
    )


def lsh_topk_multi_sql(
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "TRUE",
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """DuckDB twin of lsh_topk_multi: SAME plane literals, SAME
    distinct-candidate generation, SAME exact rescore + tie-break."""
    planes_per_table = _multi_table_planes(dim, n_tables, n_planes, seed)
    return f"""
        WITH vecs AS (
            SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v,
                   sqrt({dot_sql(f"(CAST({vec_col} AS DOUBLE[]))",
                                f"(CAST({vec_col} AS DOUBLE[]))")}) AS n
            FROM {table}
        ), qvecs AS (
            SELECT * FROM vecs WHERE {query_filter}
        ), banded_q AS (
            {_banded_cte_sql('qvecs', planes_per_table)}
        ), banded_c AS (
            {_banded_cte_sql('vecs', planes_per_table)}
        ), cand AS (
            SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
            FROM banded_q q JOIN banded_c c USING (t, bucket)
            WHERE q.id != c.id
        ), scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   ROUND({dot_sql('qv.v', 'cv.v')} / (qv.n * cv.n),
                         {SIM_DECIMALS}) AS sim
            FROM cand
            JOIN vecs qv ON qv.id = cand.query_id
            JOIN vecs cv ON cv.id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, sim, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {k}
    """


def lsh_multi_candidates_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "TRUE",
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """DuckDB twin of lsh_multi_candidates (the recall/cost eval's
    cost axis)."""
    planes_per_table = _multi_table_planes(dim, n_tables, n_planes, seed)
    return f"""
        WITH vecs AS (
            SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
            FROM {table}
        ), qvecs AS (
            SELECT * FROM vecs WHERE {query_filter}
        ), banded_q AS (
            {_banded_cte_sql('qvecs', planes_per_table)}
        ), banded_c AS (
            {_banded_cte_sql('vecs', planes_per_table)}
        )
        SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
        FROM banded_q q JOIN banded_c c USING (t, bucket)
        WHERE q.id != c.id
    """


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine, sub-quadratic.

    Candidate generation is multi-table hyperplane LSH (OR-amplified:
    a pair is a candidate if it shares a bucket in ANY of ``n_tables``
    independent tables of ``n_planes`` planes), then candidates are
    rescored with the EXACT cosine and filtered at ``threshold``.

    Scale: the only join is an equi-join on (table, bucket) --
    ~N*T/2^planes rows per bucket, quadratic blow-up contained per
    bucket, AQE splits hot buckets. Never an all-pairs crossJoin: at
    100 TB the candidate set is what you pay for, and more planes
    shrink it geometrically. Recall is the LSH trade: a pair at cosine
    s collides per table with prob (1 - arccos(s)/pi)^planes; true
    near-dups (s >= 0.9) survive >= 1 of 4 tables w.p. ~0.75, while
    the unrelated-pair mass never enters the join.

    Determinism: seeded plane literals (lsh_hyperplanes) are shared
    verbatim with the SQL twin, so engine and oracle agree on the
    candidate set, not just the rescored survivors.
    """
    planes_per_table = _multi_table_planes(dim, n_tables, n_planes, seed)
    planes_df = local_frame(
        df.sparkSession, [(planes_per_table, 0)],
        "tables array<array<array<double>>>, __k long",
    )
    vecs = df.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    ).withColumn("n", norm(F.col("v")))
    tb = F.transform(
        F.col("tables"),
        lambda tbl, ti: F.struct(
            ti.cast("int").alias("t"),
            _bucket_from_planes(F.col("v"), tbl).alias("bucket"),
        ),
    )
    banded = (
        _with_constant_row(vecs, planes_df, "id")
        .select("id", "v", "n", F.explode(tb).alias("tb"))
        .select("id", "v", "n", "tb.t", "tb.bucket")
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "t", "bucket",
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), "t", "bucket",
    )
    sim = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        SIM_DECIMALS,
    )
    return (
        a.join(b, ["t", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        # a pair sharing buckets in several tables appears once per
        # table with an identical sim -- collapse
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_dup_sql(
    threshold: float,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """DuckDB twin of embedding_near_dup_pairs: SAME plane literals,
    SAME banded candidate generation, SAME exact rescore."""
    def plane_sql(planes: list[list[float]]) -> str:
        return " + ".join(
            f"(CASE WHEN {dot_lit_sql('v', p)} > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    banded = "\n            UNION ALL\n            ".join(
        f"SELECT id, v, n, {t} AS t, "
        f"({plane_sql(lsh_hyperplanes(dim, n_planes, seed + 1000 * t))})"
        f" AS bucket FROM vecs"
        for t in range(n_tables)
    )
    return f"""
        WITH raw AS (
            SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
            FROM {table}
        ), vecs AS (
            SELECT id, v, sqrt({dot_sql('v', 'v')}) AS n FROM raw
        ), banded AS (
            {banded}
        )
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               ROUND({dot_sql('a.v', 'b.v')} / (a.n * b.n),
                     {SIM_DECIMALS}) AS sim
        FROM banded a JOIN banded b USING (t, bucket)
        WHERE a.id < b.id
          AND ROUND({dot_sql('a.v', 'b.v')} / (a.n * b.n),
                    {SIM_DECIMALS}) >= {threshold}
    """


def _argmax_from_dots(dots: Column) -> Column:
    """0-based first-max index over a precomputed dots array."""
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def _best_indices(keys: Column, n: int, largest: bool = False) -> Column:
    """THE probe rule: 0-based indices of the ``n`` best entries of
    ``keys`` -- the smallest (or the ``largest``) first -- ties by the
    smaller index, so element 1 is the first-min (first-max) index
    that argmin/argmax assignment uses. Sorting structs of (key, index)
    (negated key for ``largest``) gives the deterministic total order
    in both engines; the IVF twins sort the same structs."""
    order = F.zip_with(
        keys,
        F.sequence(F.lit(0), F.size(keys) - 1),
        lambda d, i: F.struct((-d if largest else d).alias("nd"),
                              i.alias("i")),
    )
    return F.transform(F.slice(F.array_sort(order), 1, n), lambda s: s["i"])


def _centroid_argmax(vec: Column, centroids: Column) -> Column:
    """0-based index of the centroid with the largest dot product
    against ``vec``. Deterministic (first max wins on exact ties) and
    LINEAR in n_cells: an array of dots + array_position of the max.
    (A when/otherwise running-best fold would reference the running
    expression twice per step -- exponential expression-tree growth.)

    ``centroids`` is a COLUMN (array<array<double>>, one Literal node
    via F.lit of the nested list -- see _bucket_from_planes for why
    per-element literal trees are the wrong place for constant
    matrices).

    Callers that ALSO need probe lists should project the dots array
    once and use _argmax_from_dots/_best_indices on the shared column
    instead of calling this plus _probe_cells -- each call re-folds
    all n_cells dots per row (ivf_topk/ivf_pq_topk do this).
    """
    dots = F.transform(centroids, lambda c: dot(vec, c))
    return _argmax_from_dots(dots)


def _probe_cells(vec: Column, centroids: Column, n_probe: int) -> Column:
    """0-based indices of the ``n_probe`` nearest centroids by dot
    product, nearest first; ties by smaller index (so element 1 always
    equals _centroid_argmax)."""
    dots = F.transform(centroids, lambda c: dot(vec, c))
    return _best_indices(dots, n_probe, largest=True)


def _celled(
    df: DataFrame, const_df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, v, n, *constants, __dots, cell): each vector with its norm,
    its dots against the ``cents`` of the attached one-row constants
    relation, and its argmax cell. ONE dots fold per row, shared by
    the cell and any probe list (Catalyst keeps the non-cheap
    transform in its own Project, so it is evaluated once)."""
    return (
        _with_constant_row(
            df.select(
                F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
            ),
            const_df,
            "id",
        )
        .withColumn("n", norm(F.col("v")))
        .withColumn(
            "__dots",
            F.transform(F.col("cents"), lambda c: dot(F.col("v"), c)),
        )
        .withColumn("cell", _argmax_from_dots(F.col("__dots")))
    )


def ivf_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    dim: int = 64,
    seed: int = 7,
    n_probe: int = 1,
) -> DataFrame:
    """Approximate top-k via IVF-style cell partitioning.

    The corpus is partitioned into ``n_cells`` Voronoi cells around
    fixed unit centroids (seeded pseudo-random -- the no-training
    baseline every IVF index starts from; k-means only rebalances
    cells, it doesn't change the search mechanics). Each query probes
    its ``n_probe`` nearest cells (the standard IVF recall dial --
    recall grows ~linearly in probes for a linear candidate cost,
    see the ivf_recall_probes curve): candidates come from one
    equi-join on cell id, then exact cosine rescoring picks the
    top-k.

    vs LSH (lsh_topk): one argmax assignment instead of a bit
    signature; cells ~N/n_cells rows. At 100 TB: centroids are a
    one-row broadcast relation (constants-as-data, SCALE.md),
    assignment is per-row codegen, the join is the only shuffle, and
    skewed cells split under AQE. A query row explodes into n_probe
    probe rows pre-join -- constant width, linear cost.

    Deterministic: seeded centroid literals shared verbatim with the
    SQL oracle -- cell assignment itself is hash-checked.
    """
    centroids = lsh_hyperplanes(dim, n_cells, seed)
    cent_df = local_frame(
        df.sparkSession, [(centroids, 0)],
        "cents array<array<double>>, __k long",
    )
    vecs = (
        _celled(df, cent_df, id_col, vec_col)
        .withColumn(
            "probes",
            _best_indices(F.col("__dots"), n_probe, largest=True),
        )
        .drop("__dots", "cents")
    )
    a = _side(vecs, "query", F.explode(F.col("probes")).alias("cell"))
    return _rank_topk(
        _score(a.join(_side(vecs, "neighbor", "cell"), "cell")), k
    )


def _ivf_ctes_sql(
    table: str,
    id_col: str,
    vec_col: str,
    n_cells: int,
    dim: int,
    seed: int,
    n_probe: int,
    query_filter: str | None,
) -> str:
    """Shared CTE chain for the IVF twins: vecs -> dotted (per-vector
    dot list) -> celled (argmax cell) [-> probed (n_probe nearest
    cells for the query side) -> cand]. ``cand`` is the distinct
    candidate pair set (probe cells are distinct, so no DISTINCT
    needed -- matching the Spark side)."""
    centroids = lsh_hyperplanes(dim, n_cells, seed)
    dots = ", ".join(
        f"{dot_lit_sql('v', c)}" for c in centroids
    )
    qf = f"WHERE {query_filter}" if query_filter else ""
    probe = f"""
        list_transform(list_slice(list_sort(
            list_transform(range(1, {n_cells} + 1),
                i -> struct_pack(nd := -ds[i], i := i - 1))),
            1, {n_probe}), s -> s.i)
    """
    return f"""vecs AS (
            SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
            FROM {table}
        ), dotted AS (
            SELECT id, v, sqrt({dot_sql('v', 'v')}) AS n,
                   [{dots}] AS ds
            FROM vecs
        ), celled AS (
            SELECT id, v, n,
                   CAST(list_position(ds, list_max(ds)) - 1 AS INTEGER)
                       AS cell
            FROM dotted
        ), probed AS (
            SELECT id, v, n,
                   CAST(unnest({probe}) AS INTEGER) AS cell
            FROM dotted {qf}
        ), cand AS (
            SELECT a.id AS query_id, b.id AS neighbor_id
            FROM probed a JOIN celled b USING (cell)
            WHERE a.id != b.id
        )"""


def ivf_candidates_sql(
    query_filter: str | None = None,
    n_probe: int = 1,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    dim: int = 64,
    seed: int = 7,
) -> str:
    """Candidate pairs an n_probe IVF search scores (the cost side of
    the recall/cost curve)."""
    ctes = _ivf_ctes_sql(table, id_col, vec_col, n_cells, dim, seed,
                         n_probe, query_filter)
    return f"WITH {ctes} SELECT query_id, neighbor_id FROM cand"


def ivf_topk_sql(
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    dim: int = 64,
    seed: int = 7,
    n_probe: int = 1,
    query_filter: str | None = None,
) -> str:
    """DuckDB twin of ivf_topk: same centroid literals, same
    first-max-wins argmax (list_position of list_max; for n_probe > 1
    the same (-dot, index) struct sort), same rescore."""
    if n_probe == 1 and query_filter is None:
        # original single-probe form, kept verbatim for the attested
        # cosine_topk_ivf hash
        centroids = lsh_hyperplanes(dim, n_cells, seed)
        dots = ", ".join(
            f"{dot_lit_sql('v', c)}" for c in centroids
        )
        return f"""
        WITH vecs AS (
            SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
            FROM {table}
        ), celled AS (
            SELECT id, v, sqrt({dot_sql('v', 'v')}) AS n,
                   CAST(list_position([{dots}],
                        list_max([{dots}])) - 1 AS INTEGER) AS cell
            FROM vecs
        ), scored AS (
            SELECT a.id AS query_id, b.id AS neighbor_id,
                   ROUND({dot_sql('a.v', 'b.v')} / (a.n * b.n),
                         {SIM_DECIMALS}) AS sim
            FROM celled a JOIN celled b USING (cell)
            WHERE a.id != b.id
        )
        SELECT query_id, neighbor_id, sim, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {k}
    """
    ctes = _ivf_ctes_sql(table, id_col, vec_col, n_cells, dim, seed,
                         n_probe, query_filter)
    return f"""
        WITH {ctes}, scored AS (
            SELECT c.query_id, c.neighbor_id,
                   ROUND({dot_sql('a.v', 'b.v')} / (a.n * b.n),
                         {SIM_DECIMALS}) AS sim
            FROM cand c
            JOIN dotted a ON a.id = c.query_id
            JOIN dotted b ON b.id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, sim, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {k}
    """


def lsh_topk_sql(
    planes: list[list[float]],
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    plane_sql = " + ".join(
        f"(CASE WHEN {dot_lit_sql('v', p)} > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH vecs AS (
            SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
            FROM {table}
        ), bucketed AS (
            SELECT id, v, sqrt({dot_sql('v', 'v')}) AS n,
                   ({plane_sql}) AS bucket
            FROM vecs
        ), scored AS (
            SELECT a.id AS query_id, b.id AS neighbor_id,
                   ROUND({dot_sql('a.v', 'b.v')} / (a.n * b.n),
                         {SIM_DECIMALS}) AS sim
            FROM bucketed a JOIN bucketed b USING (bucket)
            WHERE a.id != b.id
        )
        SELECT query_id, neighbor_id, sim, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {k}
    """


# --- SemDeDup: semantic dedup inside embedding clusters ----------------------

def semdedup(
    df: DataFrame,
    threshold: float,
    n_cells: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
    target_cell_rows: int = 256,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): drop semantic duplicates
    -- items whose embeddings are near-identical even when their bytes
    are not (re-encodes, templated rewrites, copies with boilerplate
    swapped), which survive every text-level dedup tier.

    Procedure, re-expressed for Spark:
      1. Partition the corpus into ``n_cells`` Voronoi cells around
         fixed seeded unit centroids (the ivf_topk assignment -- the
         paper uses k-means; training only rebalances cells and is
         orthogonal to the dedup mechanics).
      2. WITHIN each cell, pairwise cosine; pairs >= ``threshold``
         are semantic-duplicate edges. Cross-cell pairs are never
         scored -- that is SemDeDup's documented approximation, and
         the reason it scales: the quadratic is contained per cell,
         so n_cells must grow ~N/target_cell_size (the paper runs 50k
         clusters for LAION-scale data).
      3. Edges resolve to duplicate GROUPS via the repo's
         connected-components operator (min-label propagation).
      4. One representative survives per group: the member LEAST like
         its centroid (the paper's keep-low-centroid-similarity rule
         -- keeps the outlier, drops the redundant middle), ties by
         min id.

    Returns one row per input vector:
      (id, cell, cent_sim, component, keep)
    where component is null for vectors with no semantic duplicate
    (always kept), and cent_sim = round(max-centroid-dot / |v|,
    SIM_DECIMALS) -- centroids are unit to 1e-6 by construction and
    the same formula runs in the DuckDB twin, so the value is
    engine-exact.

    Scale: cell assignment is per-row codegen against a one-row
    broadcast centroid relation (constants-as-data rule, SCALE.md);
    the within-cell join is an equi-join on cell id (AQE splits hot
    cells); components is O(diameter) rounds; the keep rule is one
    per-component window over dup-group members only.
    """
    from .caching import persisted

    if n_cells is None:
        # corpus-size-aware default (round-8 verdict item 4): one
        # count job, then cells ~ N/target_cell_rows so the per-cell
        # quadratic stays bounded as the corpus grows
        n_cells = scaled_n_cells(df.count(), target_cell_rows)
    centroids = lsh_hyperplanes(dim, n_cells, seed)
    cent_df = local_frame(
        df.sparkSession, [(centroids, 0)],
        "cents array<array<double>>, __k long",
    )
    dots = F.transform(F.col("cents"), lambda c: dot(F.col("v"), c))
    vecs = persisted(
        _with_constant_row(
            df.select(
                F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
            ),
            cent_df,
            "id",
        )
        .withColumn("n", norm(F.col("v")))
        .withColumn("dots", dots)
        .select(
            "id", "v", "n",
            (F.array_position(F.col("dots"), F.array_max(F.col("dots")))
             - 1).cast("int").alias("cell"),
            F.round(
                F.array_max(F.col("dots")) / F.col("n"), SIM_DECIMALS
            ).alias("cent_sim"),
        )
    )
    a = vecs.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "cell",
    )
    b = vecs.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), "cell",
    )
    sim = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        SIM_DECIMALS,
    )
    edges = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(sim >= threshold)
        .select("id_a", "id_b")
    )
    from .dedup import dedup_components

    comp = dedup_components(edges)
    members = vecs.select("id", "cent_sim").join(comp, "id")
    w = Window.partitionBy("component").orderBy(
        F.col("cent_sim").asc(), F.col("id").asc()
    )
    ranked = members.withColumn(
        "keep", F.row_number().over(w) == 1
    ).select("id", "component", "keep")
    return (
        vecs.select("id", "cell", "cent_sim")
        .join(ranked, "id", "left")
        .select(
            "id", "cell", "cent_sim", "component",
            F.coalesce(F.col("keep"), F.lit(True)).alias("keep"),
        )
    )


def semdedup_sql(
    threshold: float,
    n_cells: int = 16,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> str:
    """DuckDB twin of semdedup: same centroid literals, same argmax,
    same edge set, recursive-CTE components, same keep rule."""
    from .dedup import dedup_components_ctes

    centroids = lsh_hyperplanes(dim, n_cells, seed)
    dots = ", ".join(
        f"{dot_lit_sql('v', c)}" for c in centroids
    )
    edges_sql = f"""
        SELECT a.id AS id_a, b.id AS id_b
        FROM celled a JOIN celled b USING (cell)
        WHERE a.id < b.id
          AND ROUND({dot_sql('a.v', 'b.v')} / (a.n * b.n),
                    {SIM_DECIMALS}) >= {threshold}
    """
    return f"""
        WITH RECURSIVE vecs AS (
            SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
            FROM {table}
        ), celled AS (
            SELECT id, v, sqrt({dot_sql('v', 'v')}) AS n,
                   CAST(list_position([{dots}],
                        list_max([{dots}])) - 1 AS INTEGER) AS cell,
                   ROUND(list_max([{dots}])
                         / sqrt({dot_sql('v', 'v')}),
                         {SIM_DECIMALS}) AS cent_sim
            FROM vecs
        ), {dedup_components_ctes(edges_sql)},
        ranked AS (
            SELECT c.id, c.component,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.component
                       ORDER BY v.cent_sim ASC, c.id ASC
                   ) = 1 AS keep
            FROM components c JOIN celled v USING (id)
        )
        SELECT v.id, v.cell, v.cent_sim, r.component,
               COALESCE(r.keep, TRUE) AS keep
        FROM celled v LEFT JOIN ranked r USING (id)
    """


# --- IVF-PQ: product-quantized ANN with asymmetric distance ------------------

def pq_codebooks(
    dim: int, m_sub: int, k_codes: int, seed: int
) -> list[list[list[float]]]:
    """Seeded per-subspace codebooks (m_sub books of k_codes unit
    vectors in dim/m_sub dims) -- the no-training PQ baseline, same
    stance as the IVF centroids: k-means training rebalances the
    codebook, it does not change the search mechanics. Deterministic
    literals shared verbatim with the SQL twin."""
    if dim % m_sub:
        raise ValueError(
            f"dim={dim} not divisible by m_sub={m_sub}: trailing "
            "dimensions would be silently dropped from every code"
        )
    d_sub = dim // m_sub
    return [
        lsh_hyperplanes(d_sub, k_codes, seed + 101 * (m + 1))
        for m in range(m_sub)
    ]


_MICRO = 1_000_000  # same snap scale as operators/cluster.py


def pq_trained_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    dim: int = 64,
    seed: int = 7,
    m_sub: int = 8,
    k_codes: int = 16,
    train_iters: int = 2,
) -> list[list[list[float]]]:
    """TRAINED per-subspace PQ codebooks: one engine-exact Lloyd run
    (operators/cluster.py) per subspace over the corpus's CELL
    RESIDUALS v - centroid(cell) -- faiss's IVFPQ training step. The
    seeded books are random unit directions; residuals concentrate
    around the origin with corpus-specific structure, so fitting the
    books to them is where PQ's real accuracy comes from
    (ivf_pq_trained_recall pins the measured outcome).

    Coordination cost: train_iters scheduled actions TOTAL -- every
    round fits ALL m_sub subspaces in ONE (m, cluster, pos)-keyed
    partial-sum aggregate + one collect of m_sub x k_codes x d_sub
    micro-long ints, O(1) in corpus size (optimization round 13,
    guide par.5 "the driver should do almost no data work": the
    previous shape scheduled one Lloyd run PER subspace -- m_sub x
    train_iters sequential collects -- and scanned the residual
    relation m_sub times per round). Per-subspace results are
    bit-identical to the sequential _lloyd runs: the snapped argmin
    assignment, the ROUND(val * 1e6) long sums and the
    (CAST(s AS DOUBLE) / n) / 1e6 mean are the same expressions on
    the same slices, and integer partial aggregation is
    order-insensitive. (_lloyd's PER-subspace early stop is subsumed
    by the global all-books fixpoint check: a book at its fixpoint
    reproduces itself bit-for-bit through any further round -- the
    exactness argument in cluster._lloyd -- so riding along is
    value-neutral.) Returned as plain floats, so the serving query
    embeds them as literals exactly like the seeded books; the SQL
    twin re-derives them through the unrolled kmeans CTE chain and
    matches bit-for-bit (the kmeans exactness contract)."""
    from .caching import persisted

    d_sub = dim // m_sub
    centroids = lsh_hyperplanes(dim, n_cells, seed)
    spark = df.sparkSession
    const_df = local_frame(
        spark, [(centroids, 0)], "cents array<array<double>>, __k long"
    )
    vecs = _with_constant_row(
        df.select(
            F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
        ),
        const_df,
        "id",
    ).withColumn("cell", _centroid_argmax(F.col("v"), F.col("cents")))
    rv = persisted(
        vecs.select(
            "id",
            F.zip_with(
                F.col("v"),
                F.element_at(F.col("cents"), F.col("cell") + 1),
                lambda x, y: x - y,
            ).alias("rv"),
        )
    )
    books = [
        lsh_hyperplanes(d_sub, k_codes, seed + 101 * (m + 1))
        for m in range(m_sub)
    ]
    for _ in range(train_iters):
        cb_row = local_frame(
            spark, [(books, 0)], "cbs array<array<array<double>>>, __k long"
        ).select(
            "cbs",
            # constant per-codeword self-dot, evaluated once on the
            # one-row relation with the exact dot fold (the round-12
            # hoist; see _pq_encode_l2)
            F.transform(
                F.col("cbs"),
                lambda book: F.transform(book, lambda c: dot(c, c)),
            ).alias("cbs_cc"),
            "__k",
        )

        def _assigned(m: Column) -> Column:
            # per-subspace micro-snapped argmin-L2 -- the exact
            # expression cluster._assign evaluates on the slice
            sub = F.slice(F.col("rv"), m * d_sub + 1, d_sub)
            dm = F.transform(
                F.element_at(F.col("cbs"), m + 1),
                lambda c, i: F.round(
                    (
                        F.element_at(
                            F.element_at(F.col("cbs_cc"), m + 1), i + 1
                        )
                        - 2 * dot(sub, c)
                    )
                    * _MICRO
                ).cast("long"),
            )
            return F.struct(
                m.cast("int").alias("m"),
                (F.array_position(dm, F.array_min(dm)) - 1)
                .cast("int")
                .alias("cluster"),
                sub.alias("sv"),
            )

        sums = (
            _with_constant_row(rv, cb_row, "id")
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(m_sub - 1)), _assigned
                    )
                ).alias("t")
            )
            .select(
                F.col("t.m").alias("m"),
                F.col("t.cluster").alias("cluster"),
                F.posexplode(F.col("t.sv")).alias("pos", "val"),
            )
            .groupBy("m", "cluster", "pos")
            .agg(
                F.sum(
                    F.round(F.col("val") * _MICRO).cast("long")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_books = [[list(c) for c in b] for b in books]
        for r in sums:
            new_books[r["m"]][r["cluster"]][r["pos"]] = (
                float(r["s"]) / r["n"]
            ) / _MICRO
        if new_books == books:
            break
        books = new_books
    return books


def _pq_encode_l2(
    vec: Column, cbs: Column, m_sub: int, d_sub: int,
    cbs_cc: Column | None = None,
) -> Column:
    """array<int> of per-subspace code ids by MICRO-SNAPPED argmin-L2
    against codebook m -- the assignment rule that matches Lloyd
    training (trained codewords are not unit vectors, so argmax-dot
    and argmin-L2 no longer coincide). Same snap discipline as
    cluster._assign: no raw IEEE double ever decides a code.

    ``cbs_cc[m][k] = dot(cb[m][k], cb[m][k])`` hoists the constant
    per-codeword self-dot out of the per-row fold (optimization round
    12: m_sub x k_codes self-folds per ENCODED row otherwise --
    bit-identical replacement, same fold on the one-row constants
    relation)."""
    def code_for(m: Column) -> Column:
        sub = F.slice(vec, m * d_sub + 1, d_sub)
        if cbs_cc is not None:
            dm = F.transform(
                F.element_at(cbs, m + 1),
                lambda c, i: F.round(
                    (
                        F.element_at(F.element_at(cbs_cc, m + 1), i + 1)
                        - 2 * dot(sub, c)
                    ) * _MICRO
                ).cast("long"),
            )
        else:
            dm = F.transform(
                F.element_at(cbs, m + 1),
                lambda c: F.round(
                    (dot(c, c) - 2 * dot(sub, c)) * _MICRO
                ).cast("long"),
            )
        return (F.array_position(dm, F.array_min(dm)) - 1).cast("int")

    return F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)), code_for
    )


def _pq_encode(vec: Column, cbs: Column, m_sub: int, d_sub: int) -> Column:
    """array<int> of per-subspace code ids: code_m = argmax dot of the
    m-th subvector against codebook m (unit codewords make max-dot =
    min-L2 up to the constant ||c||^2/2 term)."""
    def code_for(m: Column) -> Column:
        sub = F.slice(vec, m * d_sub + 1, d_sub)
        dots = F.transform(
            F.element_at(cbs, m + 1), lambda c: dot(sub, c)
        )
        return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")

    return F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)), code_for
    )


def _pq_adc_table(qv: Column, cbs: Column, m_sub: int,
                  d_sub: int) -> Column:
    """Per-QUERY ADC lookup table: table[m][k] = <q_sub_m, cb[m][k]>.
    Built once per query row (m_sub * k_codes doubles); candidates
    only index into it -- the classic asymmetric-distance table, and
    the reason the candidate join never touches vectors or codebooks."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda m: F.transform(
            F.element_at(cbs, m + 1),
            lambda c: dot(F.slice(qv, m * d_sub + 1, d_sub), c),
        ),
    )


def _pq_approx_dot(adc: Column, codes: Column, m_sub: int) -> Column:
    """ADC score: sum_m table[m][code_m] -- m_sub array lookups per
    candidate, no float math beyond the adds.

    Unrolled + chain over element_at (optimization round 12): the
    candidate join evaluates this once per candidate PAIR, and the
    previous zip_with+aggregate form allocated two intermediate
    arrays per pair inside CodegenFallback lambdas -- measured 25-40%
    slower than this codegen-able chain at 500k rows (m_sub = 8 keeps
    the generated method small; the SAME unroll at dim=64 measured 5x
    SLOWER than the fold -- generated-code size blows the JIT budget
    -- so the 64-dim dot() stays a fold).
    Value-identical: ((0.0 + t0) + t1) + ... is the fold's exact
    order, 0.0 seed included.

    INVARIANT (round-12 advice): the unrolled chain assumes
    ``size(codes) == m_sub``. A shorter codes array would yield NULL
    from the out-of-range element_at (non-ANSI) and a silently-NULL
    score, where the old fold summed the fewer terms; every caller
    encodes with the same m_sub it scores with (_pq_encode/_pq_encode_l2
    emit exactly m_sub codes), so the mismatch is unreachable today --
    keep it that way."""
    acc: Column = F.lit(0.0)
    for m in range(m_sub):
        acc = acc + F.element_at(
            F.element_at(adc, m + 1), F.element_at(codes, m + 1) + 1
        )
    return acc


def ivf_pq_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    dim: int = 64,
    seed: int = 7,
    n_probe: int = 1,
    m_sub: int = 8,
    k_codes: int = 16,
    rerank: int = 32,
    with_shortlist_rank: bool = False,
    residual: bool = False,
    trained: bool = False,
    train_iters: int = 2,
) -> DataFrame:
    """IVF-PQ approximate top-k -- the industry-standard serving index
    (Jegou et al. 2011), re-expressed for Spark:

      1. IVF: corpus vectors live in their argmax centroid cell;
         each query probes its ``n_probe`` nearest cells.
      2. PQ: every corpus vector is encoded once into ``m_sub``
         4-bit-ish codes (argmax against seeded per-subspace
         codebooks). THE CANDIDATE JOIN SHIPS ONLY (id, cell, codes)
         -- m_sub ints instead of ``dim`` doubles, an 8x-64x shuffle
         width cut, which is the entire point of PQ at 100 TB: the
         corpus vectors themselves never move.
      3. ADC: candidates are ranked by the asymmetric approximation
         sum_m <q_sub, codeword_m> (query exact, candidate
         reconstructed); the top ``rerank`` per query then join back
         to the FULL vectors for exact cosine, and top-``k`` of that
         is returned. Approx scores order the shortlist only -- every
         reported ``sim`` is exact.

    Accuracy is the PQ trade (measured honestly by ivf_pq_recall):
    seeded codebooks are the no-training baseline, so recall lags
    trained PQ; rerank absorbs most of the loss -- raising rerank
    converges to plain IVF recall at the same shuffle width.

    Determinism: codebook/centroid literals shared with the SQL twin;
    approx scores rounded before the shortlist cut; ties by id.

    ``residual=True`` is faiss's actual IVFPQ: each vector is encoded
    as codes of its RESIDUAL v - centroid(cell) rather than of v
    itself. Residuals concentrate around the origin, so a shared
    codebook quantizes them with far less error than raw vectors, and
    the ADC score becomes <q, cent(cell)> + sum_m <q_sub, cw_m> --
    one extra per-(query, cell) dot against a literal, still no
    vectors in the candidate join.

    ``trained=True`` additionally fits the codebooks to the corpus
    (pq_trained_codebooks: one engine-exact Lloyd per subspace over
    the cell residuals) and encodes by micro-snapped argmin-L2 --
    Lloyd's own assignment rule, required because trained codewords
    are not unit vectors. residual+trained is faiss's actual IVFPQ;
    ivf_pq_trained_recall hash-pins the trained operating point
    (seeded-raw -> seeded-residual -> trained-residual) at equal
    (n_probe, rerank) cost.
    """
    if rerank < k:
        raise ValueError(
            f"rerank={rerank} < k={k}: the exact pass could never "
            "return k rows per query"
        )
    if trained and not residual:
        raise ValueError(
            "trained codebooks are fit on cell residuals; use "
            "residual=True with trained=True"
        )
    d_sub = dim // m_sub
    centroids = lsh_hyperplanes(dim, n_cells, seed)
    cbs = (
        pq_trained_codebooks(
            df, id_col, vec_col, n_cells, dim, seed, m_sub, k_codes,
            train_iters,
        )
        if trained else pq_codebooks(dim, m_sub, k_codes, seed)
    )
    const_df = local_frame(
        df.sparkSession, [(centroids, cbs, 0)],
        "cents array<array<double>>, "
        "cbs array<array<array<double>>>, __k long",
    )
    if trained:
        # hoist the per-codeword self-dot to the one-row constants
        # relation (same fold -> bit-identical; see _pq_encode_l2)
        const_df = const_df.select(
            "cents", "cbs",
            F.transform(
                F.col("cbs"),
                lambda book: F.transform(book, lambda c: dot(c, c)),
            ).alias("cbs_cc"),
            "__k",
        )
    vecs = _celled(df, const_df, id_col, vec_col)
    enc_vec = (
        F.zip_with(
            F.col("v"),
            F.element_at(F.col("cents"), F.col("cell") + 1),
            lambda x, y: x - y,
        )
        if residual else F.col("v")
    )
    # per-probe (cell, <q, cent(cell)>): __dots already holds
    # dot(v, cents[i]) for every cell, so the residual-mode correction
    # term is an array lookup, not a re-fold
    qcs = F.transform(
        _best_indices(F.col("__dots"), n_probe, largest=True),
        lambda p: F.struct(
            p.alias("cell"),
            F.element_at(F.col("__dots"), p + 1).alias("qc"),
        ),
    )
    from .caching import persisted

    vecs = persisted(
        vecs.withColumn(
            "codes",
            _pq_encode_l2(
                enc_vec, F.col("cbs"), m_sub, d_sub, F.col("cbs_cc")
            )
            if trained
            else _pq_encode(enc_vec, F.col("cbs"), m_sub, d_sub),
        )
        .withColumn("qcs", qcs)
        .withColumn(
            "adc", _pq_adc_table(F.col("v"), F.col("cbs"), m_sub, d_sub)
        )
        .drop("__dots", "cents", "cbs", "cbs_cc")
    )
    # query side ships the small ADC table (m_sub*k_codes doubles),
    # not the vector and not the codebooks
    a = vecs.select(
        F.col("id").alias("query_id"), "adc",
        F.explode(F.col("qcs")).alias("p"),
    ).select("query_id", "adc", "p.cell", "p.qc")
    # candidate side ships codes only -- no vectors
    b = vecs.select(
        F.col("id").alias("neighbor_id"), F.col("cell"), "codes",
    )
    approx = _pq_approx_dot(F.col("adc"), F.col("codes"), m_sub)
    if residual:
        approx = F.col("qc") + approx
    # the ADC shortlist: the same ranking rule over the rounded approx
    # score; its rank is srk
    shortlist = _rank_topk(
        _score(a.join(b, "cell"), sim=F.round(approx, SIM_DECIMALS)),
        rerank,
    ).select("query_id", "neighbor_id", F.col("rk").alias("srk"))
    out_cols = ["query_id", "neighbor_id", "sim", "rk"]
    if with_shortlist_rank:
        # srk (the ADC approx rank) lets evaluation harnesses derive
        # every smaller-rerank result from one build: shortlists are
        # nested, so filter(srk <= r) + re-rank == rerank=r exactly
        out_cols.append("srk")
    pairs = shortlist.join(_side(vecs, "query"), "query_id").join(
        _side(vecs, "neighbor"), "neighbor_id"
    )
    return _rank_topk(_score(pairs, "srk"), k).select(*out_cols)


def ivf_pq_topk_sql(
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    dim: int = 64,
    seed: int = 7,
    n_probe: int = 1,
    m_sub: int = 8,
    k_codes: int = 16,
    rerank: int = 32,
    query_filter: str | None = None,
    residual: bool = False,
    trained: bool = False,
    train_iters: int = 2,
) -> str:
    """DuckDB twin of ivf_pq_topk: same centroid + codebook literals,
    same per-subspace argmax encoding (of the raw vector, or of the
    cell residual when ``residual``), same ADC shortlist + exact
    rerank. ``trained`` re-derives the codebooks STATELESSLY through
    one prefixed kmeans CTE chain per subspace over the residual
    slices (the full training loop is inside the oracle -- nothing is
    smuggled from the Spark side) and encodes by the same
    micro-snapped argmin-L2."""
    if trained and not residual:
        raise ValueError("trained requires residual=True")
    d_sub = dim // m_sub
    centroids = lsh_hyperplanes(dim, n_cells, seed)
    cbs = pq_codebooks(dim, m_sub, k_codes, seed)
    cdots = ", ".join(
        f"{dot_lit_sql('v', c)}" for c in centroids
    )
    # centroid relation as VALUES rows (kmeans_ctes pattern): joining
    # on cell makes the per-row centroid a COLUMN, computed once --
    # indexing a 16x64-double nested literal inside per-element
    # lambdas re-parses it per evaluation (~100x slowdown, measured)
    cents_rows = ", ".join(
        f"({j}, {c!r}::DOUBLE[])" for j, c in enumerate(centroids)
    )
    qf = f"WHERE {query_filter}" if query_filter else ""

    def sub(vexpr: str, m: int) -> str:
        return f"{vexpr}[{m * d_sub + 1}:{m * d_sub + d_sub}]"

    code_exprs = []
    for m in range(m_sub):
        # residual mode encodes sub-slices of the per-row `rv`
        # column (v - cent(cell), materialized ONCE in the celled
        # CTE via a lateral alias -- inlining the literal-indexed
        # subtraction into every codeword dot re-evaluates the
        # centroid lookup m_sub*k_codes*d_sub times per row and is
        # catastrophically slow in DuckDB)
        sub_v = (
            "(" + sub("rv" if residual else "v", m) + ")"
        )
        if trained:
            # trained codewords come from the cb{m}_ kmeans chain's
            # final centroid relation; encode by the same
            # micro-snapped argmin-L2 as _pq_encode_l2
            snap = (
                f"CAST(ROUND(({dot_sql('c.cent', 'c.cent', d_sub)}"
                f" - 2 * {dot_sql(sub_v, 'c.cent', d_sub)})"
                f" * {_MICRO}) AS BIGINT)"
            )
            code_exprs.append(
                f"(SELECT CAST(c.cluster AS INTEGER) "
                f"FROM cb{m}_cents{train_iters} c "
                f"ORDER BY {snap} ASC, c.cluster ASC LIMIT 1)"
            )
        else:
            dots_m = ", ".join(dot_lit_sql(sub_v, c) for c in cbs[m])
            code_exprs.append(
                f"CAST(list_position([{dots_m}], list_max([{dots_m}]))"
                f" - 1 AS INTEGER)"
            )
    codes_sql = "[" + ", ".join(code_exprs) + "]"
    # Residual mode: `rv` = v - cent(cell) is materialized in its OWN
    # projection level (cellonly -> resid -> celled). DuckDB expands
    # same-SELECT lateral aliases textually, so computing rv next to
    # the 128 codeword dots that reference it would re-evaluate the
    # centroid-indexed subtraction per dot -- a ~100x blowup. Element
    # order matches Spark's zip_with(v, cent, x - y).
    if residual:
        # trained mode splices one prefixed kmeans chain per subspace
        # BETWEEN resid and celled: the chains read the residual
        # slices and end in cb{m}_cents{train_iters}(cluster, cent),
        # which the encode subqueries and ADC terms consult
        cb_chains = ""
        if trained:
            from .cluster import kmeans_ctes

            chains = [
                kmeans_ctes(
                    k=k_codes, iters=train_iters,
                    table=(
                        f"(SELECT id, {sub('rv', m)} AS embedding"
                        f" FROM resid)"
                    ),
                    id_col="id", vec_col="embedding", dim=d_sub,
                    seed=seed + 101 * (m + 1), prefix=f"cb{m}_",
                )
                for m in range(m_sub)
            ]
            cb_chains = ", " + ",\n".join(chains)
        celled_chain = f"""cellonly AS (
            SELECT id, v, n,
                   CAST(list_position(ds, list_max(ds)) - 1 AS INTEGER)
                       AS cell
            FROM dotted
        ), resid AS (
            SELECT id, v, n, cell,
                   list_transform(range(1, {dim} + 1),
                       j -> v[j] - ct.cent[j]) AS rv
            FROM cellonly JOIN cents_rel ct ON ct.cluster = cell
        ){cb_chains}, celled AS (
            SELECT id, v, n, cell, {codes_sql} AS codes
            FROM resid
        )"""
    else:
        celled_chain = f"""celled AS (
            SELECT id, v, n,
                   CAST(list_position(ds, list_max(ds)) - 1 AS INTEGER)
                       AS cell,
                   {codes_sql} AS codes
            FROM dotted
        )"""

    if trained:
        # per-subspace <q_sub, codeword(code_m)> via correlated
        # lookups in the trained relations -- same value as Spark's
        # ADC table entry for that code
        t_terms = []
        for m in range(m_sub):
            qsub = "(" + sub("q.v", m) + ")"
            t_terms.append(
                f"(SELECT {dot_sql(qsub, 'c2.cent', d_sub)} "
                f"FROM cb{m}_cents{train_iters} c2 "
                f"WHERE c2.cluster = c.codes[{m + 1}])"
            )
        approx_terms = " + ".join(t_terms)
    else:
        approx_terms = " + ".join(
            dot_sql(
                f"({sub('q.v', m)})",
                f"(([{', '.join(f'{c!r}::DOUBLE[]' for c in cbs[m])}])"
                f"[c.codes[{m + 1}] + 1])",
                dim=d_sub,
            )
            for m in range(m_sub)
        )
    if residual:
        # <q, cent(candidate cell)> + (sum of per-subspace terms) --
        # same grouping as Spark's qc + _pq_approx_dot fold; the
        # centroid comes from the cents_rel join (ct.cent column)
        approx_terms = (
            dot_sql("q.v", "ct.cent") + f" + ({approx_terms})"
        )
    if n_probe == 1:
        probed = f"""probed AS (
            SELECT id, cell FROM celled {qf}
        )"""
    else:
        probe = f"""
            list_transform(list_slice(list_sort(
                list_transform(range(1, {n_cells} + 1),
                    i -> struct_pack(nd := -ds[i], i := i - 1))),
                1, {n_probe}), s -> s.i)
        """
        probed = f"""probed AS (
            SELECT id, CAST(unnest({probe}) AS INTEGER) AS cell
            FROM dotted {qf}
        )"""
    cent_join = (
        "JOIN cents_rel ct ON ct.cluster = c.cell" if residual else ""
    )
    return f"""
        WITH cents_rel(cluster, cent) AS (VALUES {cents_rows}),
        vecs AS (
            SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
            FROM {table}
        ), dotted AS (
            SELECT id, v, sqrt({dot_sql('v', 'v')}) AS n,
                   [{cdots}] AS ds
            FROM vecs
        ), {celled_chain}, {probed}, cand AS (
            SELECT a.id AS query_id, b.id AS neighbor_id, b.codes,
                   b.cell
            FROM probed a JOIN celled b USING (cell)
            WHERE a.id != b.id
        ), shortlist AS (
            SELECT query_id, neighbor_id
            FROM (
                SELECT c.query_id, c.neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.query_id
                           ORDER BY ROUND({approx_terms},
                                          {SIM_DECIMALS}) DESC,
                                    c.neighbor_id ASC
                       ) AS srk
                FROM cand c JOIN dotted q ON q.id = c.query_id
                {cent_join}
            ) WHERE srk <= {rerank}
        ), scored AS (
            SELECT s.query_id, s.neighbor_id,
                   ROUND({dot_sql('q.v', 'b.v')} / (q.n * b.n),
                         {SIM_DECIMALS}) AS sim
            FROM shortlist s
            JOIN dotted q ON q.id = s.query_id
            JOIN dotted b ON b.id = s.neighbor_id
        )
        SELECT query_id, neighbor_id, sim, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id ASC) AS rk
            FROM scored
        ) WHERE rk <= {k}
    """


# --- MMR: diversity-aware top-k (maximal marginal relevance) --------------------


def _mmr_fold_expr(k: int, lam_ppm: int) -> str:
    """The greedy MMR selection as ONE Spark SQL expression over the
    in-row candidate array ``cands`` (structs ``pos:int, id:bigint,
    rel:bigint, sims:array<bigint>`` with ``sims`` indexed by
    candidate pos). All-integer scoring:

        score(c) = lam_ppm*rel(c) - (1e6-lam_ppm)*max_{p in sel} sims_c[p]

    (max over the empty selection is 0, so the first pick is the
    max-relevance candidate -- the standard MMR base case). Ties break
    to the smaller id. The chosen candidate is evaluated once via the
    transform-over-singleton-array trick."""
    comp = 1_000_000 - lam_ppm
    score = (
        f"({lam_ppm} * c.rel - {comp} * "
        "(case when size(acc.sel) = 0 then cast(0 as bigint) "
        "else array_max(transform(acc.sel, "
        "p -> element_at(c.sims, p))) end))"
    )
    best = f"""
        aggregate(
            filter(cands, c -> NOT array_contains(acc.sel, c.pos)),
            named_struct(
                'pos', -1, 'id', cast(-1 as bigint),
                'score', cast(-9223372036854775808 as bigint)),
            (b, c) -> case
                when {score} > b.score
                  or ({score} = b.score and (b.pos = -1 or c.id < b.id))
                then named_struct(
                    'pos', c.pos, 'id', c.id, 'score', {score})
                else b end)
    """
    return f"""
        aggregate(
            sequence(1, {k}),
            named_struct(
                'sel', cast(array() as array<int>),
                'out', cast(array() as
                    array<struct<id:bigint,score:bigint>>)),
            (acc, step) -> case
                when size(acc.sel) >= size(cands) then acc
                else element_at(transform(array({best}), b ->
                    named_struct(
                        'sel', array_append(acc.sel, b.pos),
                        'out', array_append(acc.out, named_struct(
                            'id', b.id, 'score', b.score)))), 1)
                end
        ).out
    """


def mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 4,
    shortlist: int = 8,
    lam_ppm: int = 700_000,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-aware top-k (Carbonell & Goldstein 1998, maximal
    marginal relevance): greedily pick ``k`` of the ``shortlist``
    nearest candidates, each step maximizing relevance minus the
    worst redundancy against what is already picked -- the standard
    answer to "my nearest neighbors are near-duplicates of each
    other" in retrieval, few-shot example selection and eval-set
    construction.

    Exactness: candidate relevances and candidate-candidate
    similarities are the tier's snapped cosines scaled to micro
    integers, so the greedy recursion (argmax + tie-break) is pure
    BIGINT arithmetic -- engines cannot disagree on a pick.

    Output: ``(query_id, rank, neighbor_id, mmr_score)`` with rank
    1..k in selection order and ``mmr_score`` the integer objective
    at pick time (monotone non-increasing down the ranks only for
    the relevance term; the redundancy term can re-order).

    Scale shape: stage 1 is the existing shortlist operator (swap in
    the IVF/LSH arm at scale -- this is a rescoring layer, not a
    search strategy: scale_path = cosine_topk_ivf); stage 2 is the
    C^2-per-query candidate-pair self-join (C = ``shortlist``,
    compile-time bounded); stage 3 folds the greedy selection
    IN-ROW over a C-element array -- no iteration ever leaves the
    row, no driver loop, no UDF.
    """
    if k > shortlist:
        raise ValueError("mmr_topk needs k <= shortlist")
    short = cosine_topk(
        queries, corpus, k=shortlist,
        query_id=query_id, corpus_id=corpus_id, vec_col=vec_col,
    )
    cvec = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        _as_double(vec_col).alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    cand = short.join(cvec, "neighbor_id").select(
        "query_id",
        F.col("rk").alias("pos"),
        F.col("neighbor_id").alias("id"),
        F.round(F.col("sim") * 1_000_000).cast("long").alias("rel"),
        "cv", "cn",
    )
    a, b = cand.alias("a"), cand.alias("b")
    pair_sim = F.round(
        F.round(
            dot(F.col("a.cv"), F.col("b.cv"))
            / (F.col("a.cn") * F.col("b.cn")),
            SIM_DECIMALS,
        ) * 1_000_000
    ).cast("long")
    pairs = (
        a.join(b, F.col("a.query_id") == F.col("b.query_id"))
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.pos").alias("pos"),
            F.col("b.pos").alias("pj"),
            pair_sim.alias("s"),
        )
    )
    with_sims = (
        pairs.groupBy("query_id", "pos")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pj", "s"))),
                lambda e: e.s,
            ).alias("sims")
        )
        .join(
            cand.select("query_id", "pos", "id", "rel"),
            ["query_id", "pos"],
        )
    )
    per_query = with_sims.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "id", "rel", "sims"))
        ).alias("cands")
    )
    out = per_query.select(
        "query_id",
        F.posexplode(
            F.expr(_mmr_fold_expr(k, lam_ppm))
        ).alias("rank0", "pick"),
    )
    return out.select(
        "query_id",
        (F.col("rank0") + 1).cast("int").alias("rank"),
        F.col("pick.id").alias("neighbor_id"),
        F.col("pick.score").alias("mmr_score"),
    )


def mmr_topk_sql(
    k: int = 4,
    shortlist: int = 8,
    lam_ppm: int = 700_000,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "TRUE",
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`mmr_topk`: same snapped-cosine micro
    integers, same greedy fold (list_reduce over k identical init
    structs -- DuckDB's list_reduce takes no initial value, so the
    init is prepended as the first element and each of the k lambda
    applications ignores its element, mirroring the Spark fold that
    ignores ``step``)."""
    comp = 1_000_000 - lam_ppm
    short = cosine_topk_sql(
        k=shortlist, table=table, id_col=id_col, vec_col=vec_col,
        query_filter=query_filter, dim=dim,
    )
    score = (
        f"{lam_ppm} * c.rel - {comp} * "
        "(CASE WHEN len(acc.sel) = 0 THEN CAST(0 AS BIGINT) "
        "ELSE list_max(list_transform(acc.sel, p -> c.sims[p])) END)"
    )
    init_best = (
        "{'pos': -1, 'id': CAST(-1 AS BIGINT), "
        "'score': CAST(-9223372036854775808 AS BIGINT)}"
    )
    best = f"""
        list_reduce(
            list_prepend({init_best},
                list_transform(
                    list_filter(cands,
                        c -> NOT list_contains(acc.sel, c.pos)),
                    c -> {{'pos': c.pos, 'id': c.id,
                          'score': {score}}})),
            (b, x) -> CASE WHEN x.score > b.score
                        OR (x.score = b.score
                            AND (b.pos = -1 OR x.id < b.id))
                      THEN x ELSE b END)
    """
    init_acc = (
        "{'sel': []::INTEGER[], "
        "'out': []::STRUCT(id BIGINT, score BIGINT)[]}"
    )
    fold = f"""
        list_reduce(
            list_prepend({init_acc},
                list_transform(range(1, {k} + 1), i -> {init_acc})),
            (acc, stepv) -> CASE
                WHEN len(acc.sel) >= len(cands) THEN acc
                ELSE list_transform([{best}], b ->
                    {{'sel': list_append(acc.sel, b.pos),
                      'out': list_append(acc.out,
                          {{'id': b.id, 'score': b.score}})}})[1]
                END
        ).out
    """
    return f"""
        WITH short AS ({short}),
        vecs AS (
            SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v
            FROM {table}
        ), cand AS (
            SELECT s.query_id, s.rk AS pos, s.neighbor_id AS id,
                   CAST(ROUND(s.sim * 1000000) AS BIGINT) AS rel,
                   e.v AS cv,
                   sqrt({dot_sql('e.v', 'e.v', dim)}) AS cn
            FROM short s JOIN vecs e ON e.id = s.neighbor_id
        ), pairs AS (
            SELECT a.query_id, a.pos AS pos, b.pos AS pj,
                   CAST(ROUND(ROUND(
                       {dot_sql('a.cv', 'b.cv', dim)} / (a.cn * b.cn),
                       {SIM_DECIMALS}) * 1000000) AS BIGINT) AS s
            FROM cand a JOIN cand b USING (query_id)
        ), with_sims AS (
            SELECT query_id, pos,
                   list_transform(
                       list_sort(list({{'pj': pj, 's': s}})),
                       e -> e.s) AS sims
            FROM pairs GROUP BY 1, 2
        ), per_query AS (
            SELECT w.query_id,
                   list_sort(list({{'pos': c.pos, 'id': c.id,
                                   'rel': c.rel,
                                   'sims': w.sims}})) AS cands
            FROM with_sims w
            JOIN cand c USING (query_id, pos)
            GROUP BY 1
        ), picked AS (
            SELECT query_id, {fold} AS picks FROM per_query
        )
        SELECT query_id, CAST(r AS INTEGER) AS rank,
               picks[r].id AS neighbor_id,
               picks[r].score AS mmr_score
        FROM picked, UNNEST(range(1, len(picks) + 1)) u(r)
    """


# --- per-dimension embedding drift (round-12) -----------------------------------

_Q_SCALE = 1 << 20  # quantization scale: exact in double for |x| < 2^32


def embedding_dim_drift(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-DIMENSION drift audit between two deterministic cohorts --
    the encoder-regression tripwire: when a re-embedding run or a new
    corpus slice shifts individual dimensions (a normalization bug, a
    truncated projection, a drifted feature), the per-dim mean deltas
    light up long before recall@k degrades. Cohorts split on
    ``id % 2`` (deterministic, roughly halves); production swaps in
    yesterday-vs-today or modelA-vs-modelB.

    Exactness: components quantize to BIGINT via
    ``floor(CAST(x AS DOUBLE) * 2^20 + 0.5)`` -- float->double is
    exact, multiplying by a power of two is exact, and +0.5/floor is
    the portable round-half-up (Spark round() is HALF_UP, DuckDB's
    differs on exact halves; floor(+0.5) is the same double op in
    both). Sums and sum-of-squares are exact BIGINTs behind a
    fail-loud guard from always-safe aggregates (n, max|q|): sumsq <=
    n * max^2 stays in BIGINT iff n <= (2^62 div max) div max -- the
    guard divides twice so it cannot itself wrap (ar1_by_key
    discipline; Spark wraps silently, DuckDB errors). Mean ppms use
    sign-split truncating division (both engines truncate toward
    zero, so positive-operand division is the only portable form).

    Scale shape: one posexplode to (cohort, dim, q) -- row grain x
    dim, embarrassingly parallel, no shuffle -- then ONE
    map-combinable aggregate to the |dims| relation. At 100 TB the
    explode never materializes: it fuses into the partial aggregate
    inside whole-stage codegen.
    """
    base = df.filter(F.col(vec_col).isNotNull()).select(
        (F.col(id_col) % 2 == 0).alias("is_a"),
        F.posexplode(vec_col).alias("dim0", "x"),
    )
    q = F.floor(
        F.col("x").cast("double") * F.lit(float(_Q_SCALE)) + F.lit(0.5)
    ).cast("long")
    per = base.select(
        "is_a", (F.col("dim0") + 1).cast("int").alias("dim"),
        q.alias("q"),
    )
    a = F.col("is_a")
    agg = per.groupBy("dim").agg(
        F.sum(a.cast("long")).cast("long").alias("n_a"),
        F.sum((~a).cast("long")).cast("long").alias("n_b"),
        F.sum(F.when(a, F.col("q")).otherwise(F.lit(0)))
        .cast("long").alias("sum_q_a"),
        F.sum(F.when(~a, F.col("q")).otherwise(F.lit(0)))
        .cast("long").alias("sum_q_b"),
        F.sum(F.when(a, F.col("q") * F.col("q")).otherwise(F.lit(0)))
        .cast("long").alias("ssq_q_a"),
        F.sum(F.when(~a, F.col("q") * F.col("q")).otherwise(F.lit(0)))
        .cast("long").alias("ssq_q_b"),
        F.max(F.abs(F.col("q"))).cast("long").alias("max_abs"),
    )
    guard = (
        "CASE WHEN max_abs > 0 AND n_a + n_b >"
        " (4611686018427387904 DIV max_abs) DIV max_abs"
        " THEN CAST(raise_error('embedding_dim_drift: sum of squares"
        " may exceed BIGINT -- shard the corpus or lower the"
        " quantization scale') AS BIGINT) ELSE 1 END"
    )
    mean_ppm = (
        "CAST(CASE WHEN {n} = 0 THEN NULL"
        " WHEN {s} < 0 THEN -((-({s})) * 1000000"
        f" DIV ({{n}} * {_Q_SCALE}))"
        f" ELSE ({{s}}) * 1000000 DIV ({{n}} * {_Q_SCALE})"
        " END AS BIGINT)"
    )
    m_a = mean_ppm.format(n="n_a", s="sum_q_a")
    m_b = mean_ppm.format(n="n_b", s="sum_q_b")
    return agg.select(
        "dim", "n_a", "n_b",
        (F.expr(guard) * F.col("sum_q_a")).cast("long").alias("sum_q_a"),
        "sum_q_b", "ssq_q_a", "ssq_q_b",
        F.expr(m_a).alias("mean_a_ppm"),
        F.expr(m_b).alias("mean_b_ppm"),
        F.expr(f"CAST(abs(({m_a}) - ({m_b})) AS BIGINT)")
        .alias("drift_abs_ppm"),
    )


def embedding_dim_drift_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`embedding_dim_drift` (generate_subscripts
    for posexplode parity, same quantization and guards)."""
    mean_ppm = (
        "CAST(CASE WHEN {n} = 0 THEN NULL"
        " WHEN {s} < 0 THEN -((-({s})) * 1000000"
        f" // ({{n}} * {_Q_SCALE}))"
        f" ELSE ({{s}}) * 1000000 // ({{n}} * {_Q_SCALE})"
        " END AS BIGINT)"
    )
    m_a = mean_ppm.format(n="n_a", s="sum_q_a")
    m_b = mean_ppm.format(n="n_b", s="sum_q_b")
    return f"""
        WITH per AS (
            SELECT ({id_col} % 2 = 0) AS is_a,
                   CAST(generate_subscripts({vec_col}, 1) AS INTEGER)
                       AS dim,
                   CAST(floor(CAST(unnest({vec_col}) AS DOUBLE)
                              * {_Q_SCALE} + 0.5) AS BIGINT) AS q
            FROM {table}
            WHERE {vec_col} IS NOT NULL
        ), agg AS (
            SELECT dim,
                   CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN is_a THEN q ELSE 0 END)
                        AS BIGINT) AS sum_q_a,
                   CAST(SUM(CASE WHEN is_a THEN 0 ELSE q END)
                        AS BIGINT) AS sum_q_b,
                   CAST(SUM(CASE WHEN is_a THEN q * q ELSE 0 END)
                        AS BIGINT) AS ssq_q_a,
                   CAST(SUM(CASE WHEN is_a THEN 0 ELSE q * q END)
                        AS BIGINT) AS ssq_q_b,
                   CAST(MAX(abs(q)) AS BIGINT) AS max_abs
            FROM per GROUP BY dim
        )
        SELECT dim, n_a, n_b,
               CAST(CASE WHEN max_abs > 0 AND n_a + n_b >
                        (4611686018427387904 // max_abs) // max_abs
                    THEN CAST(error('embedding_dim_drift: sum of'
                         || ' squares may exceed BIGINT -- shard the'
                         || ' corpus or lower the quantization scale')
                         AS BIGINT)
                    ELSE 1 END * sum_q_a AS BIGINT) AS sum_q_a,
               sum_q_b, ssq_q_a, ssq_q_b,
               {m_a} AS mean_a_ppm,
               {m_b} AS mean_b_ppm,
               CAST(abs(({m_a}) - ({m_b})) AS BIGINT)
                   AS drift_abs_ppm
        FROM agg
    """
