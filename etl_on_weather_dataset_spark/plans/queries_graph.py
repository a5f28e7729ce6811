"""Graph-analytics queries over the supplier co-supply graph.

The graph is derived deterministically from the fact table: suppliers
are connected iff they co-supplied at least one order. This gives the
engine a real entity graph (|V| = suppliers, |E| bounded by
orders x k^2 with k = lines/order <= 7) without inventing data.

All three queries are engine-exact: counts are integers, transitivity
and PageRank divide exact integers with the same expression shape on
both engines, and PageRank itself runs the fixed-point INTEGER
recurrence (operators/graph.py) so parallel aggregation can't drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import (
    PR_SCALE,
    cooccurrence_edges,
    degrees,
    pagerank_fixed_point,
    pagerank_oracle_sql,
    triangle_count,
)
from ..schemas import load_table
from .registry import QuerySpec, register

_MAX_GROUP = 64

# DuckDB twin of cooccurrence_edges(lineitem, l_orderkey, l_suppkey):
# distinct members, whale-group cap, then a<b pair expansion.
_EDGES_SQL = f"""
    SELECT DISTINCT a.m AS src, b.m AS dst
    FROM (SELECT DISTINCT l_orderkey AS g, l_suppkey AS m FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey AS g, l_suppkey AS m FROM lineitem) b
      ON a.g = b.g AND a.m < b.m
    WHERE a.g IN (
        SELECT l_orderkey FROM (
            SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS k
            FROM lineitem GROUP BY l_orderkey
        ) s WHERE k <= {_MAX_GROUP}
    )
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return cooccurrence_edges(
        li, "l_orderkey", "l_suppkey", max_group_size=_MAX_GROUP
    )


# --- degree histogram --------------------------------------------------------

def _degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = degrees(_edges(spark, sf_dir))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


register(QuerySpec(
    name="graph_degree_stats",
    spark_fn=_degree_stats,
    oracle=f"""
        WITH edges AS ({_EDGES_SQL}),
        deg AS (
            SELECT node, COUNT(*) AS degree FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges
            ) b GROUP BY node
        )
        SELECT degree, COUNT(*) AS n_nodes FROM deg
        GROUP BY degree ORDER BY degree
    """,
    covers=("graph-edges", "graph-degrees"),
    extended=True,
))


# --- triangle count + transitivity -------------------------------------------

def _graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: |V|, |E|, wedge count, triangle count, transitivity.

    Wedges come from the closed form sum(d*(d-1)/2) over exact integer
    degrees; transitivity = 3T/W divides the exact integers in double
    space with the same expression on both engines.
    """
    edges = _edges(spark, sf_dir)
    deg = degrees(edges)
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(
            F.col("degree") * (F.col("degree") - 1) / 2
        ).cast("long").alias("n_wedges"),
    )
    edge_stats = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    tri = triangle_count(edges)
    return (
        node_stats.crossJoin(edge_stats).crossJoin(tri).select(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            (
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("transitivity"),
        )
    )


register(QuerySpec(
    name="graph_triangle_summary",
    spark_fn=_graph_summary,
    oracle=f"""
        WITH edges AS ({_EDGES_SQL}),
        deg AS (
            SELECT node, COUNT(*) AS degree FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges
            ) b GROUP BY node
        ),
        oriented AS (
            SELECT CASE WHEN (ds.degree, e.src) < (dd.degree, e.dst)
                        THEN e.src ELSE e.dst END AS u,
                   CASE WHEN (ds.degree, e.src) < (dd.degree, e.dst)
                        THEN e.dst ELSE e.src END AS v
            FROM edges e
            JOIN deg ds ON e.src = ds.node
            JOIN deg dd ON e.dst = dd.node
        ),
        tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM oriented e1
            JOIN oriented e2 ON e1.u = e2.u AND e1.v < e2.v
            WHERE EXISTS (
                SELECT 1 FROM oriented c
                WHERE (c.u = e1.v AND c.v = e2.v)
                   OR (c.u = e2.v AND c.v = e1.v)
            )
        )
        SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
               (SELECT COUNT(*) FROM edges) AS n_edges,
               (SELECT CAST(SUM(degree * (degree - 1) / 2) AS BIGINT)
                FROM deg) AS n_wedges,
               n_triangles,
               CAST(3 * n_triangles AS DOUBLE)
                 / CAST((SELECT CAST(SUM(degree * (degree - 1) / 2)
                                     AS BIGINT) FROM deg) AS DOUBLE)
                 AS transitivity
        FROM tri
    """,
    covers=("graph-triangles", "graph-transitivity"),
    extended=True,
))


# --- PageRank top-20 ---------------------------------------------------------

_PR_ITERS = 3
_PR_DAMPING = 85


def _pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = pagerank_fixed_point(
        _edges(spark, sf_dir), iters=_PR_ITERS, damping_pct=_PR_DAMPING
    )
    return ranks.orderBy(F.col("rank_q").desc(), F.col("node")).limit(20)


def _pagerank_oracle() -> str:
    pre, last = pagerank_oracle_sql(
        _EDGES_SQL, iters=_PR_ITERS, damping_pct=_PR_DAMPING
    )
    return f"""
        {pre}
        SELECT src AS node, rank_q,
               CAST(rank_q AS DOUBLE) / {float(PR_SCALE)} AS rank
        FROM {last}
        ORDER BY rank_q DESC, node
        LIMIT 20
    """


register(QuerySpec(
    name="graph_pagerank_top",
    spark_fn=_pagerank_top,
    oracle=_pagerank_oracle,
    covers=("graph-pagerank", "iterative-fixed-point"),
    audit=True,
    extended=True,
))
