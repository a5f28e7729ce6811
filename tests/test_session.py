"""``session.local_frame``: driver rows enter Spark as a JVM
``LocalRelation``, exactly, and nothing in the package goes round it.

``createDataFrame`` on a Python list is ``parallelize`` plus a
pickled-row map, so every action on such a frame runs a Python-worker
stage (one task per core, even for one row). The guards below keep
that stage from coming back through a new call site.
"""

from __future__ import annotations

import ast
import math
import struct
from pathlib import Path

import pytest
from pyspark.sql.types import StructType

from etl_on_weather_dataset_spark.session import local_frame

PKG = Path(__file__).resolve().parent.parent / "etl_on_weather_dataset_spark"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestLocalFrame:
    def test_plan_is_local_relation(self, spark):
        df = local_frame(spark, [(1, "a"), (2, "b")], "k int, s string")
        assert _optimized(df).startswith("LocalRelation")
        assert "LocalTableScan" in _physical(df)
        assert "ExistingRDD" not in _physical(df)

    def test_doubles_round_trip_bit_exact(self, spark):
        vals = [-0.0, 5e-324, math.inf, -math.inf, math.nan, 1 / 3]
        got = local_frame(
            spark, [(i, v, [v, v]) for i, v in enumerate(vals)],
            "i int, x double, xs array<double>",
        ).orderBy("i").collect()

        def bits(x):
            return struct.pack("<d", x)

        assert [bits(r.x) for r in got] == [bits(v) for v in vals]
        assert [[bits(x) for x in r.xs] for r in got] == [
            [bits(v), bits(v)] for v in vals
        ]

    def test_nulls_inside_nested_arrays_survive(self, spark):
        value = [[1.0, None], None, [], [None]]
        (row,) = local_frame(
            spark, [(value, None)],
            "m array<array<double>>, n array<double>",
        ).collect()
        assert row.m == value
        assert row.n is None

    def test_empty_rows_keep_schema(self, spark):
        ddl = "batch_id string, n long, cents array<array<double>>"
        df = local_frame(spark, [], ddl)
        assert df.schema == StructType.fromDDL(ddl)
        assert df.count() == 0
        assert _optimized(df).startswith("LocalRelation")

    def test_declared_types_kept(self, spark):
        ddl = ("a int, b long, s string, "
               "t array<array<array<double>>>")
        cube = [[[1.5, -2.0], [3.25]], [[0.0]]]
        df = local_frame(spark, [(7, 2**40 + 1, "x", cube)], ddl)
        assert df.schema == StructType.fromDDL(ddl)
        assert dict(df.dtypes) == {
            "a": "int", "b": "bigint", "s": "string",
            "t": "array<array<array<double>>>",
        }
        assert df.collect()[0] == (7, 2**40 + 1, "x", cube)

    def test_row_width_must_match_schema(self, spark):
        with pytest.raises(ValueError):
            local_frame(spark, [(1,)], "a int, b int")


def test_no_create_dataframe_outside_local_frame():
    """AST scan: the package calls ``createDataFrame`` only inside
    ``session.local_frame`` (a list-backed frame would bring the
    Python-worker stage back)."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed: set[int] = set()
        if path.name == "session.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and \
                        fn.name == "local_frame":
                    allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in allowed):
                offenders.append(
                    f"{path.relative_to(PKG.parent)}:{node.lineno}"
                )
    assert offenders == []


def test_ann_plans_scan_no_python_rdd(spark, tmp_path):
    """The unexecuted physical plans of the IVF query and the trained
    k-means assignment hold no ``ExistingRDD`` scan: their centroid
    rows are LocalRelations, not parallelized Python lists."""
    from etl_on_weather_dataset_spark.operators.ann_store import (
        ivf_index_build,
        ivf_index_query,
    )
    from etl_on_weather_dataset_spark.operators.caching import release_all
    from etl_on_weather_dataset_spark.operators.cluster import (
        kmeans_assignments,
    )
    from etl_on_weather_dataset_spark.operators.similarity import (
        lsh_hyperplanes,
    )

    src = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        list(enumerate(lsh_hyperplanes(8, 40, seed=123))),
        "vec_id long, embedding array<double>",
    ).write.parquet(src)
    vecs = spark.read.parquet(src)
    store = str(tmp_path / "ivf")
    ivf_index_build(spark, vecs, store, k=4, iters=2, dim=8)
    try:
        plans = {
            "ivf_index_query": _physical(ivf_index_query(
                spark, vecs.limit(5), store, k=3, n_probe=2
            )),
            "kmeans_assignments": _physical(
                kmeans_assignments(vecs, k=4, iters=2, dim=8)
            ),
        }
    finally:
        release_all()
    for name, plan in plans.items():
        assert "ExistingRDD" not in plan, name
        assert "BroadcastHashJoin" in plan, name
