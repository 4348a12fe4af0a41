"""q40–q46 (graph analytics) vs the DuckDB oracle."""

from __future__ import annotations

import pytest

from cqs_spark.operators.graph_queries import GRAPH_ORACLES, GRAPH_QUERIES
from cqs_spark.testing import compare_to_oracle


def test_inventory_complete():
    assert set(GRAPH_QUERIES) == set(GRAPH_ORACLES)


@pytest.mark.parametrize("name", sorted(GRAPH_QUERIES))
def test_oracle_match(spark, sf_dir, name):
    df = GRAPH_QUERIES[name](spark, sf_dir)
    compare_to_oracle(df, GRAPH_ORACLES[name], sf_dir)


def test_triangle_count_known_graphs(spark):
    from pyspark.sql import functions as F

    from cqs_spark.operators.graph import triangle_count

    # K4: every node sits in C(3,2)=3 triangles; duplicate/reversed/
    # self-loop edges must not inflate counts.
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    edges = spark.createDataFrame(
        k4 + [(0, 0), (1, 2)], "src long, dst long"
    ).withColumn("edge_kind", F.lit("call"))
    got = {r["node"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # A path graph has no triangles at all.
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    ).withColumn("edge_kind", F.lit("call"))
    assert triangle_count(path).count() == 0


def test_pagerank_mass_and_ordering(spark):
    from pyspark.sql import functions as F

    from cqs_spark.operators.graph import pagerank

    # Star: everyone points at 0; node 0 is dangling (its mass
    # redistributes).  Rank must conserve total mass ~1 and put the
    # hub strictly first.
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long"
    ).withColumn("edge_kind", F.lit("call"))
    rows = pagerank(edges, iters=5).collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-9
    hub = next(r["rank"] for r in rows if r["node"] == 0)
    assert all(hub > r["rank"] for r in rows if r["node"] != 0)
