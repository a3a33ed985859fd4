"""Job-count pins for the iterative queries and table loads.

Jobs are counted as perfbench does: the scheduler's next job id before
and after the call (``dagScheduler().nextJobId()``), so every job the
call launches counts, whatever thread or job group it runs under.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from severless_data_pipeline_aws_spark.io import load_table


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _jobs(spark, call):
    j0 = _next_job(spark)
    out = call()
    return _next_job(spark) - j0, out


@pytest.mark.parametrize(
    "name",
    [
        "dedup_connected_components",
        "dedup_semantic_keep_representative",
        "funnel_kaplan_meier_conversion",
        "graph_pagerank_bounded",
        "graph_closeness_centrality",
        "graph_harmonic_centrality_bounded",
        "graph_hits_hubs_authorities",
        "graph_kcore_decomposition",
        "graph_label_propagation_communities",
        "graph_ktruss_decomposition",
        "geo_dbscan_grid_clusters",
        # the readers of the lazy nation co-trade edge list (_co_edges)
        "graph_triangle_count",
        "graph_modularity_by_region",
        "graph_clustering_coefficient",
        "graph_katz_centrality_bounded",
        "graph_local_clustering_per_node",
        "graph_knn_degree_correlation",
        "graph_four_cycle_count",
    ],
)
def test_iterative_query_build_launches_no_jobs(spark, sf_dir, name):
    from severless_data_pipeline_aws_spark.registry import load_all

    fn = load_all()[name].fn
    fn(spark, sf_dir)  # the first load of each table infers its schema
    jobs, _ = _jobs(spark, lambda: fn(spark, sf_dir))
    assert jobs == 0


def test_reload_of_unchanged_table_launches_no_jobs(spark, sf_dir):
    load_table(spark, sf_dir, "lineitem")
    jobs, df = _jobs(spark, lambda: load_table(spark, sf_dir, "lineitem"))
    assert jobs == 0
    assert "l_orderkey" in df.columns


def test_rewritten_table_reloads_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(map(tuple, df.collect())) == [(0, "AFRICA"), (1, "AMERICA")]


def _union_find(n: int, pairs) -> dict[int, int]:
    parent = list(range(n))

    def root(u: int) -> int:
        while parent[u] != u:
            u = parent[u]
        return u

    for a, b in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {u: root(u) for a_b in pairs for u in a_b}


@pytest.mark.parametrize(
    "pairs",
    [
        [(i, i + 1) for i in range(399)],  # a 400-node path: all labeled 0
        # several components, one a 60-node chain entered from its far end
        [(i, i + 1) for i in range(100, 159)]
        + [(159, 3), (3, 7), (7, 5), (20, 21), (22, 21), (40, 41), (41, 42), (42, 40)],
        [],
    ],
    ids=["path", "components", "empty"],
)
def test_min_label_components_is_one_lazy_plan(spark, pairs):
    from severless_data_pipeline_aws_spark.operators.dedup import (
        min_label_components,
    )

    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src bigint, dst bigint"
    )
    jobs, comps = _jobs(spark, lambda: min_label_components(edges))
    assert jobs == 0
    got = {r["doc_id"]: r["component"] for r in comps.collect()}
    assert got == _union_find(400, pairs)
