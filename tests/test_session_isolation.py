"""Queries leave the session they run on as they found it, and can
share one session across threads.

Intermediates are bound as ``spark.sql`` DataFrame arguments (PySpark
drops the views it names for them once the query is analyzed) and
streaming replays run in a child session, so no query registers a view
or changes a conf on the caller's session. No query persists or
caches an intermediate, so none leaves blocks in the cache manager that
every session of the application shares; the caller owns any result
cache (``cache.TTLCache``).
"""

from __future__ import annotations

import threading

import pytest

from severless_data_pipeline_aws_spark import registry

from .oracle import compare, duckdb_connect

SPECS = registry.load_all()

#: the confs a query used to set on the caller's session: the replay's
#: shuffle-partition clamp and the backfill's dynamic overwrite mode
_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.sources.partitionOverwriteMode")


@pytest.mark.parametrize(
    "name",
    [
        "stats_welch_t_test",  # bound a fixed-name intermediate view
        "sql_api_revenue_by_nation",  # registered every table as a view
        "agg_grouping_sets",  # registered three prefixed table views
        "streaming_tumbling_window_agg",  # memory sink + partition clamp
        "graph_hits_hubs_authorities",  # persisted its edge list and nodes
        "graph_closeness_centrality",  # persisted every BFS round
        "dedup_connected_components",  # checkpointed its edges and labels
        "dashboard_cached_status_counts",  # cached its result
        "dedup_allpairs_prefix_jaccard",  # persisted its shingle table
        "funnel_market_basket_lift",  # persisted its baskets
        "sampling_kcenter_greedy_coreset",  # persisted the embeddings
        "similarity_pq_adc_topk",  # persisted subvectors, checkpointed the codebook
        "similarity_kmeans_lloyd",  # persisted embeddings, checkpointed centroids
        "similarity_pca_top_component",  # persisted embeddings and dims
        "geo_dbscan_grid_clusters",  # star contraction checkpointed every round
    ],
)
def test_query_leaves_no_session_state(name, spark, sf_dir):
    # a fresh session has no temp views, so any left behind is this query's
    session = spark.newSession()
    confs = {k: session.conf.get(k) for k in _CONFS}
    # the cache manager is shared by every session of the application
    session.catalog.clearCache()
    rdds = set(session.sparkContext._jsc.getPersistentRDDs().keySet())
    assert SPECS[name].fn(session, sf_dir).count() > 0
    assert [t.name for t in session.catalog.listTables()] == []
    assert {k: session.conf.get(k) for k in _CONFS} == confs
    assert session._jsparkSession.sharedState().cacheManager().isEmpty()
    # checkpoints are persisted RDDs the cache manager does not list
    assert set(session.sparkContext._jsc.getPersistentRDDs().keySet()) <= rdds


#: 8 distinct queries for one session: two streaming replays, four that
#: used to register views, and two plain DataFrame plans
_CONCURRENT = (
    "streaming_tumbling_window_agg",
    "streaming_dedup_within_watermark",
    "stats_welch_t_test",
    "window_bollinger_bands",
    "agg_grouping_sets",
    "subquery_correlated_exists",
    "flagship_revenue_by_status_year",
    "tpch_q5_local_supplier_volume",
)


def test_eight_threads_share_one_session(spark, sf_dir):
    """Each thread builds and runs its query on the shared session at the
    same moment; every result must still match its DuckDB oracle."""
    start = threading.Barrier(len(_CONCURRENT))
    errors: dict[str, list[str]] = {}

    def run(name: str) -> None:
        con = duckdb_connect(sf_dir)
        try:
            start.wait(timeout=120)
            errors[name] = compare(
                SPECS[name].fn(spark, sf_dir), con, SPECS[name].oracle, require_rows=True
            )
        except Exception as exc:  # reported below with the query's name
            errors[name] = [repr(exc)]
        finally:
            con.close()

    threads = [threading.Thread(target=run, args=(n,)) for n in _CONCURRENT]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=900)
    assert not any(t.is_alive() for t in threads)
    assert {n: e for n, e in errors.items() if e} == {}
    assert sorted(errors) == sorted(_CONCURRENT)
