"""Spark-job budget of the catalog's graph queries.

Job counts are deterministic where wall time is not: each graph loop's
set-up (persist + count), per-round checkpoints and size-gate counts
show up as jobs. A change that adds a pass or an action to a loop
fails here even when the values stay right.
"""

from __future__ import annotations

import pytest

from utn_dataengineering_stockmarketpipeline_spark.plans.catalog import CATALOG

from conftest import SF_SMOKE

#: Jobs of one build + collect at sf0.001, measured with 2, 4 and 8
#: local cores and 8 or 32 shuffle partitions (the same at sf0.01).
GRAPH_JOB_BUDGET = {
    "ana_pagerank_suppliers": 40,
    "ana_hits_graph": 49,
    "ana_bfs_reach": 35,
    "ana_shortest_path": 35,
    "ana_communities_lp": 20,
    "ana_kcore_suppliers": 19,
}


@pytest.mark.parametrize("name", sorted(GRAPH_JOB_BUDGET))
def test_graph_query_job_budget(name, spark, spark_jobs):
    jobs, rows = spark_jobs(
        lambda: CATALOG[name].build(spark, SF_SMOKE).collect()
    )
    assert rows
    assert jobs <= GRAPH_JOB_BUDGET[name], (
        f"{name}: {jobs} Spark jobs, budget {GRAPH_JOB_BUDGET[name]}"
    )
