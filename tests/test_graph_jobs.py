"""Spark-job budget of the catalog's graph queries.

Job counts are deterministic where wall time is not: each graph loop's
set-up, per-round checkpoints and table reads show up as jobs (its
size-gate counts ride on the job that fills a cache or checkpoint). A
change that adds a pass or an action to a loop fails here even when
the values stay right.
"""

from __future__ import annotations

import pytest

from utn_dataengineering_stockmarketpipeline_spark.plans.catalog import CATALOG
from utn_dataengineering_stockmarketpipeline_spark.sources import parquet

from conftest import SF_SMOKE

#: Jobs of one build + collect at sf0.001 with an empty schema cache
#: (so each table read pays its inference job whatever ran before),
#: measured with 2, 4 and 8 local cores and 8 or 32 shuffle
#: partitions.
GRAPH_JOB_BUDGET = {
    "ana_pagerank_suppliers": 37,
    "ana_hits_graph": 44,
    "ana_bfs_reach": 25,
    "ana_shortest_path": 25,
    "ana_communities_lp": 16,
    "ana_kcore_suppliers": 13,
}


@pytest.mark.parametrize("name", sorted(GRAPH_JOB_BUDGET))
def test_graph_query_job_budget(name, spark, spark_jobs):
    parquet._SCHEMA_CACHE.clear()
    jobs, rows = spark_jobs(
        lambda: CATALOG[name].build(spark, SF_SMOKE).collect()
    )
    assert rows
    assert jobs <= GRAPH_JOB_BUDGET[name], (
        f"{name}: {jobs} Spark jobs, budget {GRAPH_JOB_BUDGET[name]}"
    )
