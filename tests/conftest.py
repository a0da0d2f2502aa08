from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"


def run_to_memory(stream, query_name: str, output_mode: str = "complete"):
    """Drain an availableNow stream into the in-memory sink; read it
    back with ``spark.table(query_name)``."""
    (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


@pytest.fixture(scope="session")
def spark():
    from utn_dataengineering_stockmarketpipeline_spark.session import get_spark

    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    s = get_spark("utn-stockmarket-tests")
    yield s


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn, *args, **kwargs) -> (jobs, result)``: the Spark
    jobs one call starts, as the DAG scheduler's job-id delta —
    deterministic where wall time is not."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def count(fn, *args, **kwargs):
        before = dag.nextJobId()
        result = fn(*args, **kwargs)
        return dag.nextJobId() - before, result

    return count


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        # Mirror the driver's view registration; events keeps its raw
        # TIMESTAMP_NS here — oracles cast as needed.
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()
