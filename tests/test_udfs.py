"""Named tests for engine/udfs.py, the Python family: table-arg UDTF
partition isolation, mapInPandas batch-boundary invariance, and Python
data sources that fail loudly when they cannot register."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_udtf_table_argument_one_row_per_user(spark):
    rows = _q("udtf_table_argument")(spark, SF_DIR).collect()
    users = [r["user_id"] for r in rows]
    assert len(users) == len(set(users)) and users
    exp = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter(F.col("user_id") < 40)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r["user_id"]: r["n_events"] for r in rows} == exp


def test_mapinpandas_batch_boundary_invariance(spark):
    """Forcing 1-row Arrow batches must not change a single output row —
    the iterator contract the key documents."""
    baseline = sorted(
        map(tuple, _q("udf_mapinpandas_stream")(spark, SF_DIR).collect())
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
        tiny = sorted(
            map(tuple, _q("udf_mapinpandas_stream")(spark, SF_DIR).collect())
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert baseline == tiny and baseline


def test_python_datasource_registration_fails_loudly(spark, monkeypatch):
    """Registering the same DataSource class twice in one session succeeds,
    so a failing registration is a real fault: the key must raise it, not
    run on against whatever source was registered before."""
    from pyspark.sql.datasource import DataSourceRegistration

    build = _q("scan_python_datasource").__wrapped__
    assert build(spark, SF_DIR).count() == 1000

    def refuse(self, dataSource):
        raise RuntimeError("registration refused")

    monkeypatch.setattr(DataSourceRegistration, "register", refuse)
    with pytest.raises(RuntimeError, match="registration refused"):
        build(spark, SF_DIR)
