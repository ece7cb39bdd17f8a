"""Named tests for engine/udfs2.py: table-arg UDTF partition isolation,
mapInPandas batch-boundary invariance, XML special-char escaping."""

from __future__ import annotations

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


def test_xml_roundtrip_escapes_special_chars(spark, tmp_path):
    """A value containing XML metacharacters must survive the write+read
    (entity escaping), proven on a synthetic frame."""
    df = spark.createDataFrame(
        [(1, 'a<b>&"c"'), (2, "plain")], "id int, s string"
    )
    out = str(tmp_path / "sg_xml_escape_probe")
    df.write.mode("overwrite").option("rowTag", "r").format("xml").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "r")
        .schema("id int, s string")
        .load(out)
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
