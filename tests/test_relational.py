"""Named tests for engine/relational.py: XML special-char escaping."""

from __future__ import annotations


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
