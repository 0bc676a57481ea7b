"""Partitioned/bucketed table layout and GeoJSON nested-structure access."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from sparkksqldbbenchmark_spark.catalog import load_table
from sparkksqldbbenchmark_spark.operators.bucketing import write_bucketed
from sparkksqldbbenchmark_spark.sources import files

SF = "/root/testdata/sf0.001"


def test_partitioned_write_prunes(spark):
    events = load_table(spark, SF, "events")
    d = tempfile.mkdtemp(prefix="part_")
    events.withColumn("day", F.to_date("ts")).write.mode(
        "overwrite"
    ).partitionBy("event_type").parquet(d)
    # partition directories exist
    parts = [p for p in os.listdir(d) if p.startswith("event_type=")]
    assert len(parts) == 5
    # a filter on the partition column prunes: PartitionFilters in plan
    back = spark.read.parquet(d).where(F.col("event_type") == "click")
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    got = back.count()
    want = events.where(F.col("event_type") == "click").count()
    assert got == want


def test_bucketed_table_join_no_shuffle(spark):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    # warehouse dir is a static conf; tables land in ./spark-warehouse
    # (gitignored) and are dropped below
    write_bucketed(
        orders, "t_orders_b", "o_orderkey", buckets=4, sorted_by_key=False
    )
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b",
        "o_orderkey",
        buckets=4,
        sorted_by_key=False,
    )
    a = spark.table("t_orders_b")
    b = spark.table("t_lineitem_b")
    joined = a.join(b, "o_orderkey")
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("simple")
    plan = buf.getvalue()
    # bucketed-bucketed join: no Exchange on either join input
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert joined.count() > 0
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_geojson_nested_access(spark):
    """S11 shape — DMI GeoJSON pages (dmi/scripts/wind.py:80-101):
    properties struct + geometry.coordinates array, lon/lat extraction
    with F.col path syntax, dropna on coordinates (P9)."""
    d = tempfile.mkdtemp(prefix="geo_")
    p = os.path.join(d, "page.json")
    with open(p, "w") as f:
        f.write(
            '{"type":"Feature","properties":{"stationId":"06019",'
            '"parameterId":"wind_speed","value":7.1},'
            '"geometry":{"type":"Point","coordinates":[8.08,56.7]}}\n'
            '{"type":"Feature","properties":{"stationId":"06030",'
            '"parameterId":"wind_speed","value":3.2},'
            '"geometry":null}\n'
        )
    df = files.read_json(spark, p)
    flat = df.select(
        F.col("properties.stationId").alias("station_id"),
        F.col("properties.value").alias("value"),
        F.col("geometry.coordinates")[0].alias("longitude"),
        F.col("geometry.coordinates")[1].alias("latitude"),
    )
    kept = flat.na.drop(subset=["longitude", "latitude"])
    rows = kept.collect()
    assert len(rows) == 1
    assert rows[0]["station_id"] == "06019"
    assert abs(rows[0]["longitude"] - 8.08) < 1e-9
