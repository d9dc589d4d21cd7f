"""Source/sink breadth beyond the csv/jsonl/parquet round-trips in
test_sinks.py: ORC, date-partitioned parquet layout with verified
partition pruning (the at-rest layout that lets a 100 TB table serve a
one-day query by touching one directory), and the parquet schema memo
behind ``load_table``.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.sources.catalog import (
    TABLES,
    load_table,
    read_parquet,
)

from .conftest import SF_SMALL


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_orc_roundtrip(spark, tmp_path):
    path = str(tmp_path / "orders_orc")
    orders = load_table(spark, SF_SMALL, "orders")
    orders.write.orc(path)
    back = spark.read.orc(path)
    assert back.count() == orders.count()
    assert [f.name for f in back.schema.fields] == [f.name for f in orders.schema.fields]
    # Predicate pushdown works on ORC scans too.
    plan = _plan(back.filter(F.col("o_totalprice") > 1000).select("o_orderkey"))
    assert "PushedFilters" in plan and "o_totalprice" in plan


def test_partitioned_parquet_prunes_partitions(spark, tmp_path):
    path = str(tmp_path / "orders_by_month")
    orders = load_table(spark, SF_SMALL, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.partitionBy("order_month").parquet(path)

    # Hive-style layout on disk: one directory per month.
    months = sorted(d for d in os.listdir(path) if d.startswith("order_month="))
    assert len(months) > 12, months

    back = spark.read.parquet(path)
    one_month = back.filter(F.col("order_month") == "1996-03")
    plan = _plan(one_month.select("o_orderkey"))
    # The month predicate must appear as a PartitionFilter on the scan
    # (directory-level pruning), not as a post-scan data Filter.
    assert "PartitionFilters" in plan, plan
    scan_line = plan[plan.index("PartitionFilters"):].split("]", 1)[0]
    assert "order_month" in scan_line, plan

    expected = orders.filter(F.col("order_month") == "1996-03").count()
    assert one_month.count() == expected > 0


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 built-in XML source: schema'd round-trip with rowTag —
    the remaining first-class file format after parquet/csv/jsonl/orc/
    text (hierarchical feeds land as XML more often than anyone likes)."""
    out = str(tmp_path / "x")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0), (3, "c", 0.25)], ["id", "name", "score"]
    )
    df.write.format("xml").option("rootTag", "rows").option("rowTag", "row").mode(
        "overwrite"
    ).save(out)
    back = spark.read.format("xml").option("rowTag", "row").schema(
        "id bigint, name string, score double"
    ).load(out)
    assert {tuple(r) for r in back.collect()} == {(1, "a", 1.5), (2, "b", -2.0), (3, "c", 0.25)}


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution: a dataset whose later files add a column must
    read with mergeSchema=true as the superset schema, nulls for the
    files written before the column existed — the append-only contract
    of a long-lived 100 TB table."""
    out = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(out + "/p=1")
    spark.createDataFrame([(2, "b", 9.5)], ["id", "name", "score"]).write.parquet(
        out + "/p=2"
    )
    back = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(back.columns) == {"id", "name", "score", "p"}
    rows = {(r.id, r.name, r.score) for r in back.collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}


@pytest.mark.parametrize("name", TABLES)
def test_schema_memo_hit_equals_fresh_inference(spark, name):
    path = f"{SF_SMALL}/{name}.parquet"
    read_parquet(spark, path)  # fills the memo
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_schema_memo_keys_on_nanos_as_long(spark, tmp_path):
    """A TIMESTAMP(NANOS) column infers as bigint under ``nanosAsLong`` and
    cannot be read without it; the memoized bigint schema must not paper
    over that when the conf is off."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(key) == "true"
    assert read_parquet(spark, path).dtypes == [("ts", "bigint")]
    spark.conf.set(key, "false")
    try:
        with pytest.raises(Exception, match="(?i)nanos"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(key, "true")
    assert read_parquet(spark, path).dtypes == [("ts", "bigint")]


def test_rewritten_table_shows_new_column(spark, tmp_path):
    out = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(out)
    assert load_table(spark, str(tmp_path), "t").columns == ["id", "name"]
    spark.createDataFrame([(2, "b", 9.5)], ["id", "name", "score"]).write.mode(
        "overwrite"
    ).parquet(out)
    back = load_table(spark, str(tmp_path), "t")
    assert back.columns == ["id", "name", "score"]
    assert [tuple(r) for r in back.collect()] == [(2, "b", 9.5)]
