"""CSV / JSON-lines source connectors (§2-A extension): write a fixture
slice out in the text format, read it back with an explicit schema, and
verify the round-trip content against the ORIGINAL table's oracle — proving
the connector preserves values, not just row counts.

Scale notes: CSV/JSON are ingest formats, not working formats — they don't
split on row groups, carry no stats (no pushdown), and parse per-row. The
pattern at 100 TB is exactly this shape: land text → parse with explicit
schema (permissive mode + corrupt-record column in production) → write
parquet once → query parquet forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from upflow_spark.io import load
from upflow_spark.memo import scratch
from upflow_spark.parity import r4
from upflow_spark.registry import query

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

ORDERS_CSV_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate_s", StringType()),
        StructField("o_orderpriority", StringType()),
    ]
)


@query(
    "source_csv_roundtrip",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n_orders,
       floor((sum(o_totalprice)) * 10000 + 0.5) / 10000 AS total_price,
       min(o_orderdate) AS first_order
FROM orders
WHERE o_totalprice > 200000
GROUP BY o_orderstatus
""",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → CSV → parse-with-schema → aggregate == original's oracle.

    Timestamps travel as formatted strings (CSV has no types); doubles
    round-trip via repr (Spark writes shortest-precise decimal).
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    out = scratch(spark, "source_csv_roundtrip") + "/orders"
    (
        o.withColumn("o_orderdate_s", F.date_format("o_orderdate", TS_FMT))
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate_s", "o_orderpriority",
        )
        .write.mode("overwrite")
        .option("header", "true")
        .csv(out)
    )
    back = (
        spark.read.schema(ORDERS_CSV_SCHEMA)
        .option("header", "true")
        .csv(out)
        .withColumn("o_orderdate", F.to_timestamp("o_orderdate_s", TS_FMT).cast("timestamp_ntz"))
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        r4(F.sum("o_totalprice")).alias("total_price"),
        F.min("o_orderdate").alias("first_order"),
    )


@query(
    "source_json_roundtrip",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       floor((sum(value)) * 10000 + 0.5) / 10000 AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
WHERE value > 10
GROUP BY event_type
""",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → JSON-lines → schema'd read → aggregate == original's oracle.

    The nested props JSON survives as a string field; event times travel as
    epoch-µs longs (lossless, no format negotiation).
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value") > 10)
    out = scratch(spark, "source_json_roundtrip") + "/events"
    (
        ev.select(
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "user_id", "event_type", "value", "props",
        )
        .write.mode("overwrite")
        .json(out)
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        r4(F.sum("value")).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "source_xml_roundtrip",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       floor((sum(o_totalprice)) * 10000 + 0.5) / 10000 AS total_price,
       CAST(min(o_orderkey) AS BIGINT) AS first_key
FROM orders
WHERE o_totalprice > 300000.0
GROUP BY o_orderstatus
""",
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → XML → schema'd read-back → aggregate == original's oracle.

    XML is built into Spark 4 (the former spark-xml package): rowTag framing,
    schema-directed parse, same partition-parallel scan as csv/json. Doubles
    survive the text round-trip via shortest-precise repr, like CSV.
    """
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000.0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    out = scratch(spark, "source_xml_roundtrip") + "/orders"
    o.write.format("xml").option("rootTag", "orders").option("rowTag", "order").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(o.schema)
        .load(out)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        r4(F.sum("o_totalprice")).alias("total_price"),
        F.min("o_orderkey").alias("first_key"),
    )


@query(
    "source_text_lines",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT text) AS BIGINT) AS distinct_lines
FROM documents
""",
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source roundtrip: write every document as one line via
    the `text` format, read it back with spark.read.text, and aggregate —
    the line-oriented ingest path (log files, JSONL pre-parse, WET dumps).

    The written corpus must survive the roundtrip exactly: line count,
    total characters, and distinct-line count are compared against the
    original table (fixture texts contain no newlines — the format's one
    constraint, stated). Scale: text write/read is splittable and
    compression-codec-aware; one narrow column, no schema machinery.
    """
    d = load(spark, sf_dir, "documents")
    path = scratch(spark, "source_text_lines") + "/lines"
    d.select("text").coalesce(4).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.countDistinct("value").alias("distinct_lines"),
    )
