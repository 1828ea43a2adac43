"""Streaming custom connector: the Spark 4 Python DataSource *stream* reader
(SimpleDataSourceStreamReader) driven to completion with availableNow.

The batch twin lives in sources/python_ds.py (same deterministic integer-hash
payload); here the same 10k readings arrive in 2,500-row micro-batches
through offset tracking — initialOffset/read(start) is exactly the contract a
Kafka-like source implements, so this key certifies the engine can ingest
from a custom *unbounded* system, checkpoint offsets, and still produce the
batch-equivalent answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import LongType, StructField, StructType

from upflow_spark.memo import scratch
from upflow_spark.registry import query
from upflow_spark.session import small_shuffles

_TOTAL = 10_000
_BATCH = 2_500
_KNUTH = 2654435761


class SensorStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "upflow_sensor_stream"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("reading_id", LongType()),
                StructField("device_id", LongType()),
                StructField("raw", LongType()),
            ]
        )

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return SensorStreamReader()


class SensorStreamReader(SimpleDataSourceStreamReader):
    """Offset = how many readings have been emitted. Each poll serves the
    next 2,500; at 10k the reader reports no progress, which is what lets
    processAllAvailable() detect quiescence and return."""

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):  # noqa: ANN201
        pos = start["pos"]
        end = min(pos + _BATCH, _TOTAL)
        rows = [(i, i % 50, (i * _KNUTH) % 1000003) for i in range(pos, end)]
        return iter(rows), {"pos": end}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: ANN201
        return iter(
            [(i, i % 50, (i * _KNUTH) % 1000003) for i in range(start["pos"], end["pos"])]
        )


@query(
    "stream_python_datasource",
    oracle="""
SELECT CAST(i % 50 AS BIGINT) AS device_id,
       CAST(count(*) AS BIGINT) AS n_readings,
       CAST(sum((i * 2654435761) % 1000003) AS BIGINT) AS raw_sum
FROM generate_series(0, 9999) t(i)
GROUP BY i % 50
""",
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python streaming source → stateful agg → memory sink, drained
    with processAllAvailable; the final complete-mode state must equal the
    batch aggregate the oracle computes."""
    spark.dataSource.register(SensorStreamSource)
    stream = spark.readStream.format("upflow_sensor_stream").load()
    agg = stream.groupBy("device_id").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.sum("raw").alias("raw_sum"),
    )
    ckpt = scratch(spark, "stream_python_datasource")
    # 50 device keys across 4 micro-batches: a small state store
    with small_shuffles(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName("upflow_pystream_result")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        # availableNow would snapshot only the FIRST poll's offset (2,500
        # rows); processAllAvailable keeps triggering micro-batches until the
        # reader reports no new offset (pos == 10,000), then the query is
        # stopped — 4 deterministic micro-batches through the
        # offset/checkpoint machinery.
        q.processAllAvailable()
        q.stop()
    return spark.table("upflow_pystream_result")
