"""Custom connector surfaces: the Spark 4 Python DataSource API (a
user-defined partitioned source registered by name) and the built-in
binaryFile source for opaque-payload (multimodal) ingestion.

The DataSource API is the sanctioned extension point for reading systems
Spark has no built-in connector for (internal services, bespoke formats):
each InputPartition is read independently on executors — the generator
below is embarrassingly parallel, exactly how a real connector should
shard its scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import LongType, StructField, StructType

from upflow_spark.io import load
from upflow_spark.memo import scratch
from upflow_spark.parity import r4
from upflow_spark.registry import query

_N_PARTS = 8
_ROWS_PER_PART = 1250
_KNUTH = 2654435761  # Knuth multiplicative hash constant


class SensorSource(DataSource):
    """Deterministic synthetic 'sensor readings' connector.

    reading_id i ∈ [0, 10000); device_id = i % 50;
    raw = (i * 2654435761) % 1000003  (pure int64 arithmetic — exactly
    reproducible in any engine, which is what makes the key oracle-checkable).
    """

    @classmethod
    def name(cls) -> str:
        return "upflow_sensor"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("reading_id", LongType()),
                StructField("device_id", LongType()),
                StructField("raw", LongType()),
            ]
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        return SensorReader()


class SensorReader(DataSourceReader):
    def partitions(self):  # noqa: ANN201
        return [InputPartition(k) for k in range(_N_PARTS)]

    def read(self, partition):  # noqa: ANN201
        base = partition.value * _ROWS_PER_PART
        for j in range(_ROWS_PER_PART):
            i = base + j
            yield (i, i % 50, (i * _KNUTH) % 1000003)


@query(
    "source_python_datasource",
    oracle="""
SELECT CAST(i % 50 AS BIGINT) AS device_id,
       CAST(count(*) AS BIGINT) AS n_readings,
       CAST(sum((i * 2654435761) % 1000003) AS BIGINT) AS raw_sum,
       CAST(max((i * 2654435761) % 1000003) AS BIGINT) AS raw_max
FROM generate_series(0, 9999) t(i)
GROUP BY i % 50
""",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API end-to-end: register → read by format
    name → aggregate. 8 InputPartitions scan in parallel on executors (a
    real connector shards its remote scan the same way)."""
    spark.dataSource.register(SensorSource)
    df = spark.read.format("upflow_sensor").load()
    return df.groupBy("device_id").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.sum("raw").alias("raw_sum"),
        F.max("raw").alias("raw_max"),
    )


@query(
    "source_binaryfile",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(strlen(md5(text) || ':' || doc_id)) AS BIGINT) AS total_bytes,
       min(md5(md5(text) || ':' || doc_id)) AS min_digest
FROM documents
WHERE doc_id < 64
""",
)
def source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source: opaque payloads land as (path, length, content)
    rows — the ingestion front door for image/audio blobs (§2-K multimodal).

    Payloads here are deterministic strings derived from the documents table
    (md5(text) || ':' || doc_id), written one file per doc then read back
    through the binaryFile format; the oracle recomputes the same bytes
    relationally. At 100 TB you'd point this at an object-store prefix —
    the source lists and shards files, content never touches the driver.
    """
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id", F.concat_ws(":", F.md5("text"), F.col("doc_id")).alias("payload"))
    )
    out = scratch(spark, "source_binaryfile")
    rows = d.collect()  # 64 tiny payloads — driver write is fine for the fixture
    for r in rows:
        with open(os.path.join(out, f"doc_{r['doc_id']:05d}.bin"), "wb") as fh:
            fh.write(r["payload"].encode("ascii"))
    back = spark.read.format("binaryFile").load(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.col("length")).cast("long").alias("total_bytes"),
        F.min(F.md5("content")).alias("min_digest"),
    )
