"""S2/S3: Kafka source & sink adapters.

Reference used receiver-based Kafka 0.8 (InvoicePipeline.scala:501-511) and
a per-partition producer (:420-432). Structured Streaming's Kafka connector
replaces both: the source is offset-tracked (exactly-once with
checkpointing, no receivers), the sink pools producers.

The spark-sql-kafka jar is not bundled in this environment, so the
``.format('kafka')`` calls themselves can't execute here; the option
construction and the wire-format projection are factored into pure
functions so their contracts stay unit-tested without a broker
(tests/test_sources.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_source_options(
    brokers: str, topics: str, starting_offsets: str = "latest"
) -> dict[str, str]:
    """Connector options for the purchases source.

    Mirrors connectToPurchases' (zkQuorum, topics) pair on the modern
    connector: broker bootstrap replaces the ZK quorum, ``subscribe`` the
    topic map (per-topic receiver threads have no equivalent — partitions
    parallelize the read instead).
    """
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
    }


def kafka_sink_options(brokers: str, topic: str) -> dict[str, str]:
    """Connector options for one output topic (publishToKafka :435-447)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
    }


def wire_format(df: DataFrame) -> DataFrame:
    """Project any row to the reference's wire value: all columns joined
    with ',' into a single ``value`` string — e.g. "<invoiceNo>,<reason>"
    for the erroneous stream (InvoicePipeline.scala:384) and the bare
    "<invoiceNo>" for anomaly streams (:357,378). Key stays null, matching
    the reference producer (:429).
    """
    return df.select(
        F.concat_ws(",", *[F.col(c).cast("string") for c in df.columns]).alias(
            "value"
        )
    )


def read_kafka_lines(
    spark: SparkSession,
    brokers: str,
    topics: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka topic(s) -> streaming DataFrame of string lines in ``value``.

    Mirrors connectToPurchases: the Kafka key is dropped (P2, reference
    ``raw.map(_._2)`` at :162).
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(brokers, topics, starting_offsets).items():
        reader = reader.option(k, v)
    return reader.load().select(F.col("value").cast("string").alias("value"))


def kafka_sink(topic: str, brokers: str):
    """foreachBatch sink publishing one wire-formatted string per record."""

    def write(df: DataFrame, _epoch_id: int) -> None:
        writer = wire_format(df).write.format("kafka")
        for k, v in kafka_sink_options(brokers, topic).items():
            writer = writer.option(k, v)
        writer.save()

    return write
