"""JSONL (JSON-lines) interchange: the lingua franca of LLM training data.

Tokenizer/trainer stacks consume newline-delimited JSON shards; Spark's
native JSON datasource IS jsonl (one object per line), so both directions
stay fully distributed and whole-stage-codegen'd — no Python in the row
path. The writer shards by a deterministic hash so shard membership is
stable across runs (same property as operators/cleaning.hash_split), and
optionally sorts within shards for reproducible byte-identical output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import h60


def write_jsonl(
    df: DataFrame,
    path: str,
    num_shards: int | None = None,
    shard_key: str | None = None,
    compression: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as JSONL shards.

    With ``shard_key`` set, rows are repartitioned by h60(key) % num_shards
    — deterministic co-sharding (all rows of one document land in one
    shard, and re-runs produce the same assignment). Without it, the
    writer keeps the upstream partitioning (zero extra shuffle).
    """
    if shard_key is not None:
        if num_shards is None:
            raise ValueError("shard_key requires num_shards")
        shard = F.pmod(
            h60(F.col(shard_key).cast("string")), F.lit(num_shards)
        )
        df = df.repartition(num_shards, shard)
    elif num_shards is not None:
        df = df.coalesce(num_shards)
    w = df.write.mode(mode)
    if compression is not None:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema=None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Read JSONL. Pass an explicit schema in production — schema inference
    is a full extra pass over the data (fine for tests, not for 100 TB).

    ``keep_corrupt=True`` reads PERMISSIVE with a ``_corrupt_record``
    column: malformed lines land there (other columns null) instead of
    poisoning the read — the ingest twin of the streaming parser's
    error_reason taxonomy, and the only sane mode for web-scraped JSONL
    where some fraction of lines is always broken. Requires an explicit
    ``schema`` (Spark cannot infer around corruption); the column must be
    filtered, not just selected, per Spark's corrupt-record query rules.
    """
    r = spark.read
    if keep_corrupt:
        if schema is None:
            raise ValueError("keep_corrupt=True requires an explicit schema")
        from pyspark.sql import types as T

        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        schema = schema.add("_corrupt_record", T.StringType())
        r = (
            r.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
        )
    elif schema is not None:
        r = r.schema(schema)
    return r.json(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, corrupt) split of a ``keep_corrupt`` read. Spark refuses a
    raw file scan that references only _corrupt_record, so the read is
    materialized first — with a checkpoint, which is not a file scan and
    leaves no CacheManager entry behind."""
    df = df.localCheckpoint()
    good = df.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return good, bad


__all__ = ["write_jsonl", "read_jsonl", "split_corrupt"]
