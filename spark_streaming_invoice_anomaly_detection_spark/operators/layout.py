"""Partitioning and join-shape helpers the registered queries build on.

Five helpers, one theme — pay for a shuffle only where it buys parallelism
or saves a bigger one:

- **Narrow-scan spreads** (`spread_if_narrow`, `cluster_if_narrow`): a
  one-file parquet scan runs its whole map stage on one core; these
  repartition it (round-robin, or by the downstream key so the spread IS
  the aggregation's exchange) when it has fewer files than the cluster
  has cores, and are no-ops otherwise.
- **Salted joins** (`salted_join`): when one join key is hot (a handful of
  keys holding a double-digit % of rows), AQE's skew split helps reads but
  the hot key still lands on one reducer. Salting splits each hot key into
  ``num_salts`` sub-keys and replicates the small side per salt.
- **Skew census** (`key_skew_stats`): the one-row per-key cardinality
  summary that says whether a key needs salting.
- **Bloom-reducible joins** (`bloom_reduced_join`): a plain inner
  equi-join shaped so Catalyst can inject a runtime Bloom filter into the
  fact side.

The reference has no storage-layout surface (its only storage is MLlib
model dirs, Clustering.scala:100-106); these are engine-side helpers, not
a port.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition to the cluster's default parallelism when the input
    scan is narrower than it — the guard in front of every CPU-heavy
    map stage (tokenize/md5/explode) whose width is otherwise whatever
    the file listing produced. A one-file parquet table leaves 31 of 32
    cores idle for the whole hot stage; the spread is one narrow shuffle
    of the raw rows (measured 5.0 s -> 1.5 s on the MinHash pipeline,
    13 s -> <1 s on the DSIR gram explode at sf0.1).

    Width is probed via ``inputFiles()``, NOT ``df.rdd.getNumPartitions``:
    under AQE the rdd accessor eagerly executes upstream shuffle stages
    just to learn the count. Non-file-backed inputs (``inputFiles() ==
    []``) get the spread unconditionally — their width is unknowable
    cheaply and the extra shuffle is one narrow pass. On a real cluster
    scan with enough splits this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        return df.repartition(target)
    return df


def cluster_if_narrow(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a NARROW scan by the downstream aggregation/join
    key — :func:`spread_if_narrow`'s keyed twin.

    Where the round-robin spread adds an exchange on top of the one the
    downstream groupBy needs anyway, the keyed spread IS that exchange:
    ``repartition(target, key)`` satisfies the aggregation's required
    distribution, so EnsureRequirements inserts no second shuffle and the
    (otherwise single-threaded) aggregation work runs cluster-wide after
    the one exchange. Trade-off vs the default map-side-combine plan: the
    exchange carries raw rows instead of partial aggregates — a win
    exactly when the upstream side is too narrow to combine in parallel
    (measured on invoice_featurize at sf0.1: 1.25 s -> 1.01 s; the
    round-robin spread measured a LOSS there, 1.22 s, because its extra
    exchange carries the same raw rows without widening the agg's).

    Same guard as spread_if_narrow: a real cluster scan with enough
    splits skips the repartition entirely, so this is a no-op at 100 TB
    and the plan keeps its map-side combine there.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    num_salts: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join robust to a skewed ``on`` key in ``large``.

    The large side gets a uniform random salt in [0, num_salts); the small
    side is replicated once per salt value (an ``explode`` of a literal
    array — num_salts× the SMALL side only). Joining on (key, salt) spreads
    each hot key over ``num_salts`` reducers. The salt is dropped before
    returning, so the result is row-identical to the unsalted join —
    which is exactly what the DuckDB oracle checks.
    """
    salted_l = large.withColumn(
        "__salt", F.floor(F.rand(seed) * num_salts).cast("int")
    )
    salted_s = small.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(num_salts)])),
    )
    return salted_l.join(salted_s, [on, "__salt"], how).drop("__salt")


def key_skew_stats(df: DataFrame, key: str) -> DataFrame:
    """One-row skew census for a prospective join/agg key: key count,
    max/avg per-key cardinality, and their ratio.

    ``skew_ratio`` ~ 1 means uniform; >> 1 flags a hot key that will pin
    one reducer (the signal for :func:`salted_join` or AQE skew-split).
    Two cheap aggregations: per-key count (map-side combined) then a
    single-row rollup. Arithmetic is fixed-order so the DuckDB oracle
    reproduces the doubles exactly.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    avg_cnt = F.sum("cnt").cast("double") / F.count(F.lit(1)).cast("double")
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        avg_cnt.alias("avg_cnt"),
        (F.max("cnt").cast("double") / avg_cnt).alias("skew_ratio"),
    )


def bloom_reduced_join(
    large: DataFrame,
    build: DataFrame,
    large_key: str,
    build_key: str,
) -> DataFrame:
    """Fact ⋈ selective-subset INNER join shaped for runtime Bloom
    semi-join reduction.

    Written declaratively (plain equi-join, no hints) so Catalyst is free
    to inject `might_contain(bloom_filter_agg(build_key))` into the fact
    scan when the size gates pass: the filter drops non-matching fact rows
    BEFORE the shuffle, which at 100 TB is the difference between shuffling
    the whole fact table and shuffling only the ~selectivity fraction that
    can join. Inner-only on purpose: Bloom injection does not apply to the
    preserved side of outer joins, so a `how` knob would silently defeat
    the operator's point. Semantically identity — the join result is
    row-identical with or without the injected filter (false positives are
    re-checked by the join itself), which is what the DuckDB oracle
    verifies.
    """
    return large.join(build, large[large_key] == build[build_key])


__all__ = [
    "spread_if_narrow",
    "cluster_if_narrow",
    "salted_join",
    "key_skew_stats",
    "bloom_reduced_join",
]
