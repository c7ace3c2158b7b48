"""Shared helpers for operator modules."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table (Parquet, vectorized scan)."""
    return load_table(spark, sf_dir, name)


def fan_out(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan fan-out (guide §2.5 "input skew: one huge
    unsplittable file … repartition immediately after the read").

    Every fixture table is a SINGLE-row-group parquet file, so its scan is
    planned as ONE task no matter the core count (Parquet assigns a row
    group to the split holding its midpoint; `openCostInBytes` floors split
    size at 4 MB anyway), and every pre-exchange map stage — tokenize,
    shingle, explode, signature/assignment folds, partial aggregation —
    runs on one core. Measured round 17 (SCALE.md): the iterative/heavy
    kernels read FLAT 8-vs-32-core ratios at sf1.0 because of exactly this.

    When the planned scan parallelism is below the session's default
    parallelism, spread the raw rows round-robin before the heavy map work
    (deterministic under retries: sortBeforeRepartition is on). On a real
    corpus whose scan already yields >= cores splits this is a NO-OP — no
    exchange is added at 100 TB, where the shuffle would be corpus-sized.

    Contract: call this on RAW SCAN inputs only (scan + filters/projects).
    `df.rdd` on a plan that already contains exchanges would execute AQE
    query stages just to count partitions.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)


def local_frame(spark: SparkSession, columns: dict[str, list], schema: str) -> DataFrame:
    """A small driver-side table (``columns``: name → values) as a
    ``LocalRelation``.

    ``createDataFrame`` on a Python list plans a scan of a pickled RDD, so
    every action over it (a broadcast, a write) runs a Spark job through
    Python workers: 0.3-1 s per use on a 4-core host. An Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    LocalRelation, which the driver reads with no job."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)


def one_group(col: str | Column) -> Column:
    """A constant-valued but NON-foldable window partition key.

    Ranking a small post-``limit(k)`` result still needs a whole-frame
    window; an empty partition spec makes WindowExec warn (and at scale,
    funnel everything through one task), while ``partitionBy(F.lit(0))`` is
    constant-folded by Catalyst back to the empty spec. ``pmod(length(c), 1)``
    is always 0 but data-dependent, so the optimizer keeps it and the window
    stays an explicit single-group partition — only ever applied to k-row
    inputs (k <= 20 here)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.length(c.cast("string")), F.lit(1))
