"""Operators: reference-parity (join, log, combinators) and
beyond-reference scale operators (dedup, similarity, retrieval,
sampling, text, multimodal)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Spread a narrow input over the cores before a per-row kernel.

    The catalog's tables each ship as one parquet file with one row
    group, so a plain scan is a single task and every row expression
    above it runs on one core.  When ``df`` has fewer partitions than
    the cluster's parallelism it is round-robin repartitioned to that
    count; a wide input (the 100 TB case, thousands of splits) is
    returned unchanged, the same object.  A streaming input has no
    ``.rdd`` to probe, so it is always repartitioned (a file-stream
    batch partitions by file, not row group).

    Call it right in front of the kernel, on a scan or a row-local
    projection of one: Catalyst pushes a deterministic filter below a
    repartition, so a kernel whose output is filtered must sit behind a
    barrier (e.g. a ``localCheckpoint``) to keep its tasks, and the
    partition probe of an input that holds a shuffle runs that
    shuffle's map stage."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.isStreaming or df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
