"""Shared pipeline plan helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_scan(df: DataFrame, min_parallelism: int | None) -> DataFrame:
    """Round-robin repartition ONLY when the plan would otherwise run on
    fewer tasks than ``min_parallelism`` — a single small parquet file
    (one row group) arrives as ONE scan partition, serializing every
    downstream per-row kernel (Arrow/pandas UDFs, regex-heavy
    projections) onto one core. At scale the scan already yields >=
    parallelism splits and this is a no-op (no shuffle added), which is
    what makes it safe to leave on: the repartition cost only exists
    where the data is small enough for it to be trivial.

    Only use in front of ROW-LOCAL work (each output row a function of
    one input row): regrouping rows across partitions then cannot
    change any downstream result."""
    if not min_parallelism:
        return df
    if df.isStreaming:
        # a micro-batch's partitioning is the source's business (and
        # .rdd is illegal on a streaming DataFrame) — no-op
        return df
    if df.rdd.getNumPartitions() >= min_parallelism:
        return df
    return df.repartition(min_parallelism)
