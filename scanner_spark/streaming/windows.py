"""Structured Streaming extension (SURVEY.md §7 M6 — beyond the reference).

The reference has no streaming runtime: its "streams" are stored sequences
(python/scannerpy/storage.py).  This module maps the same sequence model
onto event time: Scanner's index-ordered per-stream processing becomes
watermarked event-time processing per key; its unbounded-state kernels
become ``applyInPandasWithState`` operators whose state lives in the state
store instead of a kernel instance.

Everything here is a thin, tested veneer over stock Structured Streaming —
watermarks + window/session aggregations + stateful groups — so the same
query shapes run micro-batch on a cluster with checkpointed exactly-once
sinks.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


def from_stored(spark: SparkSession, path: str, schema: str | StructType, fmt: str = "parquet") -> DataFrame:
    """readStream over a stored table directory (file source; exactly-once
    with checkpointed sinks).  ``maxFilesPerTrigger`` is left to the caller's
    option overrides — at 100 TB you bound micro-batch size explicitly."""
    reader = spark.readStream.format(fmt).schema(schema)
    return reader.load(path)


def tumbling(
    df: DataFrame,
    ts_col: str,
    duration: str,
    watermark: str,
    group_cols: Iterable[str] = (),
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation with late-data watermark."""
    aggs = aggs or {"*": "count"}
    exprs = [getattr(F, how)(c).alias(f"{how}_{c.strip('*') or 'rows'}") for c, how in aggs.items()]
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, duration), *group_cols)
        .agg(*exprs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            *[F.col(f"{how}_{c.strip('*') or 'rows'}") for c, how in aggs.items()],
        )
    )


def session(
    df: DataFrame,
    ts_col: str,
    gap: str,
    watermark: str,
    group_cols: Iterable[str] = ("user_id",),
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Session windows (gap-based) — the streaming twin of the batch
    sessionize query."""
    aggs = aggs or {"*": "count"}
    exprs = [getattr(F, how)(c).alias(f"{how}_{c.strip('*') or 'rows'}") for c, how in aggs.items()]
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), *group_cols)
        .agg(*exprs)
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *group_cols,
            *[F.col(f"{how}_{c.strip('*') or 'rows'}") for c, how in aggs.items()],
        )
    )


def stateful_running_agg(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful operator: per-key running (count, sum-of-cents) via
    ``applyInPandasWithState`` — the streaming form of the engine's
    unbounded-state kernels (state store replaces the kernel instance;
    reset-on-new-slice becomes state timeout)."""
    out_schema = ", ".join(f"{k} string" for k in key_cols) + ", n long, sum_cents long"
    state_schema = "n long, sum_cents long"

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(round(float(pdf[value_col].sum()) * 100))
        state.update((n, cents))
        yield pd.DataFrame(
            {**{k: [v] for k, v in zip(key_cols, key)}, "n": [n], "sum_cents": [cents]}
        )

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Memory sink (tests/dev): returns the started query."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def to_parquet(df: DataFrame, path: str, checkpoint: str, output_mode: str = "append"):
    """Checkpointed parquet sink — exactly-once on restart."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def to_parquet_upsert(df: DataFrame, path: str, checkpoint: str):
    """Update-mode upsert into parquet via ``foreachBatch`` — the
    production sink for watermarked aggregations.

    The native file sink only supports append mode, and append emits a
    window only once the watermark passes its end — the final in-progress
    windows are NEVER flushed, and complete mode (the memory-sink demo
    pattern) holds the entire aggregate in the driver.  Update mode emits
    every window changed by the micro-batch while the watermark keeps the
    state store bounded; ``foreachBatch`` lands those rows in parquet
    stamped with the batch id, so readers reconstruct the current value of
    each key as the row with the highest ``__batch_id`` (see
    ``read_upserted``).  The checkpoint makes re-delivery idempotent at
    the batch level."""

    def write_batch(bdf: DataFrame, batch_id: int):
        bdf.withColumn("__batch_id", F.lit(batch_id)).write.mode("append").parquet(path)

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def read_upserted(spark: SparkSession, path: str, key_cols: list[str]) -> DataFrame:
    """Current state of a ``to_parquet_upsert`` sink: latest batch's row
    per key (one window shuffle over the sink — scale-fine, the sink holds
    aggregate rows, not events)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col("__batch_id").desc())
    return (
        spark.read.parquet(path)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__batch_id")
    )
