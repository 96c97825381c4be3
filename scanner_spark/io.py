"""Reading the engine's table formats from any SparkSession.

Central place for source-format quirks so query code stays declarative.
The driver's ``events.ts`` column has shipped in three parquet flavors, and
``normalize_events_ts`` maps every one to a plain session-TZ TIMESTAMP by
*dtype inspection* (never by session conf — the driver builds its own
SparkSession with stock confs, so any fix that lives in ``session.py``
defaults is invisible to the gate):

- ``TIMESTAMP(NANOS)``: unreadable by stock Spark; ``read_table`` flips the
  legacy conf to read it as long nanos and truncates to microseconds
  (integer division — no double round-trip, which would lose precision at
  1.7e18 ns).
- ``timestamp[us] isAdjustedToUTC=false``: a default Spark 4 session infers
  TIMESTAMP_NTZ, which ``unix_micros``/``withWatermark`` reject; cast to
  TIMESTAMP (lossless — session TZ is UTC in both our session and the
  driver's).
- plain ``TIMESTAMP(MICROS)``: passes through unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize_events_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Return ``df`` with ``col`` as a plain TIMESTAMP, whatever parquet
    flavor it was read as (long nanos / TIMESTAMP_NTZ / TIMESTAMP).

    Dtype-driven so it is correct under ANY SparkSession (batch or
    streaming) regardless of ``inferTimestampNTZ`` / ``nanosAsLong``
    session settings."""
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # long nanos -> microsecond timestamp (truncation matches DuckDB's
        # TIMESTAMP_NS -> TIMESTAMP cast)
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, TimestampNTZType):
        # NTZ wall clock -> the UTC instant with that wall clock, computed
        # SESSION-TIMEZONE-PROOF: microseconds since the NTZ epoch is pure
        # wall-clock integer arithmetic (no tz, no DST), and
        # timestamp_micros() builds the instant from epoch micros directly.
        # A plain cast("timestamp") would interpret the wall clock in the
        # session timezone — correct only on UTC sessions, and the driver
        # builds its own session (see the round-2 regression).
        ntz_epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        return df.withColumn(
            col,
            F.timestamp_micros(
                F.timestamp_diff("MICROSECOND", ntz_epoch, F.col(col))
            ),
        )
    return df


# Tables whose consumers do heavy per-row CPU in the NARROW (pre-shuffle)
# phase: tokenization, per-token md5, signature folds, codec work for
# `documents`; per-dimension float math for `embeddings`.  Their scan
# parallelism is the whole pipeline's parallelism until the first exchange.
_CPU_HEAVY_TABLES = {"documents", "embeddings"}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; normalizes the events timestamp column.

    Starved-scan healing: the synthetic test parquet is written as a
    handful of row groups per file (documents at sf10: 5 row groups in
    11.6 MB), and parquet byte-splits below a row-group boundary collapse
    onto whoever holds the group start — so a scan of these files runs on
    1-3 effective tasks while the session has 32 cores.  For the
    CPU-heavy tables this single-threads the entire narrow phase of every
    text/embedding pipeline (measured: doc_lm_familiarity 34.7 s -> 5.4 s
    at sf10 from this one exchange).  The guard keeps this a TEST-LAYOUT
    fix, not a production tax: a real deployment's corpus has orders of
    magnitude more row groups than cores, the scan partition count clears
    the threshold, and no repartition is inserted — filters and column
    pruning push through the Repartition node either way, so pushdown is
    unaffected when it does fire."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    if name in _CPU_HEAVY_TABLES:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < max(2, target // 2):
            df = df.repartition(target)
    return df

