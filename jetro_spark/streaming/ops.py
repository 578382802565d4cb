"""Event-time windowing + stateful operators (batch ≡ streaming).

The driver's events parquet has shipped ts as both TIMESTAMP(NANOS)
(bigint nano-epochs under nanosAsLong) and plain µs TIMESTAMP across
testdata generations; helpers here normalize either representation to
TimestampType so F.window / F.session_window / withWatermark apply
(jetro_spark.timeutil holds the conversion rules).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jetro_spark.localrel import parquet_schemas
from jetro_spark.timeutil import ts_to_timestamp


def event_time(c: Column) -> Column:
    """Nanosecond-epoch long → TimestampType (microsecond precision —
    exact for this data; sub-microsecond residue would truncate).
    Decimal division, NOT double: nano-epochs (~1.7e18) exceed a
    double's 53-bit mantissa, so `/ 1000.0` rounds the last microsecond."""
    return ts_to_timestamp(c, "bigint")


def read_event_stream(spark: SparkSession, sf_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """The events table as a STREAMING DataFrame — see read_table_stream."""
    return read_table_stream(spark, sf_dir, "events",
                             max_files_per_trigger=max_files_per_trigger)


def read_table_stream(spark: SparkSession, sf_dir: str, table: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """A driver test table as a STREAMING DataFrame (file source). With
    Trigger.AvailableNow a query over this processes the existing data
    in bounded batches and stops — the batch-parity harness.

    Spark's file stream source requires a DIRECTORY; the driver ships
    each table as a single parquet file, so stage a symlink dir (in a
    real deployment the source would be a landing directory / Kafka
    topic)."""
    import hashlib
    import os
    import tempfile

    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    tag = hashlib.sha1(src.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"jetro_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    # File streams need an explicit schema; take it from the footer, as
    # the batch tables do, so ts keeps whatever physical representation
    # this testdata generation uses (bigint nanos under nanosAsLong, or
    # µs timestamp). The legacy conf is needed only for this one schema
    # read — restore the caller's value after (leaving it flipped would
    # silently change how ALL later batch reads in a non-get_spark
    # session decode TIMESTAMP(NANOS) columns).
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        [schema] = parquet_schemas(spark, [src])
    finally:
        if old is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old)
    r = spark.readStream.schema(schema).option("nanosAsLong", "true")
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(d)


def _with_time(df: DataFrame, time_col: str) -> DataFrame:
    dt = dict(df.dtypes).get(time_col, "")
    return df.withColumn("__et", ts_to_timestamp(F.col(time_col), dt))


def tumbling_windowed(
    df: DataFrame, width: str, *, time_col: str = "ts",
    keys: list[str] | None = None, watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time windows: count + decimal-exact value sum per
    (window, keys). One shuffle, map-side partial aggregation. Late-data
    policy via `watermark` (streaming only; ignored no-op on batch)."""
    df = _with_time(df, time_col)
    if watermark is not None:
        df = df.withWatermark("__et", watermark)
    gb = [F.window("__et", width).alias("win")] + [F.col(k) for k in keys or []]
    return (df.groupBy(*gb)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(28,6)"))
                 .cast("double").alias("total"))
            .select(F.unix_timestamp(F.col("win.start")).alias("win_start"),
                    *(keys or []), "n", "total"))


def sliding_windowed(
    df: DataFrame, width: str, slide: str, *, time_col: str = "ts",
    keys: list[str] | None = None, watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) windows: each event lands in width/slide
    windows. Same single-shuffle shape as tumbling."""
    df = _with_time(df, time_col)
    if watermark is not None:
        df = df.withWatermark("__et", watermark)
    gb = [F.window("__et", width, slide).alias("win")] \
        + [F.col(k) for k in keys or []]
    return (df.groupBy(*gb)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_timestamp(F.col("win.start")).alias("win_start"),
                    *(keys or []), "n"))


def session_windowed(
    df: DataFrame, gap: str, *, time_col: str = "ts",
    keys: list[str] | None = None, watermark: str | None = None,
) -> DataFrame:
    """Session windows: events within `gap` of each other merge into one
    session per key (dynamic-length windows). Shuffles on keys; session
    state is merged by Spark's session-window aggregation. Session start
    is emitted at microsecond precision (epoch micros)."""
    df = _with_time(df, time_col)
    if watermark is not None:
        df = df.withWatermark("__et", watermark)
    gb = [F.session_window("__et", gap).alias("win")] \
        + [F.col(k) for k in keys or []]
    return (df.groupBy(*gb)
            .agg(F.count(F.lit(1)).alias("n"))
            .select((F.unix_micros(F.col("win.start"))).alias("sess_start"),
                    *(keys or []), "n"))


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_time: str = "ts",
    right_time: str = "ts",
    lower: str = "INTERVAL 1 HOUR",
    upper: str = "INTERVAL 0 SECONDS",
    watermark: str = "2 hours",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream INNER join bounded by an event-time interval:
    match when ``right_time ∈ [left_time - lower, left_time + upper]``
    and the ``on`` keys are equal.

    The time-bound condition is what makes this viable on two unbounded
    streams: with watermarks on BOTH sides, Spark derives how long each
    side's join state must be retained (watermark + interval span) and
    evicts it — an unbounded stream-stream join would otherwise keep
    every row forever. The same code path runs on batch frames
    (withWatermark is a no-op there), so batch ≡ streaming parity is
    testable.

    Right columns (except the key) come back ``{right_prefix}``-renamed;
    both event-time columns are normalized to TimestampType first
    (timeutil), whatever the physical representation."""
    lt = ts_to_timestamp(F.col(left_time), dict(left.dtypes).get(left_time, ""))
    rt = ts_to_timestamp(F.col(right_time), dict(right.dtypes).get(right_time, ""))
    l = left.withColumn("__lt", lt).withWatermark("__lt", watermark)
    rcols = [c for c in right.columns if c != on]
    r = right.select(F.col(on),
                     *[F.col(c).alias(f"{right_prefix}{c}") for c in rcols])
    r = (r.withColumn("__rt", ts_to_timestamp(
            F.col(f"{right_prefix}{right_time}"),
            dict(right.dtypes).get(right_time, "")))
         .withWatermark("__rt", watermark)
         .withColumnRenamed(on, f"__r_{on}"))
    cond = ((l[on] == r[f"__r_{on}"])
            & (F.col("__rt") >= F.col("__lt") - F.expr(lower))
            & (F.col("__rt") <= F.col("__lt") + F.expr(upper)))
    return l.join(r, cond, "inner").drop("__lt", "__rt", f"__r_{on}")


def dedup_within_watermark(
    df: DataFrame, keys: list[str], *, time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on ``keys`` with BOUNDED state: duplicates
    arriving within the watermark horizon are dropped, and per-key state
    is evicted once the watermark passes it (plain dropDuplicates on a
    stream keeps every key forever — an unbounded-state leak on a 100 TB
    ingest). Batch frames take the equivalent dropDuplicates.

    The deterministic surface is the KEY SET (which payload row survives
    among duplicates is arrival/partition-order dependent in both batch
    and streaming) — downstream should select the keys or re-join payload
    by key, same contract as the reference's right-wins equi_join merge.
    """
    d = _with_time(df, time_col)
    if d.isStreaming:
        return (d.withWatermark("__et", watermark)
                .dropDuplicatesWithinWatermark(keys).drop("__et"))
    return d.dropDuplicates(keys).drop("__et")


# ------------------------------------------------ custom stateful operator


def running_agg_state(df: DataFrame, *, key: str = "user_id",
                      value: str = "value") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key
    running count/sum/max emitted once per micro-batch (update mode).
    The brief's `applyInPandasWithState` surface — Arrow-batched, state
    bounded by key cardinality. Batch DataFrames don't support state;
    use the streaming form (tests) or the batch fallback below."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField(key, T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
    ])

    def fn(key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, total, vmax = (state.get if state.exists else (0, 0.0, None))
        for pdf in pdfs:
            vals = pdf[value].dropna()
            n += len(pdf)
            total += float(vals.sum())
            m = float(vals.max()) if len(vals) else None
            vmax = m if vmax is None else (m if m is not None and m > vmax else vmax)
        state.update((n, total, vmax))
        yield pd.DataFrame({key: [key_tuple[0]], "n": [n],
                            "total": [total], "vmax": [vmax]})

    return df.groupBy(key).applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)


def running_agg_batch(df: DataFrame, *, key: str = "user_id",
                      value: str = "value") -> DataFrame:
    """Batch-equivalent of running_agg_state's final answer (for parity
    checks): plain groupBy aggregation."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(value).alias("total"),
        F.max(value).alias("vmax"))
