"""SparkSession factory + test-table loading.

Local-mode settings follow the public Spark tuning guidance: shuffle
partitions sized to cores (not the 200 default), AQE enabled for runtime
re-planning and skew-join handling, Arrow enabled for the pandas-UDF path.
At cluster scale the same code runs unchanged — only master/memory change.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from jetro_spark.localrel import parquet_schemas
from jetro_spark.timeutil import with_event_timestamp

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def get_spark(app_name: str = "jetro_spark", cpus: int | None = None) -> SparkSession:
    """Build (or get) a SparkSession tuned for local[N] testing.

    The config choices are scale-first: AQE + coalesce + skew-join are what
    a 1000-executor run wants too; shuffle partitions are overridable via
    spark.sql.shuffle.partitions at submit time on a real cluster.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Scan-split sizing is a LOCAL-HARNESS setting: the sf0.1 bench tables
    # are single ~10-40 MB parquet files, so Spark's 128 MB default splits
    # them into ~3 input partitions and leaves 29 of 32 cores idle through
    # the scan + map-side-combine stage (measured 2x on group_agg). 4 MB
    # restores scan parallelism here. A real cluster run should keep the
    # 128 MB default (4 MB at 100 TB would be 25M tasks) — override via
    # SPARK_GRAFT_MAX_PARTITION_BYTES at submit time; many-file production
    # tables parallelize by file count anyway.
    mpb = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.files.maxPartitionBytes", mpb)
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor (default 1m) collapses any post-shuffle
        # stage holding < cores×1 MB to one or two tasks — for compute-
        # heavy stages over small shuffles (the SemDeDup pair join:
        # 2 MB of vectors, quadratic work) that serializes the whole
        # stage on one core (measured: semantic_keep 1.42 s → 0.57 s
        # with the floor at 64k). The floor only binds when per-core
        # shuffle data is under 1 MB; at production scale partitions
        # are orders of magnitude past it either way, so 64k is not a
        # local-only tune — it just stops tiny-bytes/heavy-CPU stages
        # from being serialized. Overridable at submit time.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_GRAFT_AQE_MIN_PART", "64k"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate injects `size(g)>0 AND isnotnull(g)`
        # below every explode. When the generator input is a COMPUTED
        # array (tokenize/gram expressions — every text operator here),
        # that filter (a) cannot reach the parquet scan, (b) is pushed
        # below the defining projection, re-evaluating the expensive
        # expression once per conjunct per row (the Filter is often
        # interpreted, not codegen'd — no CSE), and (c) saves nothing:
        # Generate itself skips empty/null arrays in the SAME stage,
        # before any shuffle. Not a local-only tune — the redundant
        # per-row evals scale with the corpus. Measured (interleaved
        # best-of-7, 4 pairs each): bm25_topk −25%, ngram_lm −10%,
        # others neutral. Overridable at submit time.
        .config("spark.sql.optimizer.excludedRules",
                os.environ.get(
                    "SPARK_GRAFT_EXCLUDED_RULES",
                    "org.apache.spark.sql.catalyst.optimizer."
                    "InferFiltersFromGenerate"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # Call-site capture (on by default) wraps every functions.* and
        # Column call in four extra JVM round trips plus a Python stack
        # walk, only to name the DataFrame call site in an
        # AnalysisException's query context. Query building is mostly
        # such calls. Static conf: it only takes effect on a session
        # this builder starts.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# DataFrame -> (splittable units, row count) for tables loaded by
# load_tables — the inputs fan_out needs to decide whether the scan can
# parallelize at all (parquet splits at row-group granularity: a
# single-row-group file yields ONE row-carrying task no matter what
# maxPartitionBytes says). Weakly keyed: the entry lives as long as the
# loaded frame object does.
_FAN_META: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def fan_out(df: DataFrame, *, full: bool = False) -> DataFrame:
    """Restore scan parallelism lost to unsplittable input (guide §2.5
    input skew — "one huge unsplittable file … repartition immediately
    after the read").

    The bench tables are single-row-group parquet files, so every scan
    produces exactly one row-carrying task and all row-local compute
    layered on the scan (tokenize, hash, explode, fold) runs on one
    core. When — and only when — the file's row-group count cannot fill
    the session's cores, round-robin repartition right after the read
    so that per-row work distributes. On production tables (many files
    / many row groups) the condition never holds and this is an exact
    no-op, so no extra exchange is ever paid at scale.

    Partition count derives from cores and rows, not constants:
    cores//2 by default (leaves scheduler headroom for the downstream
    shuffle stages of text pipelines — measured best at local[32]), or
    all cores with ``full=True`` for queries whose downstream is
    broadcast-only so nothing competes for task slots (the SemDeDup
    pair join: 0.35 s at cores vs 1.2 s at cores//2). Floored at 2,
    capped so slices keep >= ~32 rows. Only worth applying where
    per-row compute dominates — an aggregation-only query is better
    served by its map-side partial aggregate than by shuffling full
    rows (measured: group_agg LOSES 25% fanned; dedup_spans WINS
    2.5x)."""
    meta = _FAN_META.get(df)
    if meta is None:
        return df
    units, rows = meta
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if units >= cores or rows < 512:
        return df
    base = cores if full else max(2, cores // 2)
    n = min(base, max(2, rows // 32))
    return df.repartition(n)


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register: bool = True
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables; optionally register temp views.

    Loading runs no Spark job. ``spark.read.parquet`` infers a schema
    with one job per table, ~1 s for the ten tables on a fresh session;
    here every schema comes from the file footers on the driver
    (``localrel.parquet_schemas``) and each frame is a read with that
    schema. Results are memoized per (session, sf_dir), so the gate
    queries, which each call load_tables, share one set of frames
    (lazy plans: reuse is free and safe). The memo lives on the
    session object, so it ends with the session. A weakly keyed map
    would never drop an entry: the cached frames hold their session.

    The driver's parquet carries nanosecond timestamps (TIMESTAMP(NANOS));
    Spark reads those only with the legacy nanosAsLong conf, under which
    they surface as bigint — set it on whatever session we're given,
    before the schemas are read.
    """
    memo = spark.__dict__.setdefault("_jetro_tables", {})
    cached = memo.get(sf_dir)
    if cached is not None:
        if register:
            for name, df in cached.items():
                df.createOrReplaceTempView(name)
        return dict(cached)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    paths = {name: os.path.join(sf_dir, f"{name}.parquet") for name in TABLES}
    paths = {name: p for name, p in paths.items() if os.path.exists(p)}
    schemas = parquet_schemas(spark, list(paths.values()))
    dfs: dict[str, DataFrame] = {}
    for (name, path), schema in zip(paths.items(), schemas):
        df = spark.read.schema(schema).parquet(path)
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
            meta = (md.num_row_groups, md.num_rows)
        except Exception:  # no pyarrow / exotic file: fan_out no-ops
            meta = None
        if name == "events":
            # events.ts has shipped as TIMESTAMP(NANOS) (bigint nanos
            # under the legacy conf) and as plain µs timestamp across
            # testdata generations. Keep ts raw (what DuckDB sees too) and
            # add a normalized TimestampType column for window/streaming
            # operators regardless of the physical representation.
            df = with_event_timestamp(df, "ts", "event_time")
        if meta is not None:
            _FAN_META[df] = meta
        dfs[name] = df
        if register:
            df.createOrReplaceTempView(name)
    memo[sf_dir] = dict(dfs)
    return dfs
