"""SparkSession construction and test-table registration.

The reference delegates session/context management to the TFX/Beam runtime
(``executor.py:166-188``); here a tuned local session plays that role.
Configs are chosen for a local[N] harness but are the same
knobs that matter on a 1000-executor cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), shuffle partitions sized to
cores, Arrow enabled for the pandas-UDF edge.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def local_cpus() -> int:
    """Core count for the local master: ``$SPARK_GRAFT_CPUS`` when set,
    else the cores this process may run on.

    Raises ``ValueError`` naming the variable when it is set to anything
    but a positive integer.
    """
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus <= 0:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return cpus


def get_spark(app_name: str = "tfx_addons_feast_examplegen_spark") -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the local test harness,
    with ``local_cpus()`` cores and as many shuffle partitions.

    At cluster scale the same settings apply; only master/memory change.
    """
    cpus = local_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces post-shuffle partitions by their BYTES, blind to
        # downstream compute density: with the default 1 MB floor, a
        # few-MB shuffle feeding a quadratic pair explode + per-pair
        # cosine/hamming work coalesces to 1-2 tasks and serializes
        # seconds of CPU on one core (measured on the dedup/semdedup
        # pair stages at sf0.1: simhash 2.1 -> 1.4 s, split_leakage
        # 2.6 -> 2.3 s, ann_lsh 2.1 -> 1.5 s with a 64k floor). At
        # corpus scale partitions are far above 1 MB, so the lower
        # floor is inert there — it only stops over-coalescing of
        # small-bytes/heavy-compute stages; the partition-count CAP is
        # still spark.sql.shuffle.partitions (the scale knob above).
        # Env-overridable for cluster tuning.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Parquet TIMESTAMP(NANOS) (events.ts) is not a Spark type; read it
        # as long nanos and normalize in load_table (lossless: fixture data
        # is microsecond-granular).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Managed-table home for bucketed feature tables (static conf).
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def rebalance_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow input up to the session's shuffle
    parallelism so CPU-heavy downstream expressions (shingle explodes,
    per-row hashing, dot products) use every core.

    Small or compacted inputs scan as a handful of partitions — at 100 TB
    the scan yields tens of thousands of splits and this is a no-op, but a
    5 MB documents file is ONE split, and without this every explode/hash
    downstream of it runs in one task while the rest of the cluster idles
    (measured 4x on sf0.1 shingling). The repartition shuffles only the
    tiny raw input, upstream of the expensive work.
    """
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions") or "200")
    # Estimate the scan's split count from file sizes (footer listing is
    # already cached by the reader) instead of df.rdd.getNumPartitions(),
    # which forces a full plan->RDD conversion per call.
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        max_bytes = int(
            str(
                df.sparkSession.conf.get(
                    "spark.sql.files.maxPartitionBytes", "134217728"
                )
            ).rstrip("b")
        )
        total = 0
        for uri in files:
            path = uri[7:] if uri.startswith("file://") else uri
            try:
                total += os.path.getsize(path)
            except OSError:
                return df  # non-local storage: trust the scan's splits
        est = max(1, -(-total // max_bytes))
        return df.repartition(target) if est < target else df
    # Non-file-backed frame (createDataFrame, stream, intermediate): no
    # cheap split estimate exists, and probing df.rdd.getNumPartitions()
    # forces the full plan->RDD conversion this helper exists to avoid —
    # skip the rebalance and keep plan compile cost flat.
    return df


# Columns stored as parquet TIMESTAMP(NANOS): surfaced by Spark as long
# nanos (nanosAsLong), converted here to TimestampType (micros).
_NANOS_TS_COLS = {"events": ("ts",)}

# session id -> sf_dir currently registered (see register_tables).
_REGISTERED: dict[int, tuple[str, dict[str, DataFrame]]] = {}


def normalize_timestamps(df: DataFrame, cols: tuple[str, ...] = ()) -> DataFrame:
    """Normalize fixture time columns to TimestampType (session tz = UTC).

    Handles both physical encodings the fixtures have shipped with:
    TIMESTAMP(NANOS) read as long nanos under ``nanosAsLong`` (``cols``
    names them), and naive TIMESTAMP(MICROS) surfaced as TIMESTAMP_NTZ.
    NTZ wall-clock equals the UTC instant here (generator writes UTC), so
    the cast is value-preserving — and required: event-time streaming
    (``withWatermark``) accepts only TIMESTAMP, not NTZ.
    """
    dtypes = dict(df.dtypes)
    for col in cols:
        if dtypes.get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    for col, dt in dtypes.items():
        if dt == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table (columnar parquet scan; pruning/pushdown free)."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_timestamps(df, _NANOS_TS_COLS.get(name, ()))


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every test table as a temp view named after itself.

    Mirrors the reference's implicit catalog (BigQuery datasets resolved by
    Feast, ``executor.py:87``): after this, arbitrary entity SQL runs via
    ``spark.sql`` (SURVEY.md S1/A2).

    Pins the session timezone to UTC so timestamp literals and formatting
    are deterministic even when the caller's session (e.g. the driver's)
    was built without an explicit timezone.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Runtime-settable; required to read events.parquet (TIMESTAMP NANOS)
    # on sessions not built by get_spark (e.g. the driver's).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    # Registration reads 10 parquet footers (~seconds); memoize per
    # session+dir so every query callable can call this idempotently.
    # The hit path returns the cached frame dict directly (plans are
    # immutable) — even per-table catalog existence probes are ~10 py4j
    # round-trips that showed up as constant overhead on sub-second
    # benched queries.
    cached = _REGISTERED.get(id(spark))
    if cached is not None and cached[0] == sf_dir:
        return dict(cached[1])
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    _REGISTERED[id(spark)] = (sf_dir, out)
    return out
