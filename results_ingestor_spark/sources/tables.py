"""Parquet table loading for the driver's synthetic test corpus.

Parquet is the engine's native at-rest format (columnar, vectorized
reader, predicate/column pushdown) — the Spark-first replacement for the
reference's row-oriented Postgres store (ingestor_precinct.py:54,192).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from results_ingestor_spark.session import parse_bytes, tune_session
from results_ingestor_spark.sources.resolver import parquet_schema

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# (applicationId, abs sf_dir, table) → DataFrame.  The corpus is
# read-only and DataFrames are immutable plan handles, so reusing them
# skips the per-query-build file listing + footer schema read.  Only the
# running application's entries are kept: a miss evicts the handles of
# stopped applications, which could never be used again.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    """Load the synthetic tables as lazy DataFrames (memoized per
    application + directory).

    Each table is opened with an explicit schema read from its parquet
    footer on the driver (``resolver.parquet_schema``), so loading runs
    no Spark job; ``spark.read.parquet`` alone would run one per table
    to infer it.

    Also pins runtime confs (UTC session timezone, AQE, parquet
    ``nanosAsLong``) on the session first — the driver hands us an
    externally-created one, and the footer conversion reads those confs.
    """
    tune_session(spark)
    app = spark.sparkContext.applicationId
    base = os.path.abspath(sf_dir)
    out = {}
    for n in names:
        key = (app, base, n)
        df = _TABLE_CACHE.get(key)
        if df is None:
            for stale in [k for k in _TABLE_CACHE if k[0] != app]:
                del _TABLE_CACHE[stale]
            path = os.path.join(sf_dir, f"{n}.parquet")
            df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
            if n == "events":
                df = _normalize_events(df)
            _TABLE_CACHE[key] = df
        out[n] = df
    return out


def local_relation(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-side ``rows`` (tuples in the column order of the DDL
    ``schema``) as a driver-local ``LocalTableScan`` with exactly that
    Spark schema: how a driver-computed table (constants, trained
    vocabularies, a reranked list) enters a plan.  Built from a
    pyarrow Table, so collecting or broadcasting it runs no Spark job;
    ``createDataFrame`` of a Python list is a ``Scan ExistingRDD``: a
    Python-worker job on every action or broadcast."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = [pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.table(cols, schema=arrow), struct)


def ensure_min_parallelism(df: DataFrame, factor: int = 2) -> DataFrame:
    """Repartition only when the upstream scan yields fewer splits than
    cores (small files / few parquet row groups — a local-testdata
    artifact).  At production scale the scan has far more splits than
    cores and this is a no-op, so no gratuitous shuffle is added.

    The widening exchange HASH-partitions on every column of the frame
    instead of round-robin (r12, guide §2.5): a keyless
    ``repartition(n)`` first pays a local sort of its whole input
    (``spark.sql.execution.sortBeforeRepartition``, on by default since
    SPARK-23207 so retried tasks reproduce the same row→partition
    assignment) — measured r12 at sf0.1: the sort is ~0.45 s of the
    lineitem exchange's 1.09 s, and switching the flagship pipeline to
    the hash exchange took the whole rollup 3.48 → 2.35 s (same-session
    alternating minima).  Hashing the full row is deterministic in the
    row's *content*, so a recomputed map task lands every row in the
    same partition with no sort — the exact fix §2.5 recommends over
    nondeterministic assignment.  Balance: the corpus tables all carry
    a primary key, so full-row murmur3 spreads ~uniformly (600 k
    distinct keys over 64 partitions is ±3%); a caller repartitioning a
    frame with heavily duplicated rows should project a key first.

    Split count is *estimated* from input-file sizes with Spark's own
    FilePartition arithmetic (maxPartitionBytes / openCostInBytes) —
    ``df.rdd.getNumPartitions()`` would be exact but forces a
    DataFrame→RDD plan conversion on every call, a per-query driver tax
    this estimate avoids (round-2 review).

    The result is memoized on the input DataFrame object: registered
    queries rebuild their plans from the load_tables cache, so the same
    instance flows through here once per query build and the
    ``inputFiles()`` JVM call only pays out once.
    """
    cached = getattr(df, "_rispark_minpar", None)
    if cached is not None:
        return cached
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    conf = spark.conf
    max_split = parse_bytes(
        conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    open_cost = parse_bytes(
        conf.get("spark.sql.files.openCostInBytes", "4MB"))
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:  # non-file source (in-memory test frames): trust upstream
        return df
    total = 0
    for uri in files:
        path = uri[7:] if uri.startswith("file:") and "//" in uri[:8] else uri
        path = path.split("://")[-1]
        try:
            total += os.path.getsize(path) + open_cost
        except OSError:
            return df  # remote store: scan splits are plentiful at scale
    # Spark's FilePartition sizing: split width shrinks toward
    # bytesPerCore so small inputs still fan out across the cluster.
    bytes_per_core = total // max(1, cores)
    max_split_bytes = min(max_split, max(open_cost, bytes_per_core))
    est_splits = max(1, -(-total // max(1, max_split_bytes)))
    if est_splits < cores:
        out = df.repartition(cores * factor, *[df[c] for c in df.columns])
    else:
        out = df
    try:
        df._rispark_minpar = out
    except Exception:
        pass
    return out


def _normalize_events(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TimestampType (LTZ) regardless of how the
    corpus was written.

    Observed corpus encodings across driver regenerations:
      * parquet TIMESTAMP(NANOS) → Spark reads long nanoseconds
        (legacy.parquet.nanosAsLong); convert to a microsecond timestamp —
        the same truncation DuckDB applies coercing TIMESTAMP_NS.
      * parquet timestamp[us] without timezone → Spark reads TIMESTAMP_NTZ;
        cast to TIMESTAMP.  The session timezone is pinned to UTC
        (session.py), so the wall-clock values are preserved exactly and
        match DuckDB's naive-UTC reading of the same file.

    Downstream operators (unix_micros, withWatermark, window) require
    TimestampType, so this is the single choke-point for the policy.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    ts_field = next((f for f in df.schema.fields if f.name == "ts"), None)
    if ts_field is None:
        return df
    if isinstance(ts_field.dataType, T.LongType):
        # integer division — double division would lose precision on
        # 19-digit nanosecond values and drift by ±1 µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_field.dataType, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() plans over them."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
