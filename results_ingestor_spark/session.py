"""SparkSession factory tuned for the engine's scale posture.

The reference executes single-threaded pandas in a Bokeh callback
(ingestor_precinct.py:70-144) — no parallelism, no spill, no optimizer.
Here every knob is chosen for a 1000-executor / 100 TB deployment and
scaled down for local[32] testing:

* AQE on (runtime partition coalescing + skew-join splitting) so the
  county/group-by shuffles survive skewed keys without manual salting.
* shuffle.partitions sized to cores locally; on a real cluster this is
  superseded by AQE's coalescing from a high initial number.
* Arrow enabled for the few Pandas-UDF extension operators.
* Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (duckdb timestamps are UTC-naive).
* Spark's generated-class cache sized to the registry's working set
  (``CODEGEN_CACHE_ENTRIES``).  Whole-stage codegen only pays off when a
  compiled class is reused, and the engine is a registry one long-lived
  session runs again and again.  Spark keeps compiled classes in one
  JVM-wide LRU of ``spark.sql.codegen.cache.maxEntries`` (default 100);
  a pass over more distinct classes than that evicts each class before
  its next use, so every interleaved pass recompiles every class.  The
  cap is a static conf, read once when the JVM's code generator is first
  used, so it is a build conf: a session built by someone else keeps
  Spark's 100.
* PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``).  PySpark 4.1 wraps
  every ``F.*`` call and ``Column`` method to record the Python call
  site for error messages; each wrapped call costs extra py4j round
  trips and a failing ``import IPython`` path search (measured at
  sf0.01 on a 4-vCPU VM: the flagship's build 0.48 -> 0.30 s and 3,779
  -> 1,092 py4j calls with capture off).  Errors lose the Python call
  site (the DataFrame query context).  The conf is static and PySpark
  reads it once per process, when the first ``Column`` is built, so a
  session built by someone else keeps capture on.
* The package root shipped to Python workers
  (``spark.executorEnv.PYTHONPATH``): pandas-UDF and ``mapInPandas``
  entries unpickle functions from this package, so a driver started
  outside the repository root would otherwise fail in its workers with
  ``ModuleNotFoundError``.  A session built by someone else needs the
  package on the caller's ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe to set at runtime on an externally-created session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS) which Spark's reader rejects;
    # read as raw long ns and convert (tables.py normalizes to micros).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # checkpoint-file checksum writing stalls stateful queries on local
    # FS (writer-thread await per tiny state delta); corruption detection
    # for object-store checkpoints, not needed here.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Local-mode driver heap: 24g (tuned on a 128 GiB host), capped at
    half the host's physical memory so smaller hosts are not overcommitted."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 * 1024, phys_bytes // 2**21)}m"


# Entries of Spark's JVM-wide generated-class cache.  Sizing rule: the
# smallest power of two at least twice the largest measured working set
# (distinct classes one interleaved pass compiles).  Measured on a
# 4-vCPU VM: perfbench's scan_shuffle pass ~190 classes; bench.py's
# HEADLINE pass 801-963 at sf0.01 and 799 at sf0.1 -> 2048.
CODEGEN_CACHE_ENTRIES = 2048

# Confs that must be set at session-build time.
BUILD_CONFS: dict[str, str] = {
    # local[32]: one shuffle partition per core; a real cluster would use
    # a large initial count and let AQE coalesce.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # 128 MiB split targets — the parquet-scan sweet spot at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # dims (region/nation/supplier/part at test SFs) always broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Single-JVM local mode does ALL execution in the driver heap; 8g on
    # this 128 GiB host GC-thrashed under the interleaved bench (measured
    # round 5: per-pass anchor spreads of 2-3x with 35-85 s spike passes
    # at 8g vs tight 1.2x spreads at 24g — same min-statistics).  A real
    # cluster sizes executor memory separately; this knob only exists for
    # local mode.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                          default_driver_memory()),
    "spark.sql.parquet.enableVectorizedReader": "true",
    "spark.ui.enabled": "false",
    # static: read once per JVM, so it cannot be set on a live session
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    # static; PySpark caches it once per process (module docstring)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Python workers import this package (module docstring)
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))),
}


def get_spark(app_name: str = "results-ingestor-spark",
              master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's conf."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]")
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    tune_session(spark)
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a session we did not create.

    The driver hands ``queries()`` callables an externally-built session;
    this pins the confs correctness depends on (timezone, AQE).  Build
    confs cannot be applied here: ``spark.sql.codegen.cache.maxEntries``
    is static (read once per JVM), so such a session keeps Spark's
    100-entry generated-class cache and recompiles every class on each
    interleaved pass over a working set larger than that; it keeps
    PySpark's call-site capture on (static too), and its Python workers
    find this package only through the caller's ``PYTHONPATH``.

    Memoized per session object: load_tables calls this on every query
    build, and each conf.set is a JVM round-trip.  The memo is guarded
    by a single probe of the session timezone — the one conf correctness
    depends on — so an externally re-configured session (getOrCreate
    applies new confs to the EXISTING session) still gets re-pinned.
    """
    if (getattr(spark, "_rispark_tuned", False)
            and spark.conf.get("spark.sql.session.timeZone", "") == "UTC"):
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not runtime-settable on this build — skip
            pass
    try:
        spark._rispark_tuned = True
    except Exception:
        pass
    return spark
