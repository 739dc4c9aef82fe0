"""Post-execution observability: read the ACTUAL I/O and shuffle
metrics of a query from Spark's SQL status store (the numbers the SQL
UI shows), so efficiency claims can be asserted, not inferred.

Plan-shape tests prove the optimizer CHOSE pruning/pushdown; these
metrics prove the execution DID it — files skipped, bytes unread,
shuffle payload size.  tests/test_metrics.py uses them to pin
partition pruning as a measured byte count, the check a 100 TB
operator actually runs ("did that query really scan 1% of the
table?").

Implementation note: metric values come back UI-formatted ("4,096",
"114.5 KiB", "282 ms", "total (min, med, max)" histograms); `_to_num`
normalizes them to plain numbers (bytes / counts / ms) and histogram
strings to their total.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame

_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "ms": 1, "s": 1000}


def _to_num(v: str) -> float | None:
    """'4,096' → 4096; '114.5 KiB' → bytes; 'total (min, ...)' → total;
    None when the string carries no leading number."""
    v = v.strip()
    m = re.match(r"^total\s+([\d.,]+(?:\s*\w+)?)", v)
    if m:
        v = m.group(1)
    m = re.match(r"^([\d.,]+)\s*(\w+)?$", v)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    return num * _UNIT.get(m.group(2) or "", 1)


def execution_metrics(df: DataFrame,
                      action: Callable[[DataFrame], None] | None = None,
                      ) -> dict[str, float]:
    """Run ``action`` (default: noop-sink write, full plan on
    executors, nothing collected) and return the summed numeric value
    of every SQL metric across the executed plan's nodes, keyed by
    metric name — e.g. ``number of files read``, ``size of files
    read``, ``shuffle bytes written``, ``number of output rows``.
    """
    spark = df.sparkSession
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    if action is None:
        df.write.format("noop").mode("overwrite").save()
    else:
        action(df)
    execs = store.executionsList()
    out: dict[str, float] = {}
    # sum over every execution this action produced (usually one)
    for idx in range(before, execs.size()):
        ex = execs.apply(idx)
        vals = store.executionMetrics(ex.executionId())
        it = ex.metrics().iterator()
        while it.hasNext():
            m = it.next()
            if not vals.contains(m.accumulatorId()):
                continue
            num = _to_num(vals.apply(m.accumulatorId()))
            if num is not None:
                out[m.name()] = out.get(m.name(), 0.0) + num
    return out


def codegen_compiles(spark) -> int:
    """Janino compiles this JVM has run so far, across every session —
    the exact count of ``CodegenMetrics``' compilation-time histogram.
    The delta over a pass is the number of generated classes that missed
    Spark's codegen cache (``session.CODEGEN_CACHE_ENTRIES``)."""
    return int(spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME().getCount())


def jobs_submitted(spark) -> int:
    """Spark jobs this application has submitted so far: the DAG
    scheduler's next job id, read synchronously.  Its difference over a
    call is exactly the number of jobs the call submitted (AQE's stage
    jobs included).  The status tracker is fed by the asynchronous
    listener bus and can miss a job that already finished."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
