"""Registry mapping query names to (Spark callable, DuckDB oracle SQL).

Every registered callable is wrapped by ``query``, the one path the
driver contract, ``bench.py``, perfbench and ``check_correctness`` use.
The wrapper keeps a per-session plan memo: one long-lived session runs
the same entries again and again, and most builds are pure Python-side
plan construction (thousands of py4j round trips for the larger
entries) that produces the same plan every time.

The memo key is (session, absolute ``sf_dir``, entry name, fingerprint
of the session's SQL conf as the call finds it).  A build is stored, as
the analyzed logical plan of its wire-cast output, only when it
submitted no Spark job, left the SQL conf as it found it and returned no
checkpoint scope.  A hit hands out a new Dataset over that plan, so
every action still runs Catalyst optimization, physical planning, AQE
and execution from scratch; only plan construction, its py4j traffic
and analysis are skipped.  No data and no result is cached.

Why a stored plan is exact: a build that ran no job read nothing but
parquet footers and CSV header lines on the driver, which
``sources/tables.py::load_tables`` already treats as immutable, so its
analyzed plan is a function of the key alone.  The conf fingerprint
covers everything analysis reads from the session (ANSI mode, the
timezone, the broadcast threshold ...).  A build that changes the conf
(``load_tables`` pinning UTC on a session built elsewhere) is not
stored, because a hit would skip that change; the next call, under the
changed conf, is.  Builds that run jobs (eager checkpoints, seed
collects, Lloyd iterations) may depend on what those jobs return and
are rebuilt on every call, as are results with a checkpoint scope,
whose blocks ``ckpt.release_result`` frees after use.  A hit is a new
Dataset rather than the stored one because a Dataset keeps its
``QueryExecution``: after a ``collect`` it holds its executed plan and
shuffle dependencies, and its Python attributes would be shared between
callers.

Plans are served only to the session that analyzed them; a miss evicts
the entries of every other application (a stopped one's plans can never
be served again), the rule ``load_tables`` applies to its table cache.
A test that replaces something a builder calls must call the unwrapped
builder (``QUERIES[name].__wrapped__``) or it gets the memoized plan.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from results_ingestor_spark.metrics import jobs_submitted
from results_ingestor_spark.operators.ckpt import carry_scope

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# (session uuid, abs sf_dir, entry, SQL conf hash) ->
# (application id, analyzed logical plan)
_PLAN_MEMO: dict[tuple[str, str, str, int], tuple[str, Any]] = {}


def _ntz_wire(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP (LTZ) in the output schema — top-level or
    nested in struct/array/map — to TIMESTAMP_NTZ at the wire
    boundary.

    Round-7 hardening, measured by tools/driver_sim_check.py --matrix:
    PySpark's ``collect()`` renders a TimestampType cell with
    ``datetime.fromtimestamp(micros/1e6)``, i.e. through the *Python
    process's OS timezone* — a non-UTC gate host shifts every emitted
    LTZ wall clock even though the session timezone is pinned UTC and
    the stored instants are correct (events_tumbling_hour and
    events_sessionize flipped in all four matrix zones).  TIMESTAMP_NTZ
    cells round-trip as the literal wall clock with no zone lookup,
    which is exactly DuckDB's naive TIMESTAMP semantics, so the cast
    makes the wire OS-timezone-immune without changing a single value:
    it is analyzed at plan-build time, where tune_session has already
    pinned the session to UTC, so wall == UTC wall == what the oracle
    reads from parquet.  The collected Python type (datetime.datetime)
    is unchanged, so type-tagged value hashes are unaffected.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def _ntz_type(dt: T.DataType) -> T.DataType | None:
        """The same type with every nested TimestampType replaced by
        TimestampNTZType, or None when nothing needs replacing — LTZ
        can hide inside struct/array/map columns (e.g. an unflattened
        F.window struct), and a top-level-only cast would let those
        reach the wire OS-timezone-sensitive."""
        if isinstance(dt, T.TimestampType):
            return T.TimestampNTZType()
        if isinstance(dt, T.StructType):
            reps = [(f, _ntz_type(f.dataType)) for f in dt.fields]
            if not any(r for _, r in reps):
                return None
            return T.StructType([
                T.StructField(f.name, r or f.dataType, f.nullable,
                              f.metadata) for f, r in reps])
        if isinstance(dt, T.ArrayType):
            r = _ntz_type(dt.elementType)
            return T.ArrayType(r, dt.containsNull) if r else None
        if isinstance(dt, T.MapType):
            rk, rv = _ntz_type(dt.keyType), _ntz_type(dt.valueType)
            if not (rk or rv):
                return None
            return T.MapType(rk or dt.keyType, rv or dt.valueType,
                             dt.valueContainsNull)
        return None

    reps = [(f, _ntz_type(f.dataType)) for f in df.schema.fields]
    if not any(r for _, r in reps):
        return df
    out = df.select(*[
        F.col(f.name).cast(r).alias(f.name) if r else F.col(f.name)
        for f, r in reps])
    # ckpt.release_result reads the hook off the RETURNED frame
    return carry_scope(out, df)


def _conf_hash(jsession) -> int:
    """Fingerprint of a session's SQL conf: one py4j call chain."""
    return jsession.sessionState().conf().getAllConfs().hashCode()


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query.  ``oracle`` is ANSI SQL DuckDB runs over the same
    parquet tables (pre-registered views); omit it only for genuinely
    non-SQL-expressible operators (the driver then records a weaker
    rows-only check).

    Every registered callable's result passes through ``_ntz_wire`` so
    no plan can leak an OS-timezone-sensitive LTZ column to the gate,
    and job-free builds are served from the session's plan memo (module
    docstring)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            js = spark._jsparkSession
            conf = _conf_hash(js)
            key = (js.sessionUUID(), os.path.abspath(sf_dir), name, conf)
            hit = _PLAN_MEMO.get(key)
            if hit is not None:
                return DataFrame(spark._jvm.org.apache.spark.sql.classic
                                 .Dataset.ofRows(js, hit[1]), spark)
            app = spark.sparkContext.applicationId
            for stale in [k for k, v in _PLAN_MEMO.items() if v[0] != app]:
                _PLAN_MEMO.pop(stale, None)
            first_job = jobs_submitted(spark)
            df = _ntz_wire(fn(spark, sf_dir))
            if (jobs_submitted(spark) == first_job and _conf_hash(js) == conf
                    and getattr(df, "_ckpt_scope", None) is None):
                _PLAN_MEMO[key] = (app, df._jdf.queryExecution().analyzed())
            return df

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
