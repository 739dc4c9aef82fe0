"""Registry mapping query names to (Spark callable, DuckDB oracle SQL)."""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from results_ingestor_spark.operators.ckpt import carry_scope

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


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


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query.  ``oracle`` is ANSI SQL DuckDB runs over the same
    parquet tables (pre-registered views); omit it only for genuinely
    non-SQL-expressible operators (the driver then records a weaker
    rows-only check).

    Every registered callable's result passes through ``_ntz_wire`` so
    no plan can leak an OS-timezone-sensitive LTZ column to the gate."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return _ntz_wire(fn(spark, sf_dir))

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
