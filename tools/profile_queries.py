"""Per-query profiler: split BUILD time (Python-side plan construction,
py4j traffic, any driver-side jobs the build itself runs — counts,
collects, GD iterations) from EXEC time (the noop-sink run of the built
plan).  The build is reported twice: the FIRST build of the entry in the
session (a plan-memo miss) and the WARM build (min of two later ones: a
memo hit for a job-free entry, a full rebuild otherwise).  Each entry
also says whether its plan is memoized and, if not, why (jobs its build
ran, or a checkpoint scope on its result; ``plans/registry.py``).  Exec
is the min over the two warm runs, and the Janino compiles of each of
the three runs (``metrics.codegen_compiles``) are listed.  The runs are
back to back, so an entry's few classes stay in Spark's codegen cache:
this hides cache thrash, which only interleaved passes over the registry
(bench.py, perfbench) show.  ``gc`` is the driver JVM's garbage
collection over the entry's three runs (``metrics.jvm_gc``: young and
full collections and their ms, and the old generation's occupancy after
its last collection at the end), so a memory regression shows up as a
difference between two records.

Usage: python tools/profile_queries.py [name ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import bench
    import __spark_entry__ as e
    from results_ingestor_spark.metrics import (
        codegen_compiles, jobs_submitted, jvm_gc)
    from results_ingestor_spark.operators.ckpt import release_result
    from results_ingestor_spark.plans import registry
    from results_ingestor_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    qs = e.queries()
    names = sys.argv[1:] or [n for n in bench.HEADLINE if n in qs]

    # warm the session on the flagship, unwrapped so that its first
    # profiled build is still a memo miss
    qs["rollup_contest_county"].__wrapped__(spark, sf_dir).write.format(
        "noop").mode("overwrite").save()

    out = {}
    for name in names:
        builds, execs, compiles = [], [], []
        gc0 = jvm_gc(spark)
        for rep in range(3):  # rep 0 = the first build in the session
            c0 = codegen_compiles(spark)
            j0 = jobs_submitted(spark)
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            if rep == 0:
                jobs = jobs_submitted(spark) - j0
                scoped = getattr(df, "_ckpt_scope", None) is not None
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            release_result(df)
            compiles.append(codegen_compiles(spark) - c0)
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        gc1 = jvm_gc(spark)
        gc = {k: round(v - gc0[k] if k.endswith(("_count", "_ms")) else v, 1)
              for k, v in gc1.items()}
        base = os.path.abspath(sf_dir)
        memoized = any(k[1:3] == (base, name) for k in registry._PLAN_MEMO)
        why = ", ".join(([f"{jobs} build jobs"] if jobs else [])
                        + (["checkpoint scope"] if scoped else []))
        out[name] = {"first_build": round(builds[0], 3),
                     "warm_build": round(min(builds[1:]), 3),
                     "exec": round(min(execs[1:]), 3),
                     "total": round(min(b + x for b, x in
                                        zip(builds[1:], execs[1:])), 3),
                     "memoized": memoized,
                     "not_memoized_because": why or None,
                     "compiles": compiles,
                     "gc": gc}
        print(f"{name}: first_build={out[name]['first_build']} "
              f"warm_build={out[name]['warm_build']} exec={out[name]['exec']} "
              f"memoized={memoized}{f' ({why})' if why else ''} "
              f"compiles={compiles} gc={gc}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
