"""Per-query profiler: split BUILD time (Python-side plan construction,
py4j traffic, any driver-side jobs the build itself runs — counts,
collects, GD iterations) from EXEC time (the noop-sink run of the built
plan).  Two timed repetitions after a warm pass, min reported, and
the Janino compiles of each repetition (``metrics.codegen_compiles``).
The repetitions run back to back, so an entry's few classes stay in
Spark's codegen cache: this hides cache thrash, which only interleaved
passes over the registry (bench.py, perfbench) show.

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
    from results_ingestor_spark.metrics import codegen_compiles
    from results_ingestor_spark.operators.ckpt import release_result
    from results_ingestor_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    qs = e.queries()
    names = sys.argv[1:] or [n for n in bench.HEADLINE if n in qs]

    # warm the session on the flagship
    qs["rollup_contest_county"](spark, sf_dir).write.format(
        "noop").mode("overwrite").save()

    out = {}
    for name in names:
        builds, execs, compiles = [], [], []
        for rep in range(3):  # rep 0 = warm pass, not timed
            c0 = codegen_compiles(spark)
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            release_result(df)
            compiles.append(codegen_compiles(spark) - c0)
            if rep:
                builds.append(t1 - t0)
                execs.append(t2 - t1)
        out[name] = {"build": round(min(builds), 3),
                     "exec": round(min(execs), 3),
                     "total": round(min(b + x for b, x in zip(builds, execs)), 3),
                     "compiles": compiles}
        print(f"{name}: build={out[name]['build']} exec={out[name]['exec']} "
              f"compiles={compiles}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
