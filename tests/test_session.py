"""The session factory's host-derived defaults and its codegen cache."""

from __future__ import annotations

from results_ingestor_spark.session import (
    CODEGEN_CACHE_ENTRIES, default_driver_memory)

GIB = 2**30


def test_driver_memory_is_24g_capped_at_half_of_ram():
    assert default_driver_memory(128 * GIB) == "24576m"  # 24g
    assert default_driver_memory(48 * GIB) == "24576m"
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(4 * GIB) == "2048m"


def test_driver_memory_default_fits_the_host():
    import os
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = int(default_driver_memory()[:-1])
    assert mib <= 24 * 1024 and mib * 2**20 <= phys // 2


# Entries whose generated classes are the same code on every build
# (measured at sf0.001: 0 compiles on every warm pass; q21,
# search_rrf_hybrid and embedding_covariance recompile a few classes per
# pass, so they are left out); together ~140 distinct classes, more than
# Spark's default 100-entry codegen cache.
_CODEGEN_SET = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "window_rank_orders", "events_tumbling_hour",
    "dedup_minhash_lsh", "dedup_cdc_chunks", "rollup_contest_county",
)


def test_interleaved_pass_reuses_every_generated_class(spark, sf_dir):
    """A second interleaved pass compiles nothing: the codegen cache
    holds the whole working set.  With Spark's default 100 entries the
    pass evicts each class before its next use and the second pass
    recompiles ~134 classes."""
    from results_ingestor_spark.metrics import codegen_compiles
    from results_ingestor_spark.operators.ckpt import release_result
    from results_ingestor_spark.plans import QUERIES

    assert spark.sparkContext.getConf().get(
        "spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)

    def run_pass() -> int:
        before = codegen_compiles(spark)
        for name in _CODEGEN_SET:
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            release_result(df)
        return codegen_compiles(spark) - before

    run_pass()  # cold, or partly cached by earlier tests
    assert run_pass() == 0


def test_call_site_capture_is_off(spark):
    from pyspark.errors.utils import is_debugging_enabled
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_python_workers_import_the_package_outside_the_repo(sf_dir,
                                                           tmp_path):
    """A driver that puts the repository on ``sys.path`` but runs from
    another directory, with no ``PYTHONPATH``: the mapInPandas and
    pandas-UDF entries still find the package in their Python workers."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from results_ingestor_spark.session import get_spark\n"
        "from results_ingestor_spark.plans import QUERIES\n"
        "spark = get_spark('workers', master='local[2]')\n"
        "for q in ('multimodal_resize', 'unigram_lm_tokenize_docs'):\n"
        f"    print(q, QUERIES[q](spark, {os.path.abspath(sf_dir)!r}).count())\n"
        "spark.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    done = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    assert "ModuleNotFoundError" not in done.stderr
