"""Driver-side schema resolution (sources/resolver.py): the schemas it
reads equal the ones Spark's readers infer, and loading tables or
building the untyped CSV ingest runs no Spark job."""

from __future__ import annotations

import os
import uuid

import pytest

from results_ingestor_spark.sources import tables
from results_ingestor_spark.sources.csv_source import (NULL_SENTINEL,
                                                       read_result_files)
from results_ingestor_spark.sources.resolver import parquet_schema
from results_ingestor_spark.sources.tables import TABLE_NAMES, load_tables

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PINNED = os.path.join(ROOT, "perfbench", "data", "sf0.01")


def _fresh_alias(tmp_path, sf_dir):
    """A new path to ``sf_dir``, so load_tables misses its cache."""
    alias = tmp_path / f"alias-{uuid.uuid4().hex[:8]}"
    alias.symlink_to(os.path.abspath(sf_dir), target_is_directory=True)
    return str(alias)


def _assert_parity(spark, corpus):
    for t in TABLE_NAMES:
        path = os.path.join(corpus, f"{t}.parquet")
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema, t


def test_parquet_schema_parity_sf_dir(spark, sf_dir):
    _assert_parity(spark, sf_dir)


def test_parquet_schema_parity_pinned_perfbench_corpus(spark):
    _assert_parity(spark, PINNED)


def test_parquet_schema_parity_lottery_draw(spark, sf_dir, tmp_path):
    from tools.gen_lottery_corpus import generate
    out = str(tmp_path / "lottery1")
    generate(sf_dir, out, 1)
    _assert_parity(spark, out)


def test_parquet_schema_parity_spark_written_directory(spark, sf_dir,
                                                       tmp_path):
    """A directory of part files with _SUCCESS and .crc siblings, with
    and without a partition column."""
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    flat, parted = str(tmp_path / "flat"), str(tmp_path / "parted")
    src.repartition(3).write.parquet(flat)
    src.write.partitionBy("o_orderstatus").parquet(parted)
    assert parquet_schema(spark, flat) == spark.read.parquet(flat).schema
    # the data columns only; the reader appends the partition column
    # from the paths, as it does after inference
    assert "o_orderstatus" not in parquet_schema(spark, parted).names
    assert (spark.read.schema(parquet_schema(spark, parted)).parquet(parted)
            .schema == spark.read.parquet(parted).schema)


def test_load_tables_in_non_utc_external_session(spark, sf_dir, tmp_path):
    """An external session in another timezone and without the parquet
    nanosAsLong conf: load_tables pins both before it reads the footers,
    so every table has the schema the inferring reader gives."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    loaded = load_tables(spark, _fresh_alias(tmp_path, sf_dir))
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    for t in TABLE_NAMES:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        if t == "events":
            inferred = tables._normalize_events(inferred)
        assert loaded[t].schema == inferred.schema, t


def test_load_tables_runs_no_job(spark, sf_dir, tmp_path, jobs_run):
    path = os.path.join(sf_dir, "orders.parquet")
    _, inferring = jobs_run(lambda: spark.read.parquet(path))
    assert inferring >= 1  # the counter sees the inference job it replaced
    loaded, jobs = jobs_run(
        lambda: load_tables(spark, _fresh_alias(tmp_path, sf_dir)))
    assert jobs == 0
    assert sorted(loaded) == sorted(TABLE_NAMES)


def test_table_cache_evicts_other_applications(spark, sf_dir, tmp_path):
    stale = ("app-stopped-0000", os.path.abspath(sf_dir), "orders")
    tables._TABLE_CACHE[stale] = None
    load_tables(spark, _fresh_alias(tmp_path, sf_dir), ("region",))
    app = spark.sparkContext.applicationId
    assert stale not in tables._TABLE_CACHE
    assert {k[0] for k in tables._TABLE_CACHE} == {app}


# ---- CSV --------------------------------------------------------------

CSV_CASES = {
    "dup_case": ("a.csv", "Votes,County,votes\n1,WAKE,2\n"),
    "empty_cell": ("a.csv", "County,,Votes\nWAKE,x,3\n"),
    "not_found_cell": ("a.csv", "County,Not Found,Votes\nWAKE,x,3\n"),
    "quoted_delim": ("a.csv", '"Votes, Total",County\n4,"DURHAM, NC"\n'),
    "tsv": ("a.tsv", "County\tTotal Votes\tParty\nWAKE\t5\tDEM\n"),
    "bom": ("a.csv", "\ufeffCounty,Votes\nWAKE,6\n"),
}


@pytest.mark.parametrize("case", sorted(CSV_CASES))
def test_csv_header_parity(spark, tmp_path, case):
    name, text = CSV_CASES[case]
    path = tmp_path / name
    path.write_bytes(text.encode("utf-8"))
    sep = "\t" if name.endswith(".tsv") else ","
    want = spark.read.options(header="true", sep=sep,
                              nullValue=NULL_SENTINEL).csv(str(path))
    got = read_result_files(spark, str(path), infer_schema=False)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_csv_columns_align_by_name_across_header_orders(spark, tmp_path):
    (tmp_path / "a.csv").write_text("County,Total Votes\nWAKE,10\n")
    (tmp_path / "b.csv").write_text("Total Votes,County\n20,DURHAM\n")
    for infer in (False, True):
        df = read_result_files(spark, str(tmp_path), infer_schema=infer)
        got = {(r["County"], str(r["Total Votes"])) for r in df.collect()}
        assert got == {("WAKE", "10"), ("DURHAM", "20")}, infer


def test_csv_ingest_build_runs_no_job(spark, tmp_path, jobs_run):
    """The untyped ingest build (the benchmark's csv_ingest: no district
    column, so extraction needs no trigger probe) runs no Spark job."""
    from results_ingestor_spark.operators.ingest import ingest_result_files
    header = ("Contest Name,County Name,Precinct,Choice,Choice Party,"
              "Election Day,One Stop,Absentee by Mail,Provisional,"
              "Total Votes,Winner\n")
    for i in range(2):
        (tmp_path / f"part-{i}.csv").write_text(
            header + f"US SENATE,WAKE,P{i},Smith,DEM,1,2,3,0,6,1\n")
    df, jobs = jobs_run(lambda: ingest_result_files(spark, str(tmp_path)))
    assert jobs == 0
    assert df.count() == 2
