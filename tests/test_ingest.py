"""End-to-end ingest-path tests over messy fixtures (FIXTURES.md A3)."""

from __future__ import annotations

import datetime
import os
import zipfile

import pytest

from results_ingestor_spark.operators.ingest import ingest_result_files
from results_ingestor_spark.operators.mapping import suggest_mapping
from results_ingestor_spark.schemas import CONTEST_PRECINCT_SCHEMA
from results_ingestor_spark.sources.csv_source import read_result_files, sniff_delimiter
from results_ingestor_spark.sources.staging import stage

CANONICAL = [f.name for f in CONTEST_PRECINCT_SCHEMA.fields]

COMMA_CSV = """\
Contest Name,County Name,Precinct,Choice,Choice Party,Election Day,One Stop,Absentee by Mail,Provisional,Total Votes,Winner
US SENATE,WAKE,P1,Smith,DEM,10,5,2,1,18,1
NC HOUSE OF REPRESENTATIVES DISTRICT 10,WAKE,P1,Jones,REP,Not Found,3,0,0,3,0
County Commissioner District B,DURHAM,ABSENTEE,Lee,LIB,4,4,1,0,9,0
"""

TAB_TSV = ("Contest Name\tCounty Name\tPrecinct\tChoice\tVote For\n"
           "SANITARY DISTRICT IV\tWAKE\tP2\tKim\t1\n"
           "DISTRICT COURT JUDGE DISTRICT 26\tDURHAM\tP3\tPark\t2\n")


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw")
    (d / "raw_precinct_comma.csv").write_text(COMMA_CSV)
    (d / "raw_precinct_tab.tsv").write_text(TAB_TSV)
    return str(d)


def test_sniff_delimiter(fixture_dir):
    assert sniff_delimiter(os.path.join(fixture_dir, "raw_precinct_comma.csv")) == ","
    assert sniff_delimiter(os.path.join(fixture_dir, "raw_precinct_tab.tsv")) == "\t"


def test_multi_file_union_and_null_sentinel(spark, fixture_dir):
    df = read_result_files(spark, fixture_dir)
    rows = df.collect()
    assert len(rows) == 5
    assert "Vote For" in df.columns  # union by name keeps tsv-only col
    by_choice = {r["Choice"]: r for r in rows}
    assert by_choice["Jones"]["Election Day"] is None   # 'Not Found' → NULL
    assert by_choice["Smith"]["Vote For"] is None       # missing col → NULL


def test_python_datasource_matches_builtin_reader(spark, fixture_dir):
    """format('election_results') — the Spark 4 Python DataSource — must
    produce exactly the rows the built-in-reader path produces (same
    union-by-header alignment, same NULL sentinel), with one partition
    per input file."""
    from results_ingestor_spark.sources import pyds
    pyds.register(spark)
    ds = spark.read.format("election_results").load(fixture_dir)
    builtin = read_result_files(spark, fixture_dir)
    assert set(ds.columns) == set(builtin.columns)
    cols = sorted(ds.columns)
    # builtin path infers types; the source is all-string by contract —
    # compare after casting builtin to string
    from pyspark.sql import functions as F
    b = builtin.select([F.col(c).cast("string").alias(c) for c in cols])
    d = ds.select(cols)
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    assert sorted(map(tuple, d.collect()), key=key) == \
        sorted(map(tuple, b.collect()), key=key)
    assert ds.rdd.getNumPartitions() == 2  # one per file


def test_python_datasource_reads_headers_like_builtin_reader(spark, tmp_path):
    """A UTF-8 BOM is dropped and header cells are named by Spark's rule
    (empty cell → ``_c<i>``) in the Python DataSource's batch AND
    streaming paths, exactly as ``read_result_files`` does."""
    from results_ingestor_spark.sources import pyds
    pyds.register(spark)
    src = tmp_path / "bom"
    src.mkdir()
    (src / "a.csv").write_bytes(
        "\ufeffCounty,Votes,\nWAKE,10,x\nDURHAM,Not Found,y\n".encode())
    builtin = read_result_files(spark, str(src), infer_schema=False)
    assert builtin.columns == ["County", "Votes", "_c2"]
    want = sorted(map(tuple, builtin.collect()), key=str)

    batch = spark.read.format("election_results").load(str(src))
    assert batch.columns == builtin.columns
    assert sorted(map(tuple, batch.collect()), key=str) == want

    sink = str(tmp_path / "bronze")
    q = (spark.readStream.format("election_results").load(str(src))
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    stream = spark.read.parquet(sink)
    assert stream.columns == builtin.columns
    assert sorted(map(tuple, stream.collect()), key=str) == want


def test_wratio_published_goldens():
    # Golden values from the published fuzzywuzzy docs/tests (difflib
    # backend, as it runs without python-Levenshtein) — the scorer the
    # reference calls at ingestor_precinct.py:126-129.
    from results_ingestor_spark.operators.mapping import wratio
    assert wratio("this is a test", "this is a test!") == 100
    assert wratio("fuzzy wuzzy was a bear", "wuzzy fuzzy was a bear") == 95
    assert wratio("", "anything") == 0
    assert wratio("county", "county_name") == 90          # partial window
    assert wratio("precinct", "precinct_code") == 90
    assert wratio("candidate", "choice") < 60             # forces fallback
    assert wratio("abc", "abc") == 100


def test_suggest_mapping_fixture_headers(spark, fixture_dir):
    df = read_result_files(spark, fixture_dir)
    m = suggest_mapping(df.columns, CANONICAL)
    assert m["Contest Name"] == "contest_name"
    assert m["County Name"] == "county"
    assert m["Choice"] == "candidate"          # candidate→choice fallback
    assert m["Election Day"] == "election_day"
    assert m["Absentee by Mail"] == "absentee_by_mail"
    assert m["Total Votes"] == "total_votes"
    assert m["One Stop"] == "one_stop"
    assert m["Provisional"] == "provisional"
    assert m["Precinct"] == "precinct"
    assert m["Vote For"] == "vote_for"


def test_end_to_end_ingest(spark, fixture_dir):
    df = read_result_files(spark, fixture_dir)
    mapping = suggest_mapping(df.columns, CANONICAL)
    # reference UI step: operator adds a constant-fill for election_date
    mapping["11/06/2012"] = "election_date"
    out = ingest_result_files(spark, fixture_dir, mapping)
    assert out.columns == CANONICAL  # canonical order, all 27 columns
    rows = {r["candidate"]: r for r in out.collect()}
    assert len(rows) == 5
    # constant-fill date parsed like pd.to_datetime('11/06/2012') → Nov 6
    assert rows["Smith"]["election_date"] == datetime.date(2012, 11, 6)
    # district extraction ran (no district column in the raw files)
    assert rows["Jones"]["contest_name"] == "NC HOUSE OF REPRESENTATIVES "
    assert rows["Jones"]["district"] == " 10"
    assert rows["Park"]["contest_name"] == "DISTRICT COURT JUDGE "
    assert rows["Park"]["district"] == " 26"
    assert rows["Smith"]["contest_name"] == "US SENATE"
    assert rows["Smith"]["district"] is None
    # types enforced by align_schema
    assert rows["Lee"]["election_day"] == 4
    assert rows["Kim"]["vote_for"] == 1
    # unmapped canonical columns exist as NULLs
    assert rows["Smith"]["nick_name"] is None


def test_zip_staging_roundtrip(spark, fixture_dir, tmp_path):
    bundle = tmp_path / "raw_bundle.zip"
    with zipfile.ZipFile(bundle, "w") as z:
        for name in ("raw_precinct_comma.csv", "raw_precinct_tab.tsv"):
            z.write(os.path.join(fixture_dir, name), name)
    staged = stage(f"file://{bundle}", str(tmp_path / "staged"))
    assert not os.path.exists(tmp_path / "staged" / "raw_bundle.zip")
    df = read_result_files(spark, staged)
    assert df.count() == 5


def test_corrupt_csv_rows_quarantined(spark, tmp_path):
    """Messy-CSV resilience (the reference's input reality): PERMISSIVE
    mode loads clean rows and quarantines malformed ones in
    _corrupt_record instead of failing the job; FAILFAST raises."""
    p = tmp_path / "messy.csv"
    p.write_text("a,b,c\n1,x,2\nBADLY \"QUOTED\" ,only\n3,y,4\n")
    schema = ("a INT, b STRING, c INT, _corrupt_record STRING")
    df = (spark.read.option("header", "true").option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .schema(schema).csv(str(p)))
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {(r["a"], r["c"]) for r in good} == {(1, 2), (3, 4)}
    assert len(bad) == 1
    import pytest as _pytest
    with _pytest.raises(Exception):
        (spark.read.option("header", "true").option("mode", "FAILFAST")
         .schema("a INT, b STRING, c INT").csv(str(p))).collect()


def test_python_datasource_streaming_incremental(spark, tmp_path):
    """readStream.format('election_results'): the election-night loop.
    Run 1 ingests the files present; a new file lands; run 2 on the
    SAME checkpoint ingests ONLY the new file — the name-list offset in
    the checkpoint gives the custom source the built-in file source's
    exactly-once recovery."""
    from results_ingestor_spark.sources import pyds
    pyds.register(spark)
    src = tmp_path / "landing"
    src.mkdir()
    (src / "a.csv").write_text(COMMA_CSV)
    (src / "b.tsv").write_text(TAB_TSV)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "bronze")

    def drain():
        q = (spark.readStream.format("election_results")
             .load(str(src))
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.read.parquet(sink).count()

    first = drain()
    batch_rows = (spark.read.format("election_results")
                  .load(str(src)).count())
    assert first == batch_rows  # both initial files ingested

    (src / "c.csv").write_text(COMMA_CSV)  # new results land
    second = drain()
    new_rows = COMMA_CSV.count("\n") - 1
    assert second == first + new_rows  # ONLY the new file's rows added
