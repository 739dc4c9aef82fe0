"""Result-file reader — parity with ingestor_precinct.py:27-31,109-113.

The reference sniffs each file's delimiter with csv.Sniffer, reads every
file in the staging dir with ``na_values='Not Found'``, and unions by
column name (pandas concat aligns columns, filling missing with NaN).

Spark realization:
* The driver reads ONE line per file (``resolver.csv_header``): the
  sniffed delimiter and the column names, named by Spark's own header
  rule — O(#files), not O(data).
* Files sharing a delimiter AND a header are read in a single
  ``spark.read.csv`` call (one distributed scan per group, not per
  file).  Spark applies one header to every file of a call by position,
  so grouping by header is what keeps each file's columns aligned.
* The untyped read (``infer_schema=False``) hands the reader an
  all-string schema built from those names, so building it runs no
  Spark job; Spark would otherwise run one to re-read the header line.
* The cross-file union is ``unionByName(allowMissingColumns=True)`` —
  a zero-shuffle plan node; Spark concatenates partitions lazily.

At 100 TB the per-file header read is the only sequential step; it
touches ~one 4 KiB block per file and can be parallelized driver-side
with a thread pool if file counts reach millions.
"""

from __future__ import annotations

import glob
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from results_ingestor_spark.sources.resolver import (csv_header,
                                                     sniff_delimiter)

__all__ = ["NULL_SENTINEL", "read_result_files", "sniff_delimiter"]

NULL_SENTINEL = "Not Found"  # ingestor_precinct.py:112


def read_result_files(spark: SparkSession, paths: list[str] | str,
                      header: bool = True,
                      infer_schema: bool = True) -> DataFrame:
    """Read CSV/TSV result files → one DataFrame, aligned by column name.

    ``paths`` may be a glob, a directory, or an explicit list.

    ``infer_schema=False`` reads every column as string and skips the
    inference pass.  Inference costs a FULL eager scan of the input at
    plan-build time — callers that immediately cast to a known target
    schema (the canonicalize pipeline's ``align_schema``) get identical
    typed output without it, which at 100 TB is the difference between
    scanning the corpus once and twice.  The default stays True for
    exploratory parity with the reference's pandas ``read_csv``.
    """
    if isinstance(paths, str):
        if os.path.isdir(paths):
            files = sorted(glob.glob(os.path.join(paths, "*")))
        else:
            files = sorted(glob.glob(paths))
    else:
        files = list(paths)
    if not files:
        raise ValueError(f"no input files under {paths!r}")

    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    groups: dict[tuple[str, tuple[str, ...]], list[str]] = {}
    for f in files:
        groups.setdefault(
            csv_header(f, header, NULL_SENTINEL, case_sensitive), []
        ).append(f)

    frames = []
    for (sep, names), group in sorted(groups.items()):
        reader = spark.read.options(header=str(header).lower(), sep=sep,
                                    nullValue=NULL_SENTINEL)
        if infer_schema:
            reader = reader.option("inferSchema", "true")
        else:
            reader = reader.schema(StructType(
                [StructField(n, StringType()) for n in names]))
        frames.append(reader.csv(group))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
