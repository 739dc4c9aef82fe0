"""Spark 4 Python DataSource for election result files.

``spark.read.format("election_results").load(dir)`` — the reference's
ingest contract (ingestor_precinct.py:27-31,109-113: per-file delimiter
sniffing, ``Not Found`` → NULL, align-by-header union) packaged as a
first-class source instead of driver-side glue:

* **Planning** (driver): read ONE header line per file through
  ``resolver.csv_header`` — the built-in reader's rules: BOM dropped,
  delimiter sniffed, Spark's header naming — and collect the column
  union in first-seen order.  O(#files) driver work, ~one block per
  file.
* **Execution** (executors): one InputPartition per file; each task
  parses its own file with the stdlib csv reader and aligns rows to the
  unified schema, missing columns → NULL.  Scales with file count, no
  union plan nodes, no per-delimiter scan groups.

All columns surface as strings (the reference reads raw frames and maps/
casts downstream — operators/mapping.py, operators/align.py).  The
equivalent built-in-reader path is sources/csv_source.py; this source
exists for the many-small-files regime where per-(delimiter, header)
grouped scans and a driver-side unionByName fold stop being convenient.
"""

from __future__ import annotations

import csv
import glob
import os

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition,
                                    SimpleDataSourceStreamReader)
from pyspark.sql.types import StringType, StructField, StructType

from results_ingestor_spark.sources.csv_source import NULL_SENTINEL
from results_ingestor_spark.sources.resolver import csv_header


def _list_files(path: str) -> list[str]:
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*")))
    else:
        files = sorted(glob.glob(path))
    if not files:
        raise ValueError(f"election_results: no input files under {path!r}")
    return files


def _header(path: str) -> tuple[str, tuple[str, ...]]:
    """(delimiter, column names) by the built-in reader's rules
    (``resolver.csv_header``: BOM dropped, Spark's header naming; the
    source has no session conf, so names fold case as Spark's default
    ``spark.sql.caseSensitive=false`` does)."""
    return csv_header(path, True, NULL_SENTINEL, False)


def _columns(path: str) -> list[str]:
    """Unified header of the files under ``path`` (first-seen order)."""
    return list(dict.fromkeys(
        c for f in _list_files(path) for c in _header(f)[1]))


def _rows(files: list[str], columns: list[str]):
    """Every data row of ``files``, aligned to ``columns`` (a column a
    file lacks, or a ``Not Found`` cell, → None)."""
    for path in files:
        sep, header = _header(path)
        with open(path, encoding="utf-8-sig", errors="replace",
                  newline="") as fh:
            rows = csv.reader(fh, delimiter=sep)
            next(rows, None)
            for raw in rows:
                rec = dict(zip(header, raw))
                yield tuple(
                    None if (v := rec.get(c)) in (None, NULL_SENTINEL) else v
                    for c in columns)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class ElectionResultsReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._columns = [f.name for f in schema.fields]
        self._path = options.get("path")
        if not self._path:
            raise ValueError("election_results: .load(path) is required")

    def partitions(self) -> list[InputPartition]:
        return [_FilePartition(f) for f in _list_files(self._path)]

    def read(self, partition: _FilePartition):
        return _rows([partition.path], self._columns)


class ElectionResultsDataSource(DataSource):
    """format("election_results") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "election_results"

    def schema(self) -> StructType:
        return StructType([StructField(c, StringType(), True)
                           for c in _columns(self.options.get("path", ""))])

    def reader(self, schema: StructType) -> ElectionResultsReader:
        return ElectionResultsReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType):
        return ElectionResultsStreamReader(schema, self.options)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(ElectionResultsDataSource)


class ElectionResultsStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the source — the election-night loop as a
    first-class stream: each micro-batch picks up result files that
    LANDED since the last committed offset.  The offset is the sorted
    list of ingested file names (election dirs hold tens of files, so
    a name-list offset is small and human-debuggable in the checkpoint
    — the same trade the built-in file source makes in its log).

    Files are aligned to the schema fixed at stream start (new columns
    in late files would need a stream restart, like every Spark
    source); ``readBetweenOffsets`` replays a committed range exactly,
    which is what gives the checkpoint its exactly-once recovery.
    """

    def __init__(self, schema: StructType, options: dict):
        self._columns = [f.name for f in schema.fields]
        self._path = options.get("path")
        if not self._path:
            raise ValueError("election_results: .load(path) is required")

    def initialOffset(self) -> dict:
        return {"files": []}

    def read(self, start: dict):
        seen = set(start["files"])
        new = [f for f in _list_files(self._path) if f not in seen]
        end = {"files": sorted(seen | set(new))}
        # a LIST, not a generator: the engine prefetches and pickles
        # the batch driver-side (the simple-reader contract — meant for
        # low-volume control-plane streams like this file feed)
        return list(_rows(new, self._columns)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        delta = [f for f in end["files"] if f not in set(start["files"])]
        return list(_rows(delta, self._columns))
