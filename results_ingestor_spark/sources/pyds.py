"""Spark 4 Python DataSource for election result files.

``spark.read.format("election_results").load(dir)`` — the reference's
ingest contract (ingestor_precinct.py:27-31,109-113: per-file delimiter
sniffing, ``Not Found`` → NULL, align-by-header union) packaged as a
first-class source instead of driver-side glue:

* **Planning** (driver): read ONE header line per file — sniff the
  delimiter and collect the column union in first-seen order.  O(#files)
  driver work, ~one block per file.
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

from results_ingestor_spark.sources.csv_source import (NULL_SENTINEL,
                                                       sniff_delimiter)


def _list_files(path: str) -> list[str]:
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*")))
    else:
        files = sorted(glob.glob(path))
    if not files:
        raise ValueError(f"election_results: no input files under {path!r}")
    return files


def _plan(path: str) -> tuple[list[tuple[str, str]], list[str]]:
    """(file, delimiter) pairs + unified header (first-seen order)."""
    plan: list[tuple[str, str]] = []
    columns: list[str] = []
    seen: set[str] = set()
    for f in _list_files(path):
        sep = sniff_delimiter(f)
        plan.append((f, sep))
        with open(f, newline="") as fh:
            header = next(csv.reader(fh, delimiter=sep))
        for col in header:
            if col not in seen:
                seen.add(col)
                columns.append(col)
    return plan, columns


class _FilePartition(InputPartition):
    def __init__(self, path: str, sep: str):
        self.path = path
        self.sep = sep


class ElectionResultsReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._columns = [f.name for f in schema.fields]
        self._path = options.get("path")
        if not self._path:
            raise ValueError("election_results: .load(path) is required")

    def partitions(self) -> list[InputPartition]:
        plan, _ = _plan(self._path)
        return [_FilePartition(f, sep) for f, sep in plan]

    def read(self, partition: _FilePartition):
        with open(partition.path, newline="") as fh:
            rows = csv.reader(fh, delimiter=partition.sep)
            header = next(rows)
            for raw in rows:
                rec = dict(zip(header, raw))
                yield tuple(
                    None if (v := rec.get(c)) in (None, NULL_SENTINEL) else v
                    for c in self._columns)


class ElectionResultsDataSource(DataSource):
    """format("election_results") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "election_results"

    def schema(self) -> StructType:
        _, columns = _plan(self.options.get("path", ""))
        return StructType(
            [StructField(c, StringType(), True) for c in columns])

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

    def _rows_of(self, files: list[str]):
        for path in files:
            sep = sniff_delimiter(path)
            with open(path, newline="") as fh:
                rows = csv.reader(fh, delimiter=sep)
                header = next(rows)
                for raw in rows:
                    rec = dict(zip(header, raw))
                    yield tuple(
                        None if (v := rec.get(c)) in (None, NULL_SENTINEL)
                        else v
                        for c in self._columns)

    def read(self, start: dict):
        seen = set(start["files"])
        new = [f for f in _list_files(self._path) if f not in seen]
        end = {"files": sorted(seen | set(new))}
        # a LIST, not a generator: the engine prefetches and pickles
        # the batch driver-side (the simple-reader contract — meant for
        # low-volume control-plane streams like this file feed)
        return list(self._rows_of(new)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        delta = [f for f in end["files"] if f not in set(start["files"])]
        return list(self._rows_of(delta))
