"""Driver-side schema resolver for the engine's two at-rest file kinds.

The reference opens every result file on the driver: it sniffs the
delimiter, then reads the file with pandas (ingestor_precinct.py:102-113).
Spark's readers instead launch a job just to learn a schema: parquet
inference reads a footer in a task, and the CSV reader re-reads the
header line in a task.  Both facts are one small read away on the
driver, so this module reads them there and the readers get an explicit
schema — ``spark.read.schema(...)`` starts no job.

* Parquet (``parquet_schema``): the footer of the file Spark's own
  inference would touch with ``mergeSchema`` off (ParquetUtils: the
  first data file by path), converted by Spark's
  ``ParquetFileFormat.readSchemaFromFooter`` with a
  ``ParquetToSparkSchemaConverter`` built from the session's SQLConf.
  The types therefore match inference by construction: Spark's row
  metadata, NTZ timestamps and ``nanosAsLong`` longs included.  Like
  Spark with ``mergeSchema`` off, it assumes every part file of a
  directory shares that schema.
* CSV (``csv_header``): the first line, decoded as UTF-8 with any BOM
  dropped (Hadoop's LineRecordReader drops it too), sniffed for its
  delimiter and named by Spark's header rule (``safe_header``).
"""

from __future__ import annotations

import csv
import json
from collections import Counter

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The data schema ``spark.read.parquet(path)`` would infer, read
    from one footer on the driver.  ``path`` is a parquet file or a
    directory; partition columns are not in it (the reader adds them
    from the paths, as it does after inference)."""
    jvm = spark._jvm
    jsession = spark._jsparkSession
    hconf = jsession.sessionState().newHadoopConf()
    status = _footer_file(jvm.org.apache.hadoop.fs.Path(path), hconf)
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    meta = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
            status, hconf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS)
    footer = jvm.org.apache.parquet.hadoop.Footer(status.getPath(), meta)
    converter = pq.ParquetToSparkSchemaConverter(
        jsession.sessionState().conf())
    jschema = pq.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    return StructType.fromJson(json.loads(jschema.json()))


def _footer_file(path, hconf):
    """FileStatus of the file inference reads: the path itself, or the
    first data file under a directory in path order.  Hidden names
    (``_x`` other than partition dirs, ``.x``, ``*._COPYING_``) are
    skipped as Spark's file index skips them.  Summary files
    (``_metadata``), which inference would prefer, are not looked for:
    Spark has not written them by default since 2.0."""
    fs = path.getFileSystem(hconf)
    status = fs.getFileStatus(path)
    if not status.isDirectory():
        return status
    data, dirs = {}, [status]
    while dirs:
        for child in fs.listStatus(dirs.pop().getPath()):
            name = child.getPath().getName()
            if ((name.startswith("_") and "=" not in name)
                    or name.startswith(".") or name.endswith("._COPYING_")):
                continue
            if child.isDirectory():
                dirs.append(child)
            else:
                data[child.getPath().toString()] = child
    if not data:
        raise FileNotFoundError(
            f"no parquet data file under {path.toString()!r}: "
            "unable to infer its schema")
    return data[min(data)]


def first_line(path: str) -> str:
    """The file's first line as Spark's text reader sees it: UTF-8,
    undecodable bytes replaced, a leading BOM dropped."""
    with open(path, encoding="utf-8-sig", errors="replace", newline="") as f:
        return f.readline()


def sniff_delimiter(path: str) -> str:
    """csv.Sniffer on the first line — parity with ingestor_precinct.py:27-31."""
    return csv.Sniffer().sniff(first_line(path)).delimiter


def csv_header(path: str, header: bool, null_value: str,
               case_sensitive: bool) -> tuple[str, tuple[str, ...]]:
    """(delimiter, column names) of one CSV file, from its first line.
    Names follow ``safe_header``; with ``header=False`` they are the
    positional ``_c0 .. _cN-1`` Spark assigns."""
    line = first_line(path)
    sep = csv.Sniffer().sniff(line).delimiter
    cells = next(csv.reader([line], delimiter=sep, quotechar='"'), [])
    if not header:
        return sep, tuple(f"_c{i}" for i in range(len(cells)))
    return sep, tuple(safe_header(cells, null_value, case_sensitive))


def safe_header(cells: list[str], null_value: str,
                case_sensitive: bool) -> list[str]:
    """Spark's header naming rule (CSVUtils.makeSafeHeader): an empty or
    ``null_value`` cell becomes ``_c<index>``; a name that occurs more
    than once (case-folded unless ``spark.sql.caseSensitive``) gets its
    index appended; every other name is kept as is.  Spark's parser has
    already turned an empty cell into ``null_value`` when it counts, so
    that is what an empty cell counts as here."""
    fold = (lambda s: s) if case_sensitive else str.lower
    seen = Counter(fold(c or null_value) for c in cells)
    return [f"_c{i}" if c in ("", null_value)
            else f"{c}{i}" if seen[fold(c)] > 1
            else c
            for i, c in enumerate(cells)]
