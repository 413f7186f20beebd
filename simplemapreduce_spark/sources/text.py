"""Text-file sources reproducing the reference's input surface.

The reference reads each input file fully into memory and hands
``(filename, contents)`` to the user map function
(/root/reference/src/common/common_map.go:59-71). Spark equivalents:

* line-oriented: ``spark.read.text`` — distributed, splittable; the
  right default for large corpora.
* whole-file contract: ``spark.read.text(path, wholetext=True)`` — one
  row per file, read by the JVM file scan with no Python stage, and the
  file name taken from the scan's ``_metadata.file_path``. It yields
  the same ``(filename, contents)`` pairs as ``SparkContext.wholeTextFiles``:
  the same ``file:/dir/name`` spelling, invalid UTF-8 decoded to U+FFFD,
  and zero-length files kept as ``(filename, "")``. Each file is one
  non-splittable row, so this is for many-small-files layouts (which is
  precisely the reference's model: one map task per file,
  /root/reference/src/mapreduce/master.go:40).
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WHOLE_FILE_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),
        T.StructField("contents", T.StringType(), True),
    ]
)


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """One row per line, column ``value: string`` (splittable scan)."""
    return spark.read.text(path)


def read_whole_files(spark: SparkSession, path: str) -> DataFrame:
    """One row per file: ``(filename, contents)`` — the exact shape the
    reference's mapF consumes."""
    # ``wholetext`` must be the keyword: text() passes its own default
    # for it, which overrides an ``.option("wholetext", ...)``.
    scan = spark.read.text(path, wholetext=True)
    # file_path is a URI-escaped string; url_decode also maps '+' to a
    # space, so a literal '+' is escaped first.
    escaped = F.replace(F.col("_metadata.file_path"), F.lit("+"), F.lit("%2B"))
    files = scan.select(F.url_decode(escaped).alias("filename"), F.col("value").alias("contents"))
    # File scans skip zero-length files; wholeTextFiles returns them.
    empty = [(name, "") for name in _zero_length_files(spark, scan.inputFiles())]
    return files.unionByName(spark.createDataFrame(empty, WHOLE_FILE_SCHEMA)) if empty else files


def _zero_length_files(spark: SparkSession, uris: list[str]) -> list[str]:
    """Names, spelled as the scan's decoded ``file_path``, of the listed
    files that are empty."""
    out = []
    for uri in uris:
        # Local files are stat'ed directly: the Hadoop FileSystem calls
        # below cost ~2 ms of py4j round trips per file.
        parts = urlsplit(uri)
        if parts.scheme == "file":
            path = unquote(parts.path)
            if os.path.getsize(path) == 0:
                out.append("file:" + path)
            continue
        jvm = spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(uri))
        if p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).getFileStatus(p).getLen() == 0:
            out.append(p.toString())
    return out
