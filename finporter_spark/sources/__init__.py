"""Sources & sinks (SURVEY §2B S1-S7): permissive scans with a
corrupt-record channel, prefix reads for detect, and quarantine splitting.

Scale notes: all readers return lazy scans; ``read_prefix`` and the header
read behind ``read_delimited`` touch only the head of one file on the
driver, so neither detect nor decode launches a job. Quarantine split is
two filters over one cached scan — no shuffle.
"""

from __future__ import annotations

import os
from collections import Counter
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def _sniffed_file(path: str) -> str:
    """The file detect sniffs: ``path`` itself, or the first visible file
    of a directory (file-drop folder)."""
    if not os.path.isdir(path):
        return path
    names = sorted(
        n
        for n in os.listdir(path)
        if not n.startswith(("_", "."))
        and os.path.isfile(os.path.join(path, n))
    )
    if not names:
        raise FileNotFoundError(f"no files to sniff in {path}")
    return os.path.join(path, names[0])


def read_prefix(path: str, n_bytes: int = 4096) -> bytes:
    """Driver-side prefix read for detect (DetectHandler.swift:25-26 reads
    the whole file; we read only the sniffing prefix — same contract as
    ``detect(dataPrefix:)``, FINporter.swift:33-35)."""
    with open(_sniffed_file(path), "rb") as f:
        return f.read(n_bytes)


def raw_schema(names: Sequence[str]) -> StructType:
    """The raw shape every decode parses into: one nullable string field
    per name, then the corrupt-record channel."""
    return StructType(
        [StructField(n, StringType(), True) for n in names]
        + [StructField(CORRUPT_COL, StringType(), True)]
    )


def _header_names(line: str, sep: str) -> list[str]:
    """Column names from a header line, as Spark's CSV reader names them.

    Split: ``"`` quotes, ``\\`` escapes a quote or itself inside quotes,
    blanks after a closing quote are dropped, and a quoted field with text
    after its closing quote becomes the opening quote, the unescaped text
    and the rest verbatim. Then ``CSVUtils.makeSafeHeader``
    (case-insensitive): an empty name becomes ``_c<i>``, a name repeated
    in any case ``<name><i>``."""
    names, i = [], 0
    while True:
        quoted, j = line.startswith('"', i), i
        if quoted:
            buf, j = [], i + 1
            while j < len(line) and line[j] != '"':
                j += line[j] == "\\" and line[j + 1 : j + 2] in ('"', "\\")
                buf.append(line[j])
                j += 1
        end = line.find(sep, j)
        end = len(line) if end < 0 else end
        if not quoted:
            names.append(line[i:end])
        elif line[j + 1 : end].strip():
            names.append('"' + "".join(buf) + line[j:end])
        else:
            names.append("".join(buf))
        if end == len(line):
            break
        i = end + 1
    counts = Counter(n.lower() for n in names)
    return [
        f"_c{k}" if not n else f"{n}{k}" if counts[n.lower()] > 1 else n
        for k, n in enumerate(names)
    ]


def read_delimited(
    spark: SparkSession, path: str, delimiter: str = ","
) -> DataFrame:
    """Permissive all-string CSV/TSV scan with the corrupt-record side
    channel (S1/S2). The column names come from the first non-blank line
    of the file detect sniffs, read on the driver: no Spark job runs.
    Files with brokerage preambles go through ``from_csv`` over
    ``spark.read.text`` instead (see importers.tabular)."""
    with open(_sniffed_file(path), encoding="utf-8-sig", errors="replace") as f:
        first = next((line for line in f if line.strip()), "")
    names = _header_names(first.rstrip("\n"), delimiter) if first else []
    return scan_delimited(spark.read, path, names, delimiter)


def scan_delimited(reader, path: str, names: Sequence[str], delimiter: str = ","):
    """``reader`` (``spark.read`` or ``spark.readStream``) over a headered
    CSV/TSV path, parsed into ``raw_schema(names)``."""
    return (
        reader.schema(raw_schema(names))
        .option("header", True)
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def read_binary(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal/binary file scan (L5): path, modificationTime, length,
    content columns; pushdown-friendly `pathGlobFilter`."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def rejected(required_keys: Sequence[str]) -> Column:
    """The reject rule of every decode, batch and stream: the parser
    flagged the row corrupt OR a required key column is null (the
    ``T(from: row)`` validation step, TransformHandler.swift:125)."""
    cond = F.col(CORRUPT_COL).isNotNull()
    for k in required_keys:
        cond = cond | F.col(k).isNull()
    return cond


def quarantine_split(
    df: DataFrame, required_keys: Sequence[str] = ()
) -> tuple[DataFrame, DataFrame]:
    """Split good rows from rejects (S7; decode's ``rejectedRows`` channel,
    FINporter.swift:41) by :func:`rejected`: two filters over the same
    scan, the good side without the corrupt-record column.

    The parse is cached first: Spark refuses queries that reference only
    the corrupt column of a raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN),
    and the rejected side is exactly such a query after column pruning.
    At ingest scale the cache is per-file-decode sized; persist via
    ``write_quarantine`` for audit.

    Both returned frames are tagged with the cache (caching.owns_cache);
    call ``caching.release_caches(good, bad)`` once materialized —
    handle_transform does, so CLI-shaped use never accumulates caches.
    """
    from finporter_spark.caching import owns_cache

    cached = df.cache()
    cond = rejected(required_keys)
    good = cached.filter(~cond).drop(CORRUPT_COL)
    bad = cached.filter(cond)
    owns_cache(good, cached)
    owns_cache(bad, cached)
    return good, bad


def write_quarantine(bad: DataFrame, path: str) -> None:
    """Quarantine sink: rejected rows persisted for audit (S7)."""
    bad.write.mode("overwrite").parquet(path)


def write_partitioned_by_day(
    df: DataFrame, path: str, ts_col: str, fmt: str = "parquet"
) -> None:
    """Date-partitioned sink: the ingest layout that makes time-ranged
    scans prune at the directory level (PartitionFilters in the scan, no
    footer reads outside the range) — the default layout for any
    append-only 100 TB event/transaction table."""
    (
        df.withColumn("_day", F.to_date(F.col(ts_col)))
        .write.mode("overwrite")
        .partitionBy("_day")
        .format(fmt)
        .save(path)
    )
