"""``format("allocdata")`` — the detect+decode pipeline as a first-class
Spark 4 Python DataSource.

SURVEY §4 sketched "Detect-as-DataSource"; this is it: the driver-side
prefix sniff picks the entity schema (``FINporter.detect`` semantics,
FINporter.swift:35-37), then each input file becomes one InputPartition
parsed in Python workers — distributed, no whole-file driver read.

    spark.dataSource.register(AllocDataSource)
    df = spark.read.format("allocdata").load("/drops/holdings/")
    df = spark.read.format("allocdata").option("schema", "allocHolding")\
        .option("tod", "13:00:00").option("tz", "America/New_York").load(p)

Rows that fail typed decode yield nulls in the failed fields (the
PERMISSIVE contract); key-validation/quarantine stays a downstream filter
(sources.quarantine_split) so this source composes with the same
pipeline as the CSV path. Rows are plenty for drop-folder volumes and
keep the decode logic obvious (the finport source demonstrates the
Arrow-batch exchange path).
"""

from __future__ import annotations

import glob as _glob
import os
from datetime import datetime, timedelta, timezone
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructType,
    TimestampType,
)

from finporter_spark.model import AllocFormat, AllocSchema, ENTITY_SCHEMAS

try:
    from zoneinfo import ZoneInfo
except ImportError:  # pragma: no cover
    ZoneInfo = None


def _detect_schema(path: str) -> tuple[AllocSchema, list[str]]:
    """The entity whose CSV header the first file in ``path`` carries —
    ``AllocDataImporter.detect`` over the driver-side prefix."""
    from finporter_spark.importers.allocdata import AllocDataImporter
    from finporter_spark.sources import read_prefix

    prefix = read_prefix(path)
    for schema, fmts in AllocDataImporter().detect(prefix).items():
        if AllocFormat.CSV in fmts:
            return schema, _list_files(path)
    raise ValueError(f"no entity CSV header matches {prefix[:200]!r}")


def _list_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            p
            for p in _glob.glob(os.path.join(path, "*"))
            if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))
        )
    return [path]


def _coerce(value: str | None, dtype, nullable: bool, tod: str, tz: str | None):
    """One field: the same tolerant-decode semantics as the column
    expressions in importers.allocdata (empty -> null, bad parse -> null,
    required string -> '')."""
    if value is None or value == "":
        return "" if isinstance(dtype, StringType) and not nullable else None
    if isinstance(dtype, StringType):
        return value
    v = value.strip()
    if not v:
        return None
    try:
        if isinstance(dtype, DoubleType):
            return float(v)
        if isinstance(dtype, IntegerType):
            return int(v)
        if isinstance(dtype, BooleanType):
            return {"true": True, "false": False}.get(v.lower())
        if isinstance(dtype, TimestampType):
            return _parse_ts(v, tod, tz)
    except (ValueError, OverflowError):
        return None
    return None


def _parse_ts(v: str, tod: str, tz: str | None):
    for fmt in ("%Y-%m-%dT%H:%M:%S%z", "%Y-%m-%dT%H:%M:%S"):
        try:
            dt = datetime.strptime(v, fmt)
            if dt.tzinfo is not None:
                dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
            return dt
        except ValueError:
            pass
    try:
        d = datetime.strptime(v, "%Y-%m-%d")
    except ValueError:
        return None
    h, m, s = (int(x) for x in tod.split(":"))
    dt = d + timedelta(hours=h, minutes=m, seconds=s)
    if tz and ZoneInfo is not None:
        dt = dt.replace(tzinfo=ZoneInfo(tz)).astimezone(timezone.utc).replace(
            tzinfo=None
        )
    return dt


class AllocDataReader(DataSourceReader):
    def __init__(self, schema: StructType, files: list[str], options):
        self.schema = schema
        self.files = files
        self.tod = options.get("tod") or "00:00:00"
        self.tz = options.get("tz")

    def partitions(self):
        # one partition per dropped file — the reference's unit of work
        # (TransformHandler.swift:113: one file, one decode)
        return [InputPartition(f) for f in self.files]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        # golden-dialect parse (the drop files are produced by the
        # golden encoder: \" escapes, quote-on-delimiter) — csv.reader's
        # RFC doubling rules silently shift columns on fields containing
        # both a quote and the delimiter; _parse_golden is the exact
        # inverse of the encoder (see finport_datasource)
        from finporter_spark.sources.finport_datasource import (
            _parse_golden,
        )

        fields = self.schema.fields
        names = [f.name for f in fields]
        with open(partition.value, "r", newline="") as fh:
            text = fh.read()
        records, tail, open_q = _parse_golden(text)
        if open_q:
            raise ValueError(
                f"allocdata: {partition.value} ends inside an "
                "unterminated quoted field — truncated or malformed"
            )
        recs = [f for f, _ in records] + ([tail] if tail else [])
        if not recs:
            return
        header = recs[0]
        idx = {n: header.index(n) if n in header else None for n in names}
        for row in recs[1:]:
            yield tuple(
                _coerce(
                    row[idx[f.name]]
                    if idx[f.name] is not None and idx[f.name] < len(row)
                    else None,
                    f.dataType,
                    f.nullable,
                    self.tod,
                    self.tz,
                )
                for f in fields
            )


class AllocDataSource(DataSource):
    """Usage: ``spark.dataSource.register(AllocDataSource)`` then
    ``spark.read.format("allocdata").load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "allocdata"

    def _resolve(self) -> tuple[AllocSchema, list[str]]:
        path = self.options.get("path")
        if not path:
            raise ValueError("allocdata source requires a path")
        explicit = self.options.get("schema")
        if explicit:
            schema = AllocSchema(explicit)
            return schema, _list_files(path)
        return _detect_schema(path)

    def schema(self) -> StructType:
        schema, _files = self._resolve()
        return ENTITY_SCHEMAS[schema]

    def reader(self, schema: StructType) -> AllocDataReader:
        _schema, files = self._resolve()
        return AllocDataReader(schema, files, self.options)
