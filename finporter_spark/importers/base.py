"""Importer plugin protocol: the Spark rebuild of the ``FINporter`` open class.

Reference: /root/reference/Sources/Core/FINporter.swift:22-82.
An importer declares identity (``name``/``id_``/``description``), the source
formats it can sniff, and the output schemas it can emit; it implements:

- ``detect(data_prefix)`` — from the first few KB decide which
  ``{schema: [formats]}`` apply (FINporter.swift:35-37). Driver-side: a
  prefix read never needs a Spark job.
- ``decode(spark, path, ...)`` — build a *lazy* DataFrame plan mapping the
  raw file onto one standardized entity schema, with rejected rows split to
  a quarantine DataFrame instead of aborting (FINporter.swift:39-49,
  ``rejectedRows``). Returns ``(decoded_df, rejected_df)``.
- ``export`` — inherited: the golden delimited/JSON sink
  (FINporter.swift:51-69) via :mod:`finporter_spark.encoder`.

Importer equality/hash is by ``(id_, formats, schemas)``
(FINporter.swift:71-82) so registries can dedup.
"""

from __future__ import annotations

from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from finporter_spark.encoder import export as _export
from finporter_spark.errors import NotImplementedError_
from finporter_spark.model import AllocFormat, AllocSchema, ENTITY_SCHEMAS

DetectResult = Mapping[AllocSchema, Sequence[AllocFormat]]


class Importer:
    """Abstract importer (FINporter.swift:22-49)."""

    name: str = "abstract"
    id_: str = "abstract"
    description: str = "abstract importer"
    source_formats: tuple[AllocFormat, ...] = ()
    output_schemas: tuple[AllocSchema, ...] = ()

    def detect(self, data_prefix: bytes) -> DetectResult:
        """Base impl throws, like FINporter.swift:35-37."""
        raise NotImplementedError_()

    def decode(
        self,
        spark: SparkSession,
        path: str,
        input_format: AllocFormat | None = None,
        output_schema: AllocSchema | None = None,
        def_time_of_day: str | None = None,
        time_zone: str | None = None,
        timestamp=None,
    ) -> tuple[DataFrame, DataFrame]:
        """``(decoded_df, rejected_df)`` as lazy plans. Decode launches no
        Spark job: anything it needs from the file (header names, format
        sniffs) comes from a driver-side read of the head of one file."""
        raise NotImplementedError_()

    def export(self, df: DataFrame, fmt: AllocFormat, schema: AllocSchema | None = None):
        columns = ENTITY_SCHEMAS[schema].names if schema is not None else None
        return _export(df, fmt, columns)

    # Identity semantics (FINporter.swift:71-82)
    def __eq__(self, other) -> bool:
        return (
            isinstance(other, Importer)
            and self.id_ == other.id_
            and tuple(self.source_formats) == tuple(other.source_formats)
            and tuple(self.output_schemas) == tuple(other.output_schemas)
        )

    def __hash__(self) -> int:
        return hash((self.id_, tuple(self.source_formats), tuple(self.output_schemas)))

    def __repr__(self) -> str:  # pragma: no cover
        return f"<Importer {self.id_}>"
