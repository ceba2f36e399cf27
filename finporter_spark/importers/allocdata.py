"""Concrete importers completing the 7-entity transform surface.

The reference framework dispatches 7 standardized schemas
(``TransformHandler.swift:38-51``) but ships only the abstract importer;
the concrete brokerage importers live in sibling repos (``README.md:33-37``).
These two importers make every schema drivable end-to-end here:

- :class:`AllocDataImporter` — re-imports *standardized* AllocData
  CSV/TSV exports (the reference's own output format): detect matches the
  header row against a declared entity header, decode is typed casts +
  key validation with the rejected-row channel, export is the golden
  encoder. One importer, all 7 schemas.
- :class:`BrokerTransactionsImporter` — a transactions export lacking
  txn IDs, exercising surrogate-ID generation (``TxnIDGenerator.swift:
  28-33``) with per-file deterministic numbering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    TimestampType,
)

from finporter_spark.errors import TargetSchemaNotSupported
from finporter_spark.functions import (
    normalize_decode,
    parse_timestamp,
    with_transaction_ids_per_file,
)
from finporter_spark.importers.base import DetectResult, Importer
from finporter_spark.model import (
    AllocFormat,
    AllocSchema,
    ENTITY_KEYS,
    ENTITY_SCHEMAS,
)
from finporter_spark.sources import (
    CORRUPT_COL,
    quarantine_split,
    raw_schema,
    read_delimited,
    read_prefix,
)

# ISO8601 UTC with trailing Z — what the golden encoder emits
# (DelimitedEncoder.swift:30,130-131).
_ISO_FMT = "yyyy-MM-dd'T'HH:mm:ssXXX"

# header line (exact declared order, comma/tab joined) -> schema
_HEADERS: dict[AllocSchema, list[str]] = {
    schema: list(ENTITY_SCHEMAS[schema].names) for schema in AllocSchema
}


def _typed_column(
    name: str, dtype, def_time_of_day, time_zone, nullable: bool = True
) -> F.Column:
    c = F.col(name)
    if isinstance(dtype, StringType) and not nullable:
        # a required string key decodes the empty field to "" (Swift's
        # non-optional String, e.g. MHolding.lotID), never to null
        return F.coalesce(c, F.lit("")).alias(name)
    if isinstance(dtype, TimestampType):
        # accept the encoder's ISO-Z first, then fractional-seconds ISO
        # (Spark's own JSON sink and export(.JSON) emit
        # 2021-03-01T00:00:00.000Z — without this pattern a JSON
        # roundtrip silently nulls every timestamp), then zoneless ISO
        # (what a TIMESTAMP_NTZ source serializes to), then bare date
        # with default time-of-day/zone (decode params,
        # FINporter.swift:45-47)
        trimmed = F.nullif(F.trim(c), F.lit(""))
        return F.coalesce(
            F.try_to_timestamp(trimmed, F.lit(_ISO_FMT)),
            F.try_to_timestamp(
                trimmed, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
            ),
            F.try_to_timestamp(trimmed, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
            F.try_to_timestamp(trimmed, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSS")),
            parse_timestamp(c, "yyyy-MM-dd", def_time_of_day, time_zone),
        ).alias(name)
    if isinstance(dtype, DoubleType):
        return F.nullif(F.trim(c), F.lit("")).try_cast("double").alias(name)
    if isinstance(dtype, IntegerType):
        return F.nullif(F.trim(c), F.lit("")).try_cast("int").alias(name)
    if isinstance(dtype, BooleanType):
        return F.nullif(F.trim(c), F.lit("")).try_cast("boolean").alias(name)
    # strings: nil round-trips as the empty field (DelimitedEncoder.swift:138)
    return c.alias(name)


def typed_projection(
    schema: AllocSchema, def_time_of_day=None, time_zone=None
) -> list:
    """The entity's typed columns over a raw all-string parse, plus the
    corrupt-record channel: one decode definition for CSV, TSV, JSON and
    the file-drop stream."""
    return [
        _typed_column(f.name, f.dataType, def_time_of_day, time_zone, f.nullable)
        for f in ENTITY_SCHEMAS[schema].fields
    ] + [CORRUPT_COL]


def required_keys(schema: AllocSchema) -> list[str]:
    """Key columns a row must carry: the schema's non-nullable keys (the
    ``T(from:)`` validation step); nullable key parts like
    MTransaction.lotID may be absent without rejecting the row."""
    struct = ENTITY_SCHEMAS[schema]
    return [k for k in ENTITY_KEYS[schema] if not struct[k].nullable]


class AllocDataImporter(Importer):
    """Standardized AllocData table re-import — any of the 7 entities.

    Detect (FINporter.swift:35-37 contract): the first line must equal one
    entity's declared header. Because header order comes from declared
    attributes, not data (FINporter.swift:62,66), exact ordered match is
    the correct signature and cannot be ambiguous across schemas.
    """

    name = "AllocData"
    id_ = "allocdata"
    description = "Standardized AllocData CSV/TSV -> any entity schema"
    source_formats = (AllocFormat.CSV, AllocFormat.TSV)
    output_schemas = tuple(AllocSchema)

    def detect(self, data_prefix: bytes) -> DetectResult:
        text = normalize_decode(data_prefix)
        if text is None:
            return {}
        first = text.split("\n", 1)[0].strip()
        out: dict[AllocSchema, list[AllocFormat]] = {}
        for schema, names in _HEADERS.items():
            fmts = [
                fmt
                for fmt in (AllocFormat.CSV, AllocFormat.TSV)
                if first == fmt.delimiter.join(names)
            ]
            if fmts:
                out[schema] = fmts
        return out

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
        if output_schema is None:
            schema = self._sniff_schema(path)
        elif output_schema in self.output_schemas:
            schema = output_schema
        else:
            raise TargetSchemaNotSupported(self.output_schemas)
        fmt = input_format or AllocFormat.CSV
        if fmt is AllocFormat.JSON:
            # JSON lines (what FINporter.export(.JSON) array elements and
            # Spark's json sink both carry): read every field as string,
            # then the SAME typed projection as the delimited path.
            # FINporter.export(.JSON) writes one array (needs multiLine);
            # Spark's json sink writes JSON lines — sniff the first byte
            is_array = read_prefix(path, 64).lstrip()[:1] == b"["
            raw = (
                spark.read.option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", CORRUPT_COL)
                .option("multiLine", is_array)
                .schema(raw_schema(ENTITY_SCHEMAS[schema].names))
                .json(path)
            )
        else:
            raw = read_delimited(spark, path, fmt.delimiter or ",")
        typed = raw.select(
            *typed_projection(schema, def_time_of_day, time_zone)
        )
        return quarantine_split(typed, required_keys(schema))

    def _sniff_schema(self, path: str) -> AllocSchema:
        from finporter_spark.errors import DecodingError

        det = self.detect(read_prefix(path))
        if len(det) != 1:
            raise DecodingError("cannot infer entity schema from header")
        return next(iter(det))


_TXN_HEADER = "Date,Action,Symbol,Account,Shares,Price"


class BrokerTransactionsImporter(Importer):
    """Broker transactions export (no txn IDs) -> allocTransaction.

    Surrogate IDs are ``prefix + yyyyMMdd + %05d(rowNo)`` per
    ``TxnIDGenerator.swift:28-33``; numbering restarts per source file
    (the reference numbers rows within one file,
    ``TransformHandler.swift:113``) so ingest scales without a global
    sort barrier.
    """

    name = "BrokerTransactions"
    id_ = "brokertxn"
    description = "Broker transactions CSV (no IDs) -> transaction"
    source_formats = (AllocFormat.CSV,)
    output_schemas = (AllocSchema.TRANSACTION,)

    def detect(self, data_prefix: bytes) -> DetectResult:
        text = normalize_decode(data_prefix)
        if text is None or not text.split("\n", 1)[0].strip().startswith(
            _TXN_HEADER
        ):
            return {}
        return {AllocSchema.TRANSACTION: [AllocFormat.CSV]}

    def decode(
        self,
        spark: SparkSession,
        path: str,
        input_format: AllocFormat | None = None,
        output_schema: AllocSchema | None = None,
        def_time_of_day: str | None = None,
        time_zone: str | None = None,
        timestamp=None,
        id_prefix: str = "X",
    ) -> tuple[DataFrame, DataFrame]:
        if output_schema not in (None, AllocSchema.TRANSACTION):
            raise TargetSchemaNotSupported(self.output_schemas)
        raw = read_delimited(spark, path)
        typed = raw.select(
            F.upper("Action").alias("action"),
            parse_timestamp(
                F.col("Date"), "MM/dd/yyyy", def_time_of_day, time_zone
            ).alias("transactedAt"),
            F.col("Account").alias("accountID"),
            F.col("Symbol").alias("securityID"),
            F.lit("").alias("lotID"),
            F.nullif(F.trim("Shares"), F.lit("")).try_cast("double").alias(
                "shareCount"
            ),
            F.nullif(F.trim("Price"), F.lit("")).try_cast("double").alias(
                "sharePrice"
            ),
            F.lit(None).cast("double").alias("realizedGainShort"),
            F.lit(None).cast("double").alias("realizedGainLong"),
            CORRUPT_COL,
        )
        # validate BEFORE numbering: rejected rows must not consume
        # surrogate numbers (they'd leave gaps and make IDs depend on how
        # much garbage the file contained)
        good, bad = quarantine_split(
            typed,
            required_keys=[
                k for k in ENTITY_KEYS[AllocSchema.TRANSACTION] if k != "lotID"
            ],
        )
        with_ids = with_transaction_ids_per_file(
            good,
            F.lit(id_prefix),
            "transactedAt",
            order_by=["transactedAt", "securityID", "shareCount"],
        )
        return (
            with_ids.select(ENTITY_SCHEMAS[AllocSchema.TRANSACTION].names),
            bad,
        )
