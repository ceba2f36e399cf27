from finporter_spark.importers.base import DetectResult, Importer
from finporter_spark.importers.prospector import (
    Prospector,
    ProspectResult,
    default_prospector,
)
from finporter_spark.importers.tabular import PositionsImporter

__all__ = [
    "Importer",
    "DetectResult",
    "Prospector",
    "ProspectResult",
    "PositionsImporter",
    "default_prospector",
]
