"""Decode builds lazy plans: no Spark job runs until the caller acts.

The header names that ``read_delimited`` reads on the driver must be the
names Spark's own CSV header inference would give, so the by-name typed
projection maps every column exactly as an inferred header would.
"""

from __future__ import annotations

import uuid

import pytest

from finporter_spark.importers import default_prospector
from finporter_spark.importers.allocdata import (
    AllocDataImporter,
    BrokerTransactionsImporter,
)
from finporter_spark.importers.tabular import PositionsImporter
from finporter_spark.model import AllocFormat, AllocSchema
from finporter_spark.sources import CORRUPT_COL, read_delimited

HOLDINGS = (
    "accountID,securityID,lotID,shareCount,shareBasis,acquiredAt\n"
    "acc1,VTI,,10.25,175.5,2021-03-01T00:00:00Z\n"
    "acc1,BND,lot9,5.0,85.25,2020-10-31T00:00:00Z\n"
)
BROKER = (
    "Date,Action,Symbol,Account,Shares,Price\n"
    "03/01/2021,buy,VTI,acc1,3,220.10\n"
)
POSITIONS = (
    '"Positions"\n\n"Individual Something   abcd-1234"\n'
    "Symbol,Description,Qty,Price,Mkt Val,Cost Basis,Date Acquired\n"
    "VTI,Total Stock,10.25,220.10,2256.03,1800.00,03/01/2021\n"
)


def _jobs_launched(spark, fn) -> list[int]:
    """Spark job ids started while ``fn`` runs, via a private job group."""
    sc = spark.sparkContext
    group = f"decode-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "decode laziness probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _decode_cases(tmp_path):
    (tmp_path / "h.csv").write_text(HOLDINGS)
    (tmp_path / "h.tsv").write_text(HOLDINGS.replace(",", "\t"))
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "a.csv").write_text(HOLDINGS)
    (drop / "b.csv").write_text(HOLDINGS)
    (tmp_path / "broker.csv").write_text(BROKER)
    (tmp_path / "positions.csv").write_text(POSITIONS)
    alloc = AllocDataImporter()
    return {
        "allocdata_csv": lambda s: alloc.decode(s, str(tmp_path / "h.csv")),
        "allocdata_tsv": lambda s: alloc.decode(
            s,
            str(tmp_path / "h.tsv"),
            input_format=AllocFormat.TSV,
            output_schema=AllocSchema.HOLDING,
        ),
        "allocdata_dir": lambda s: alloc.decode(s, str(drop)),
        "broker": lambda s: BrokerTransactionsImporter().decode(
            s, str(tmp_path / "broker.csv")
        ),
        "positions": lambda s: PositionsImporter().decode(
            s, str(tmp_path / "positions.csv")
        ),
    }


@pytest.mark.parametrize(
    "case",
    ["allocdata_csv", "allocdata_tsv", "allocdata_dir", "broker", "positions"],
)
def test_decode_launches_no_spark_job(spark, tmp_path, case):
    decode = _decode_cases(tmp_path)[case]
    out = []
    assert _jobs_launched(spark, lambda: out.append(decode(spark))) == []
    good, _bad = out[0]
    # the probe does see jobs: acting on the plan launches them
    assert _jobs_launched(spark, good.count) != []
    assert good.count() > 0


# header lines Spark's CSV reader names in non-obvious ways: empty and
# duplicate names, quoting, escapes, stray quotes, CR line ends, a BOM,
# leading blank lines
HEADERS = [
    ("a,b,c\n1,2,3\n", ","),
    ("a,,c\n", ","),
    ("a,b,a\n", ","),
    ("a,B,b,A\n", ","),
    ("a,b,\n", ","),
    (",\n", ","),
    ("a,a1,a\n", ","),
    ('"a,b",c\n', ","),
    ('"a\\"b",c\n', ","),
    ('"a\\\\",b\n', ","),
    ('"a\\\\"b",c\n', ","),
    ('"a""b",c\n', ","),
    ('"a,""b""",c\n', ","),
    ('"ab"c,d\n', ","),
    ('"a"  ,b\n', ","),
    ('  "a",b\n', ","),
    ('a"b,c\n', ","),
    ('a,"b",c"\n', ","),
    ("a\\,b\n", ","),
    (' a , b \n', ","),
    ('"",b\n', ","),
    ('"a,b\n', ","),
    ('"a\nb",c\n', ","),
    ("a,b\r\n1,2\r\n", ","),
    ("a,b\r1,2\r", ","),
    ("\ufeffa,b\n", ","),
    ("\n\na,b\n1,2\n", ","),
    ("x" * 5000 + ",y\n", ","),
    ("a\tb\tb\n", "\t"),
    ("a\t\tc\n", "\t"),
    ('"a\tb"\tc\n', "\t"),
]


def test_header_names_match_spark_inference(spark, tmp_path):
    for i, (text, sep) in enumerate(HEADERS):
        p = tmp_path / f"h{i}.csv"
        p.write_bytes(text.encode())
        want = (
            spark.read.option("header", True).option("sep", sep).csv(str(p))
        ).columns
        got = read_delimited(spark, str(p), sep).columns
        assert got == want + [CORRUPT_COL], (text[:40], sep)


def test_package_registry_detects_every_builtin_importer(tmp_path):
    pros = default_prospector()
    alloc = pros.prospect(HOLDINGS.encode())
    broker = pros.prospect(BROKER.encode())
    assert {imp.id_: dict(det) for imp, det in alloc.items()} == {
        "allocdata": {AllocSchema.HOLDING: [AllocFormat.CSV]}
    }
    assert {imp.id_: dict(det) for imp, det in broker.items()} == {
        "brokertxn": {AllocSchema.TRANSACTION: [AllocFormat.CSV]}
    }
