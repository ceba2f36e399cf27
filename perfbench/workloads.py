"""The workloads: what one op is, how it runs, and how it is checked.

Every workload is a fixed mix of op kinds; one pass runs each op of the
mix once, in a seeded order. The harness (run.py) times ops one at a
time from a single driver thread (closed loop, one client) and calls
``check`` on every result outside the timed span.

The program is reached only through its public functions, looked up on
the module at call time so that the traced run can wrap them.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
from dataclasses import dataclass, field

import gen

# The catalog set, one entry per family: relational, iterative graph
# rounds (connected components), finance and Python UDF. None of these
# stages state under the program's shared IO root.
CATALOG_ENTRIES = [
    "q1_pricing_summary", "l30_chain_components", "f2_fifo_realized_gains",
    "u1_pandas_scalar",
]
CATALOG_SF = 0.01


@dataclass
class Op:
    kind: str
    rows_in: int
    payload: object = None
    # filled by the harness
    seq: int = 0
    groups: list[str] = field(default_factory=list)  # Spark job groups
    ms: float = 0.0
    cpu_ms: float = 0.0  # CPU of the driver, the JVM and its workers
    traced: bool = False
    problems: list[str] = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    progress: list | None = None  # a stream drain's progress reports
    spark: bool = True  # False for a file that fails detect, before Spark


def load_tool(root: str, name: str):
    """Import one of the repository's own ``tools/`` scripts by path."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        f"_perfbench_{name}", os.path.join(root, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Ingest:
    """The FINporter path, in three op families that share its layers.

    - ``file``: ``handle_detect`` + ``handle_transform`` on one small
      broker file, the CLI/file-drop shape (collect path to the driver).
    - ``batch``: one entity of the bulk drop through ``decode`` -> text
      sink -> reject count -> ``release_caches`` (write path to disk).
    - ``stream``: one availableNow ``stream_transform`` drain of a large
      entity, fresh checkpoint per drain.
    """

    name = "ingest"
    STREAMED = ("allocHolding",)

    def __init__(self, seed: int, io_dir: str, root: str):
        self.seed, self.io, self.root = seed, io_dir, root
        self.sets: list[list[gen.DropFile]] = []
        self.drains = 0
        self.last_stream: dict[str, str] = {}

    def generate(self, n_passes: int) -> None:
        rng = random.Random(self.seed)
        for k in range(n_passes):
            files = gen.gen_drop_pass(rng, f"s{self.seed}p{k}")
            gen.write_drop_files(files, os.path.join(self.io, f"drop{k}"))
            self.sets.append(files)
        self.entities = gen.gen_bulk(self.seed, os.path.join(self.io, "in"))

    def registry(self, spark) -> None:
        from finporter_spark.importers.allocdata import AllocDataImporter
        from finporter_spark.importers.prospector import default_prospector
        from finporter_spark.model import AllocSchema

        self.prospector = default_prospector()
        self.importer = AllocDataImporter()
        self.schemas = {s.value: s for s in AllocSchema}

    def warmup_ops(self) -> list[Op]:
        return self.ops(0)

    def ops(self, k: int) -> list[Op]:
        ops = [
            Op(f"file:{f.kind}", f.rows_in, f,
               spark=f.kind not in ("empty", "unknown"))
            for f in self.sets[k % len(self.sets)]
        ]
        ops += [
            Op(f"batch:{e}", be.rows_in, be) for e, be in self.entities.items()
        ]
        ops += [
            Op(f"stream:{e}", self.entities[e].rows_in, self.entities[e])
            for e in self.STREAMED
        ]
        random.Random(self.seed * 1009 + k).shuffle(ops)
        return ops

    def run(self, spark, op: Op):
        from finporter_spark import caching, encoder, errors, handlers, streaming
        from finporter_spark.model import ENTITY_SCHEMAS

        family = op.kind.split(":", 1)[0]
        if family == "file":
            f = op.payload
            report = handlers.handle_detect(self.prospector, f.path)
            try:
                out = handlers.handle_transform(spark, self.prospector, f.path)
            except errors.FINporterError as e:
                return report, None, type(e).__name__
            return report, out, None
        be = op.payload
        schema = self.schemas[be.entity]
        if family == "stream":
            self.drains += 1
            out = os.path.join(self.io, "stream", f"{be.entity}-{self.drains}")
            q = streaming.stream_transform(
                spark, be.path, out,
                os.path.join(self.io, "ckpt", f"{be.entity}-{self.drains}"),
                schema,
            )
            q.awaitTermination()
            return out, q
        out = os.path.join(self.io, "batch", be.entity)
        good, bad = self.importer.decode(spark, be.path, output_schema=schema)
        encoder.write_delimited(good, out, ",", ENTITY_SCHEMAS[schema].names)
        n_bad = count_rejects(bad)
        caching.release_caches(good, bad)
        return out, n_bad

    def check(self, op: Op, result) -> list[str]:
        family = op.kind.split(":", 1)[0]
        if family == "file":
            return self._check_file(op.payload, *result)
        be, (out, extra) = op.payload, result
        problems = []
        n = count_lines(out)
        if n != be.rows_good:
            problems.append(f"{op.kind}: {n} output rows != {be.rows_good}")
        if family == "batch" and extra != be.rows_rejected:
            problems.append(f"{op.kind}: {extra} rejects != {be.rows_rejected}")
        if family == "stream":
            if extra.exception() is not None:
                problems.append(f"{op.kind}: {extra.exception()}")
            prev = self.last_stream.get(be.entity)
            self.last_stream[be.entity] = out
            if prev:  # keep only the newest drain on disk
                shutil.rmtree(prev, ignore_errors=True)
                shutil.rmtree(prev.replace("stream", "ckpt"), ignore_errors=True)
        return problems

    @staticmethod
    def _check_file(f: gen.DropFile, report, out, err) -> list[str]:
        """Detect report, taxonomy error, header, row count, and the bytes
        against the generator's own golden rendering."""
        problems = []
        if report != f.detect:
            problems.append(f"{f.name}: detect {report} != {f.detect}")
        if err != f.error:
            problems.append(f"{f.name}: error {err} != {f.error}")
        if f.expected is not None and out is not None:
            lines = out.split("\n")
            if lines[0] != f.expected.split("\n", 1)[0]:
                problems.append(f"{f.name}: header {lines[0]!r}")
            if len(lines) - 2 != f.rows_good:
                problems.append(
                    f"{f.name}: {len(lines) - 2} rows != {f.rows_good} good"
                )
            if out != f.expected:
                problems.append(f"{f.name}: bytes differ from golden rendering")
        return problems

    def rejects(self, op: Op) -> tuple[int, int]:
        """(rows rejected, rows read) for ops that decode; the per-op check
        has already held the output to the generator's counts."""
        if op.kind.startswith("stream") or getattr(op.payload, "error", None):
            return 0, 0
        return op.payload.rows_rejected, op.rows_in

    def final_check(self, spark) -> list[str]:
        """The stream drain must write exactly the batch output."""
        problems = []
        for e in self.STREAMED:
            batch = os.path.join(self.io, "batch", e)
            stream = self.last_stream.get(e)
            if stream is None or not os.path.isdir(batch):
                problems.append(f"{e}: no stream/batch output to compare")
            elif lines_digest(stream) != lines_digest(batch):
                problems.append(f"{e}: stream output != batch output")
        return problems


def count_rejects(bad) -> int:
    """The reject count over the quarantine cache (its own layer span)."""
    return bad.count()


def _part_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, n) for n in os.listdir(path)
        if n.startswith("part-")
    )


def count_lines(path: str) -> int:
    n = 0
    for p in _part_files(path):
        with open(p, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


def lines_digest(path: str) -> str:
    lines = []
    for p in _part_files(path):
        with open(p, "rb") as fh:
            lines.extend(fh.read().splitlines())
    lines.sort()
    return hashlib.sha256(b"\n".join(lines)).hexdigest()


class Catalog:
    """One op = one catalog entry into the ``noop`` sink."""

    name = "catalog"

    def __init__(self, seed: int, io_dir: str, root: str):
        self.seed, self.io, self.root = seed, io_dir, root
        self.sf_dir = os.path.join(io_dir, f"sf{CATALOG_SF}")

    def generate(self, n_passes: int) -> None:
        """The repository's own deterministic testdata generator, run into
        this run's private dir (stdout of the generator is silenced)."""
        gt = load_tool(self.root, "gen_testdata")
        saved = sys.stdout
        sys.stdout = open(os.devnull, "w")
        try:
            gt.gen(CATALOG_SF, self.sf_dir)
        finally:
            sys.stdout.close()
            sys.stdout = saved

    def registry(self, spark) -> None:
        from finporter_spark.queries import catalog

        self.queries = catalog.catalog_queries()
        self.oracles = catalog.catalog_oracles()
        self.oc = load_tool(self.root, "oracle_check")

    def warmup_ops(self) -> list[Op]:
        """Two warm-up passes: the first collects for the oracle check, the
        second writes to ``noop`` as the timed passes do, so the first
        timed pass is not the first to plan and run the ``noop`` writes."""
        check = self.ops(0)
        self.collect = {id(op) for op in check}
        return check + self.ops(-1)

    def ops(self, k: int) -> list[Op]:
        # the seed rotates the order within each pass
        rot = random.Random(self.seed * 7 + k).randrange(len(CATALOG_ENTRIES))
        names = CATALOG_ENTRIES[rot:] + CATALOG_ENTRIES[:rot]
        return [Op(n, 0, n) for n in names]

    def run(self, spark, op: Op):
        df = self.queries[op.payload](spark, self.sf_dir)
        if id(op) in self.collect:
            return self.oc.spark_pdf(df)
        df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, op: Op, result) -> list[str]:
        """Row count + value hash against the DuckDB oracle. Runs on the
        first warm-up pass, whose ops collect instead of writing to noop; the
        DuckDB side is timed apart and left out of set-up time."""
        if result is None:
            return []
        name = op.payload
        expected = self._duck().execute(self.oracles[name]).fetchdf()
        if len(result) != len(expected):
            return [f"{name}: rows {len(result)} != {len(expected)}"]
        if self.oc.frame_hash(result) != self.oc.frame_hash(expected):
            return [f"{name}: value hash differs from DuckDB"]
        return []

    def _duck(self):
        if not hasattr(self, "con"):
            import duckdb

            from finporter_spark.model import TESTDATA_TABLES

            self.con = duckdb.connect()
            self.con.execute(
                f"SET temp_directory='{os.path.join(self.io, 'duckdb_tmp')}'"
            )
            for t in TESTDATA_TABLES:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return self.con

    def rejects(self, op: Op) -> tuple[int, int]:
        return 0, 0

    def final_check(self, spark) -> list[str]:
        if hasattr(self, "con"):
            self.con.close()
        return []


WORKLOADS = {w.name: w for w in (Ingest, Catalog)}
