"""Traced-run instrumentation, kept entirely in the benchmark.

Spans are recorded by wrapping the public entry points of each layer
module (module attributes and class methods are swapped for wrappers and
restored afterwards); nothing under ``finporter_spark/`` changes. Spans
stay in memory and are written out once, at the end of the run.

Spark-side figures come from the engine's own event log, written
uncompressed to the run's private directory and grouped by the job group
the harness sets around each op.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict


def _patch_points():
    """(owner, attribute, span name) for every wrapped entry point."""
    import finporter_spark.caching as caching
    import finporter_spark.encoder as encoder
    import finporter_spark.handlers as handlers
    import finporter_spark.importers.allocdata as allocdata
    import finporter_spark.importers.base as base
    import finporter_spark.importers.tabular as tabular
    import finporter_spark.streaming as streaming
    from finporter_spark.importers.prospector import Prospector

    import workloads

    return [
        (handlers, "handle_detect", "handlers"),
        (handlers, "handle_transform", "handlers"),
        (handlers, "get_pair", "handlers.get_pair"),
        (handlers, "read_prefix", "sources.read_prefix"),
        (Prospector, "prospect", "importers.prospect"),
        (allocdata.AllocDataImporter, "decode", "importers.decode"),
        (allocdata.BrokerTransactionsImporter, "decode", "importers.decode"),
        (tabular.PositionsImporter, "decode", "importers.decode"),
        (allocdata, "read_delimited", "sources.read_delimited"),
        (allocdata, "quarantine_split", "sources.quarantine_split"),
        (tabular, "quarantine_split", "sources.quarantine_split"),
        (base, "_export", "encoder.export"),
        (encoder, "write_delimited", "encoder.write_delimited"),
        (caching, "release_caches", "caching.release"),
        (streaming, "stream_transform", "streaming.stream_transform"),
        (workloads, "count_rejects", "sources.reject_count"),
    ]


class Tracer:
    """In-memory spans: [name, start, end, parent index, op id]."""

    def __init__(self):
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self._saved: list[tuple] = []

    def install(self) -> None:
        for owner, attr, name in _patch_points():
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def span(self, name: str):
        return _Span(self, name)

    def self_ms_by_op(self) -> dict[int, dict[str, float]]:
        """Per op, per span name: duration minus direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, (name, t0, t1, _parent, op) in enumerate(self.spans):
            out[op][name] += (t1 - t0 - child[i]) * 1000
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, t0, t1, parent, op in self.spans:
                fh.write(json.dumps([name, t0, t1, parent, op]) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        parent = t.stack[-1] if t.stack else None
        self.rec = [self.name, time.perf_counter(), None, parent, t.op]
        t.stack.append(len(t.spans))
        t.spans.append(self.rec)
        return self

    def __exit__(self, *exc):
        self.rec[2] = time.perf_counter()
        self.t.stack.pop()
        return False


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order; Spark 4 writes them into an
    ``eventlog_v2_*`` directory as ``events_<n>_<app id>``."""
    found = []
    for d, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith("events_"):
                found.append((int(f.split("_")[1]), os.path.join(d, f)))
            elif not f.startswith(("appstatus", ".")):
                found.append((0, os.path.join(d, f)))
    return [p for _, p in sorted(found)]


def eventlog_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from an uncompressed event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g["executor_run_ms"] += m.get("Executor Run Time", 0)
                    g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                    g["output_bytes"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
    return out
