"""sparkfin benchmark: one closed-loop workload per run, one JSON result.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with the layer entry points wrapped and Spark's event log on,
and prints the per-layer metrics. The last stdout line is the result
object; the line before it carries the run's details (counters, set-up
breakdown, generator time). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_run")
CORES = 3  # local[3]: one of four cores stays with the driver and the OS
SETUP_REPS = 3  # session start + registry in the run's JVM; median reported
INPUT_SETS = 4  # distinct generated drop-file sets before inputs repeat


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------ processes

def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def cpu_s(pids) -> dict[int, float]:
    """User + system CPU seconds used so far by each process, its reaped
    children included (a Python worker that exited during an op still
    counts, through the process that waited for it)."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            out[pid] = sum(int(x) for x in f[11:15]) / tick
        except (OSError, IndexError, ValueError):
            pass
    return out


def host_jiffies() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (steal is index 7)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


class Engine:
    """The run's Spark JVM and the sessions started in it."""

    def __init__(self, conf: dict[str, str], launch_conf: dict[str, str]):
        from pyspark import SparkConf, SparkContext

        self.conf = conf
        SparkContext._ensure_initialized(
            conf=SparkConf(loadDefaults=False).setAll(launch_conf.items())
        )
        self.proc = SparkContext._gateway.proc

    def start_session(self):
        from finporter_spark.session import get_session

        self.spark = get_session(
            "perfbench", master=f"local[{CORES}]", extra_conf=self.conf
        )
        self.sc = self.spark.sparkContext
        return self.spark

    def shutdown(self) -> None:
        """Stop the session, the JVM and every process under it."""
        from pyspark import SparkContext

        if self.proc is None:
            return
        kids = descendants(self.proc.pid)
        gateway = SparkContext._gateway
        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        gateway.shutdown()
        self.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()
            self.proc.wait()
        _wait_gone(kids, 10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.proc = None

    def pids(self) -> list[int]:
        """The JVM and the Python workers it forked (not this process,
        which also holds the benchmark's own generator and checks)."""
        return [self.proc.pid] + descendants(self.proc.pid)


# ------------------------------------------------------------ counters

def job_counters(sc, group: str) -> dict[str, int]:
    """Jobs, executed stages (with completed tasks; skipped stages are not
    counted), tasks and single-task stages of one job group."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = single = 0
    for s in stage_ids:
        si = tracker.getStageInfo(s)
        if si is None or si.numCompletedTasks == 0:
            continue
        stages += 1
        tasks += si.numCompletedTasks
        single += si.numTasks == 1
    return {"jobs": len(jobs), "stages_executed": stages, "tasks": tasks,
            "single_task_stages": single}


def _add(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}


# ------------------------------------------------------------ statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Linear-interpolated percentile (0 < q < 100)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# ------------------------------------------------------------ the run

class Run:
    def __init__(self, args, run_dir: str):
        self.args, self.dir = args, run_dir
        self.io = os.path.join(run_dir, "io")
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.check_s = 0.0
        self.op_seq = 0
        self.engine = None

    def isolate(self) -> dict[str, str]:
        """Private dirs for everything the run writes; the Spark conf."""
        d = self.dir
        for sub in ("io", "local", "warehouse", "tmp", "eventlog"):
            os.makedirs(os.path.join(d, sub))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(d, "local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(d, "warehouse")
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ["SPARK_DRIVER_MEMORY"] = "2g"
        os.environ["TMPDIR"] = os.path.join(d, "tmp")
        tempfile.tempdir = None
        # executor-side Python workers import the program by module path
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        java_opts = (
            f"-Djava.io.tmpdir={os.path.join(d, 'tmp')} -XX:-UsePerfData"
            # a fixed, pre-touched heap: peak RSS does not follow G1's sizing
            " -Xms2g -XX:+AlwaysPreTouch"
            # C1 only: with C2 the op cost kept falling for minutes of
            # passes, so every run sat at another point of the JIT curve
            " -XX:TieredStopAtLevel=1"
        )
        if self.args.workload == "catalog":
            java_opts += " -XX:ReservedCodeCacheSize=768m"
        self.launch_conf = {
            "spark.master": f"local[{CORES}]",
            "spark.driver.memory": os.environ["SPARK_DRIVER_MEMORY"],
            "spark.driver.extraJavaOptions": java_opts,
        }
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": java_opts,
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(d, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        return conf

    def execute(self):
        import workloads

        args = self.args
        conf = self.isolate()
        import pyspark  # noqa: F401

        import finporter_spark.handlers  # noqa: F401
        import finporter_spark.streaming  # noqa: F401
        if args.workload == "catalog":
            import finporter_spark.queries.catalog  # noqa: F401
        import_s = time.perf_counter() - T_PROCESS

        wl = workloads.WORKLOADS[args.workload](args.seed, self.io, ROOT)
        t = time.perf_counter()
        wl.generate(INPUT_SETS)
        gen_s = time.perf_counter() - t

        t = time.perf_counter()
        try:
            self.engine = Engine(conf, self.launch_conf)
            launch_s = time.perf_counter() - t
            start_s = []
            for rep in range(SETUP_REPS):
                if rep:
                    self.engine.spark.stop()
                t = time.perf_counter()
                wl.registry(self.engine.start_session())
                start_s.append(time.perf_counter() - t)
            return self._measure(wl, import_s + launch_s, gen_s, start_s)
        finally:
            if self.engine is not None:
                self.engine.shutdown()

    def run_op(self, wl, op) -> None:
        sc = self.engine.sc
        gc.collect()
        self.op_seq += 1
        op.seq, op.groups = self.op_seq, [f"op{self.op_seq}"]
        sc.setJobGroup(op.groups[0], f"{wl.name}:{op.kind}")
        if self.tracer is not None:
            self.tracer.op = op.seq
        # CPU of the whole engine: this driver process (the program's own
        # Python code runs here), the JVM and the Python workers under it
        cpu0 = cpu_s(self.engine.pids() + [os.getpid()])
        result = None
        t0 = time.perf_counter()
        try:
            # a traced op is one root span (named after its kind) over the
            # layer spans its calls record
            with (self.tracer.span(op.kind) if self.traced_pass
                  else contextlib.nullcontext()):
                result = wl.run(self.engine.spark, op)
            op.ms = (time.perf_counter() - t0) * 1000
        except Exception as e:  # an op that raises counts as failed
            op.ms = (time.perf_counter() - t0) * 1000
            op.problems.append(f"{op.kind}: {type(e).__name__}: {e}"[:300])
        cpu1 = cpu_s(set(cpu0) | set(self.engine.pids()))
        op.cpu_ms = sum(c - cpu0.get(p, 0.0) for p, c in cpu1.items()) * 1000
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        t_check = time.perf_counter()
        if op.kind.startswith("stream") and result is not None:
            # micro-batch jobs run in the query's own group, its run id
            q = result[1]
            op.groups.append(str(q.runId))
            op.progress = q.recentProgress
        op.counters = {}
        for g in op.groups:
            op.counters = _add(op.counters, job_counters(sc, g))
        op.counters["live_caches"] = sc._jsc.getPersistentRDDs().size()
        if result is not None or not op.problems:
            op.problems += wl.check(op, result)
        if wl.name != "catalog" and op.counters["live_caches"]:
            op.problems.append(
                f"{op.kind}: {op.counters['live_caches']} caches left after op"
            )
        self.check_s += time.perf_counter() - t_check
        self.attempted += 1
        if op.problems:
            self.failed += 1
            self.problems += op.problems

    def _measure(self, wl, pre_s, gen_s, start_s):
        from tracing import Tracer, eventlog_by_group

        args = self.args
        self.tracer = Tracer() if args.trace else None
        self.traced_pass = False

        # one untimed warm-up pass of the workload's own op mix
        t, c = time.perf_counter(), self.check_s
        self.warm_ops = wl.warmup_ops()
        for op in self.warm_ops:
            self.run_op(wl, op)
        warm_s = time.perf_counter() - t - (self.check_s - c)
        setup_s = pre_s + median(start_s) + warm_s

        # timed: whole passes until the run's seconds are spent
        passes: list[list] = []
        jiffies = host_jiffies()
        t_begin = time.perf_counter()
        k = 1
        while True:
            self.traced_pass = bool(args.trace) and len(passes) % 2 == 1
            if self.traced_pass:
                self.tracer.install()
            ops = wl.ops(k)
            for op in ops:
                self.run_op(wl, op)
                op.traced = self.traced_pass
            if self.traced_pass:
                self.tracer.uninstall()
            passes.append(ops)
            k += 1
            enough = time.perf_counter() - t_begin >= args.seconds
            # the traced run times untraced, traced, untraced passes
            if enough and (not args.trace or len(passes) >= 3):
                break
        timed_wall = time.perf_counter() - t_begin
        jiffies = [b - a for a, b in zip(jiffies, host_jiffies())]
        steal = jiffies[7] / sum(jiffies)
        rss = peak_rss_mb(self.engine.pids())
        rss_jvm = peak_rss_mb([self.engine.proc.pid])
        n_workers = len(self.engine.pids()) - 1
        t = time.perf_counter()
        final = wl.final_check(self.engine.spark)
        self.check_s += time.perf_counter() - t
        self.problems += final

        all_ops = [op for p in passes for op in p]
        details = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "gen_s": round(gen_s, 3), "import_launch_s": round(pre_s, 3),
            "session_start_s": [round(s, 3) for s in start_s],
            "warmup_s": round(warm_s, 3),
            "timed_passes": len(passes), "timed_ops": len(all_ops),
            "timed_wall_s": round(timed_wall, 3),
            "check_s": round(self.check_s, 3),
            "peak_rss_jvm_mb": rss_jvm, "python_workers": n_workers,
            "host_steal_pct": round(steal * 100, 2),
            "counters_per_pass": _pass_counters(passes),
            "family_ms": _family_ms(all_ops),
            "warm_ops_ms": [[op.kind, round(op.ms)] for op in self.warm_ops],
            "timed_ops_ms": [[op.kind, round(op.ms)] for op in passes[0]],
            "pass_wall_ms": [round(sum(op.ms for op in p)) for p in passes],
            "pass_cpu_ms": [round(sum(op.cpu_ms for op in p)) for p in passes],
            "slot_cpu_ms": {k: [round(x) for x in v] for k, v in
                            sorted(_by_slot(passes, "cpu_ms").items())},
            "problems": self.problems[:20],
        }
        if args.trace:
            self.engine.shutdown()  # flushes the event log
            events = eventlog_by_group(os.path.join(self.dir, "eventlog"))
            self.tracer.dump(self.dir + ".spans.jsonl")
            metrics = layer_metrics(wl, passes, self.tracer, events, start_s)
            metrics["host.steal_pct"] = _m(steal * 100, "%")
        else:
            metrics = end_to_end(passes, setup_s, rss)
        details["wall"] = {
            "pass_s": median_pass(passes, "ms") / 1000,
            "op_geomean_ms": slot_geomean(passes, "ms"),
        }
        result = {
            "correct": self.failed == 0 and not final,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
        return result, details


def _slot(op) -> str:
    """The op's place in the mix: the same slot recurs once per pass."""
    p = op.payload
    return getattr(p, "name", op.kind).split("_", 1)[-1]


def _family_ms(ops) -> dict[str, dict]:
    """Raw p50/p90 per op family (``file``, ``batch``, ``stream``, or the
    catalog entry)."""
    fams = defaultdict(list)
    for op in ops:
        fams[op.kind.split(":", 1)[0]].append(op.ms)
    return {f: {"n": len(v), "p50": median(v), "p90": percentile(v, 90)}
            for f, v in sorted(fams.items())}


def _pass_counters(passes) -> dict[str, int]:
    """Spark counters summed over the first timed pass (deterministic)."""
    tot: dict[str, int] = {}
    for op in passes[0]:
        tot = _add(tot, {k: v for k, v in op.counters.items()
                         if k != "live_caches"})
    return dict(sorted(tot.items()))


def _m(value, unit):
    return {"value": value, "unit": unit}


def _by_slot(passes, attr: str) -> dict[str, list[float]]:
    by_slot = defaultdict(list)
    for p in passes:
        for op in p:
            by_slot[_slot(op)].append(getattr(op, attr))
    return by_slot


def median_pass(passes, attr: str) -> float:
    """One pass built from each slot's median over the timed passes."""
    return sum(median(v) for v in _by_slot(passes, attr).values())


def slot_geomean(passes, attr: str) -> float:
    """Geometric mean of the slots' medians, over the slots whose op runs
    Spark jobs (a file that fails detect costs about nothing)."""
    spark = [op for p in passes for op in p if op.spark]
    return geomean([median(v) for v in _by_slot([spark], attr).values()])


def end_to_end(passes, setup_s, rss) -> dict:
    """Set-up is wall time; pass and op costs are CPU time of the engine
    (see README.md: on the shared host, wall time follows CPU steal)."""
    return {
        "setup_s": _m(setup_s, "s"),
        "peak_rss_mb": _m(rss, "MB"),
        "pass_cpu_s": _m(median_pass(passes, "cpu_ms") / 1000, "s"),
        "op_cpu_geomean_ms": _m(slot_geomean(passes, "cpu_ms"), "ms"),
    }


LAYER_SPANS = {
    "sources.read_prefix_ms": ["sources.read_prefix"],
    "sources.read_delimited_ms": ["sources.read_delimited"],
    "sources.quarantine_split_ms": ["sources.quarantine_split"],
    "sources.reject_count_ms": ["sources.reject_count"],
    "importers.prospect_ms": ["importers.prospect"],
    "importers.decode_ms": ["importers.decode"],
    "handlers.self_ms": ["handlers"],
    "handlers.get_pair_ms": ["handlers.get_pair"],
    "encoder.export_ms": ["encoder.export"],
    "encoder.write_delimited_ms": ["encoder.write_delimited"],
    "caching.release_ms": ["caching.release"],
    "streaming.start_ms": ["streaming.stream_transform"],
}
ENGINE = ["executor_run_ms", "executor_cpu_ms", "gc_ms",
          "shuffle_write_bytes", "spill_bytes"]
COUNTERS = ["jobs", "stages_executed", "tasks", "single_task_stages"]


def layer_metrics(wl, passes, tracer, events, start_s) -> dict:
    import workloads

    ops = [op for p in passes for op in p]
    traced = [op for op in ops if op.traced]
    plain = [op for op in ops if not op.traced]
    self_ms = tracer.self_ms_by_op()
    out = {"session.start_ms": _m(median(start_s) * 1000, "ms"),
           "wall.pass_s": _m(median_pass(passes, "ms") / 1000, "s"),
           "wall.op_geomean_ms": _m(slot_geomean(passes, "ms"), "ms")}

    for metric, names in LAYER_SPANS.items():
        per_op = []
        for op in traced:
            spans = self_ms.get(op.seq, {})
            if any(n in spans for n in names):
                per_op.append(sum(spans.get(n, 0.0) for n in names))
        out[metric] = _m(median(per_op), "ms")

    # deterministic counters: mean per op over whole passes
    for c in COUNTERS:
        out[f"spark.{c}"] = _m(sum(op.counters[c] for op in ops) / len(ops),
                               "count")
    out["caching.live_caches"] = _m(
        max(op.counters["live_caches"] for op in ops), "count"
    )

    # engine time and bytes from the event log, per op
    eng = {m: [sum(events.get(g, {}).get(m, 0.0) for g in op.groups)
               for op in ops]
           for m in ENGINE + ["input_bytes", "output_bytes"]}
    for m in ENGINE:  # mean per op: GC, shuffle and spill come in bursts
        unit = "bytes" if m.endswith("bytes") else "ms"
        out[f"spark.{m}"] = _m(sum(eng[m]) / len(ops), unit)
    in_b = sum(eng["input_bytes"])
    out["spark.output_bytes_per_input_byte"] = _m(
        sum(eng["output_bytes"]) / in_b if in_b else 0.0, "ratio"
    )

    # ingest rows and rejects (generator truth checked per op)
    rej = [wl.rejects(op) for op in ops]
    read = sum(r[1] for r in rej)
    out["importers.reject_ratio"] = _m(
        sum(r[0] for r in rej) / read if read else 0.0, "ratio"
    )
    ingest = [op for op in ops if op.rows_in and not op.kind.startswith("stream")]
    out["ingest.rows_per_s"] = _m(
        sum(op.rows_in for op in ingest) / (sum(op.ms for op in ingest) / 1000)
        if ingest else 0.0, "rows/s"
    )

    # streaming drains, from each query's progress reports
    drains = [op for op in ops if op.progress is not None]
    batches, add_ms, commit_ms = [], [], []
    for op in drains:
        prog = op.progress
        batches.append(len(prog))
        add_ms.append(sum(p.durationMs.get("addBatch", 0) for p in prog))
        commit_ms.append(sum(p.durationMs.get("walCommit", 0)
                             + p.durationMs.get("commitOffsets", 0)
                             for p in prog))
    out["streaming.batches"] = _m(median(batches), "count")
    out["streaming.add_batch_ms"] = _m(median(add_ms), "ms")
    out["streaming.commit_ms"] = _m(median(commit_ms), "ms")
    out["streaming.drain_rows_per_s"] = _m(
        sum(op.rows_in for op in drains) / (sum(op.ms for op in drains) / 1000)
        if drains else 0.0, "rows/s"
    )

    # catalog entries: wall median plus exact counters
    for name in workloads.CATALOG_ENTRIES:
        mine = [op for op in ops if op.kind == name]
        out[f"catalog.{name}.ms"] = _m(median([op.ms for op in mine]), "ms")
        for c in COUNTERS:
            out[f"catalog.{name}.{c}"] = _m(
                mine[0].counters[c] if mine else 0, "count"
            )

    # tracing overhead: each traced op against the same slot in the
    # untraced passes before and after it, so warming does not count
    plain_ms = defaultdict(list)
    for op in plain:
        plain_ms[_slot(op)].append(op.ms)
    ratios = [op.ms / statistics.mean(plain_ms[_slot(op)]) - 1
              for op in traced if plain_ms[_slot(op)] and op.ms > 1]
    out["trace.overhead_pct"] = _m(median(ratios) * 100, "%")
    return out


def _terminate(signum, frame):
    sys.exit(128 + signum)  # unwinds through the cleanup in ``finally``


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isdir(os.path.join(ROOT, "finporter_spark")):
        print("perfbench: finporter_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)  # a fresh, empty root: never inherits files
    try:
        result, details = Run(args, run_dir).execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
