"""Flagship pipeline benchmark: parse -> enrich -> route -> sink.

One process, one client, one operation in flight (a closed loop); Spark runs
as local[nproc]. The program is driven only through its public functions:
`datagen.transcripts_df`, `pipeline.prepare`, `router.sink_counts`, and
`cli.main` with `--routes-json`, `--run-ts` and `--window`.

    python3 perfbench/run.py --workload agg --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --report          # every workload, traced and not

The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1 (see perfbench/README.md).
The line before it records the run's context: host, versions, sample counts,
and every op's wall and CPU time.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gate  # noqa: E402
import tracing as tr  # noqa: E402

ROUTES_JSON = os.path.join(BENCH_DIR, "routes.json")
SETUP_REPS = 3
CLK_TCK = os.sysconf("SC_CLK_TCK")
TICK_WINDOW = "1 hour"
TICK_SPAN_HOURS = 72  # datagen.transcripts_df's default time span

# input rows and warm-up operations per workload. Two warm-up ops are enough
# for op_cpu_s, which leaves out JIT compiler threads; wall times keep
# falling for a few more ops while compiled code replaces interpreted code.
WORKLOADS = {
    "agg": {"rows": 400_000, "warmup_ops": 2},
    "ticks": {"rows": 100_000, "warmup_ops": 2},
}

# Op cost is gated as CPU time, not wall time: time the hypervisor gives other
# guests (steal, in /proc/stat) stretches an op's wall time but not its CPU
# time. Wall times are still reported in the context line.
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "turns_per_cpu_s": "1/s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "datagen.transcripts_df_s": "s",
    "sinks.read_table.scan_s": "s",
    "parse.parse_turns.self_s": "s",
    "enrich.enrich_turns.self_s": "s",
    "router.routed_union.self_s": "s",
    "router.sink_counts.self_s": "s",
    "parse.match_ratio": "ratio",
    "router.fanout_ratio": "ratio",
    "router.unrouted_ratio": "ratio",
    "pipeline.prepare_s": "s",
    "pipeline.run_pipeline.self_s": "s",
    "cli.main.self_s": "s",
    "cli.resume_op_p50_s": "s",
    "router.write_route_frame_s": "s",
    "router.write_route_frame.calls": "count",
    "router.rows_written": "count",
    "router.bytes_written": "bytes",
    "router.files_written": "count",
    "router.sink_mb_per_s": "MB/s",
    "router.write_task_skew": "ratio",
    "lineage.partition_metrics_s": "s",
    "lineage.partition_metrics.calls": "count",
    "lineage.partitions": "count",
    "lineage.manifest_commit_s": "s",
    "bench.op_p50_s": "s",
    "bench.op_cpu_s": "s",
    "bench.peak_rss_mb": "MB",
    **{f"{layer}.{stat}": unit for layer in tr.SPARK_LAYERS
       for stat, unit in tr.SPARK_STATS.items()},
}
# the agg prefixes, each forced with the noop sink; a layer's self time is its
# prefix minus the previous prefix
AGG_PREFIXES = ("sinks.read_table", "parse.parse_turns", "enrich.enrich_turns",
                "router.routed_union")


class ProgramMissing(RuntimeError):
    """The checkout holds no hatchery_spark package to benchmark."""


def load_program():
    """Import hatchery_spark from this checkout, never from anywhere else."""
    sys.path.insert(0, ROOT)
    try:
        import hatchery_spark  # noqa: F401
        from hatchery_spark import (
            cli, datagen, enrich, lineage, parse, pipeline, router, session, sinks,
        )
    except ImportError as exc:
        raise ProgramMissing(f"cannot import hatchery_spark from {ROOT}: {exc}") from exc
    where = os.path.realpath(hatchery_spark.__file__)
    if not where.startswith(os.path.realpath(ROOT) + os.sep):
        raise ProgramMissing(f"hatchery_spark resolved outside the checkout: {where}")
    return argparse.Namespace(cli=cli, datagen=datagen, enrich=enrich, lineage=lineage,
                              parse=parse, pipeline=pipeline, router=router,
                              session=session, sinks=sinks)


def host_memory_bytes() -> int:
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return total


def pin_host(work: str) -> dict:
    """Cores, heap and scratch dirs for this host, set before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    heap = f"{int(0.6 * host_memory_bytes() / 2**20)}m"
    for d in ("local", "tmp", "duck", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # python workers import the program from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {"cores": cores, "heap": heap}


def _stat_fields(path: str) -> list[str] | None:
    """A /proc stat file's fields after the command name (state, ppid, ...)."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def process_tree() -> dict[int, list[str]]:
    """This process and all its descendants: pid -> /proc/<pid>/stat fields."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (fields := _stat_fields(f"/proc/{name}/stat")):
            stats[int(name)] = fields
            children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


def tree_peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and all its descendants."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM")), 0
                )
        except OSError:
            continue
    return total_kb / 1024


# JIT compiler threads ("C1 CompilerThread0", "C2 CompilerThread1", ...)
JIT_THREAD = re.compile(r"\(C\d CompilerThre")


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants
    (exited, waited-for descendants included), without the JVM's JIT compiler
    threads. JIT compilation is warm-up work whose amount and timing vary from
    run to run; the session starts all compiler threads up front
    (-XX:-UseDynamicNumberOfCompilerThreads), so none exits with its time."""
    ticks = 0
    for pid, fields in process_tree().items():
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    line = f.read()
            except OSError:
                continue
            if JIT_THREAD.search(line):
                ticks -= sum(int(x) for x in line.rsplit(")", 1)[1].split()[11:13])
    return ticks / CLK_TCK


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        steal_ticks = int(f.readline().split()[8])
    return steal_ticks / CLK_TCK


class Bench:
    """One benchmark run: set-up, the measured loop, checks, and metrics."""

    def __init__(self, args, prog, host: dict, work: str):
        self.args, self.prog, self.host, self.work = args, prog, host, work
        self.rows = args.rows or WORKLOADS[args.workload]["rows"]
        self.input = os.path.join(work, "input")
        self.routes = prog.cli.load_routes(ROUTES_JSON)
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.samples: list[float] = []
        self.cpu: list[float] = []
        self.ok_ops: list[int] = []  # indices of the measured ops that passed
        self.turns: list[int] = []
        self.resume: list[float] = []
        self.layer: dict[str, float] = {}
        self.spark = None
        self.ref: gate.Reference | None = None
        self.tracer = tr.Tracer()

    # --- set-up ---------------------------------------------------------------

    def start_session(self) -> float:
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # same JIT flag the session sets, plus a JVM temp dir and no
            # perf-data file, so the JVM writes only inside the checkout, and
            # fixed JIT compiler threads (see tree_cpu_s)
            "spark.driver.extraJavaOptions": "-XX:-DontCompileHugeMethods -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
            })
        t = time.perf_counter()
        self.spark = self.prog.session.get_spark("perfbench", extra_conf=conf)
        elapsed = time.perf_counter() - t
        if self.args.trace:
            self.tracer = tr.Tracer(self.spark.sparkContext)
            self.tracer.phase = "setup/"
        return elapsed

    def generate(self) -> float:
        """Write the seeded input table."""
        t = time.perf_counter()
        with self.tracer.span("datagen.transcripts_df"):
            df = self.prog.datagen.transcripts_df(self.spark, self.rows, seed=self.args.seed)
            df.write.mode("overwrite").parquet(self.input)
        return time.perf_counter() - t

    def setup(self) -> None:
        session_s = self.start_session()
        reps = [self.generate() for _ in range(SETUP_REPS)]
        # the reference is the benchmark's own check, not the program's
        # set-up, so it stays out of setup_s
        t = time.perf_counter()
        self.ref = gate.Reference(
            self.input, self.prog.datagen.service_catalog_rows(), self.routes,
            os.path.join(self.work, "duck"),
        )
        reference_s = time.perf_counter() - t
        self.catalog = self.prog.datagen.service_catalog_df(self.spark)
        self.plan()
        t = time.perf_counter()
        for _ in range(WORKLOADS[self.args.workload]["warmup_ops"]):
            self.warmup()
        warmup_s = time.perf_counter() - t
        self.setup_s = session_s + statistics.median(reps) + warmup_s
        self.setup_parts = {"session_s": session_s, "generate_s": reps, "warmup_s": warmup_s,
                            "reference_s": reference_s}
        self.layer["session.get_spark_s"] = session_s
        self.layer["datagen.transcripts_df_s"] = statistics.median(reps)
        self.tracer.phase = ""

    # --- checks ---------------------------------------------------------------

    def check(self, problems: list[str]) -> bool:
        """Count one attempted operation; it failed if it has any problem."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(problems)
            for p in problems:
                print(f"CHECK FAILED: {p}", file=sys.stderr)
            return False
        return True

    def guarded(self, fn, *args):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - the loop must keep measuring
            traceback.print_exc()
            self.check([f"{fn.__name__}{args!r} raised"])
            return None

    # --- the loop -------------------------------------------------------------

    def measure(self) -> None:
        self.tracer.phase = ""
        steal0, t0 = host_steal_s(), time.perf_counter()
        t_end = t0 + self.args.seconds
        i = 0
        # at least two measured ops for a median, but never loop on failures
        while self.has_next(i) and (
            time.perf_counter() < t_end or (len(self.samples) < 2 and i < 5)
        ):
            self.tracer.op = i
            self.guarded(self.op, i)
            i += 1
        self.tracer.op = -1
        # share of the measured loop's CPU time that went to other guests: a
        # run taken while the host was busy shows here
        self.steal_share = (host_steal_s() - steal0) / (
            (time.perf_counter() - t0) * (os.cpu_count() or 1))

    def record(self, i: int, seconds: float, turns: int, cpu: float) -> None:
        self.ok_ops.append(i)
        self.cpu.append(cpu)
        self.samples.append(seconds)
        self.turns.append(turns)

    def finish(self) -> None:
        """Work after the measured loop that still counts as measured."""

    def stop_and_fold(self) -> dict:
        """Stop Spark so the event log is complete, then fold it per group."""
        self.spark.stop()
        return tr.fold_event_log(os.path.join(self.work, "events"))

    def ratios(self, refs: list[dict]) -> None:
        turns = sum(r["turns"] for r in refs) or 1
        self.layer["parse.match_ratio"] = sum(r["parsed"] for r in refs) / turns
        self.layer["router.fanout_ratio"] = sum(
            sum(r["counts"].values()) for r in refs) / turns
        self.layer["router.unrouted_ratio"] = sum(r["unrouted"] for r in refs) / turns

    def result(self) -> dict:
        if self.args.trace:
            metrics = {k: float(self.layer.get(k, 0.0)) for k in PER_LAYER}
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": self.setup_s,
                "op_cpu_s": tr.median(self.cpu),
                # the median op's throughput, so one slow op moves it no more
                # than it moves op_cpu_s
                "turns_per_cpu_s": tr.median(
                    turns / cpu for turns, cpu in zip(self.turns, self.cpu) if cpu > 0),
            }
            units = END_TO_END
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def context(self) -> dict:
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "rows": self.rows,
            **self.host,
            "spark": self.spark_version,
            "java": self.java_version,
            "setup": self.setup_parts,
            "ops": len(self.samples),
            # wall time, reported but not gated: it follows the host's load
            "op_p50_s": tr.median(self.samples),
            "turns_per_s": tr.median(t / s for t, s in zip(self.turns, self.samples)),
            "op_s": self.samples,
            "op_cpu_s": self.cpu,
            "resume_s": self.resume,
            "peak_rss_mb": self.layer["bench.peak_rss_mb"],
            "host_steal_share": self.steal_share,
            "error_rate": self.failed / max(1, self.attempted),
            "failures": self.failures[:20],
        }

    def run(self) -> dict:
        self.setup()
        import pyspark

        self.spark_version = pyspark.__version__
        self.java_version = self.spark.sparkContext._jvm.System.getProperty("java.version")
        self.measure()
        self.finish()
        self.layer["bench.peak_rss_mb"] = tree_peak_rss_mb()
        self.layer["bench.op_cpu_s"] = tr.median(self.cpu)
        if self.args.trace:
            self.fold()
        return self.result()


class AggBench(Bench):
    """sink_counts(prepare(read)) over the whole table, result collected."""

    def plan(self) -> None:
        self.want = self.ref.whole()
        self.ratios([self.want])
        self.prefix_s: dict[str, list[float]] = {p: [] for p in AGG_PREFIXES}

    def has_next(self, i: int) -> bool:
        return True

    def counts(self) -> dict[str, int]:
        p = self.prog
        with self.tracer.span("router.sink_counts"):
            df = p.sinks.read_table(self.spark, self.input)
            with self.tracer.span("pipeline.prepare"):
                enriched = p.pipeline.prepare(df, self.catalog)
            rows = p.router.sink_counts(enriched, self.routes).collect()
        return {r["route_id"]: r["row_count"] for r in rows}

    def warmup(self) -> None:
        got = self.counts()
        self.check(gate.count_mismatches(got, self.want["counts"], "warm-up agg"))
        if self.args.trace:
            for name in AGG_PREFIXES:
                self.force(name)

    def force(self, name: str) -> float:
        t = time.perf_counter()
        with self.tracer.span(name):
            self.prefix(name).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def prefix(self, name: str):
        p = self.prog
        df = p.sinks.read_table(self.spark, self.input)
        if name == "sinks.read_table":
            return df
        df = p.parse.parse_turns(df)
        if name == "parse.parse_turns":
            return df
        df = p.enrich.enrich_turns(df, self.catalog)
        if name == "enrich.enrich_turns":
            return df
        return p.router.routed_union(df, self.routes)

    def op(self, i: int) -> None:
        prefix_s = [self.force(name) for name in AGG_PREFIXES] if self.args.trace else []
        c, t = tree_cpu_s(), time.perf_counter()
        got = self.counts()
        dt = time.perf_counter() - t
        cpu = tree_cpu_s() - c
        if self.check(gate.count_mismatches(got, self.want["counts"], f"agg op {i}")):
            self.record(i, dt, self.want["turns"], cpu)
            for name, seconds in zip(AGG_PREFIXES, prefix_s):
                self.prefix_s[name].append(seconds)

    def fold(self) -> None:
        ops = self.ok_ops
        op_s = self.tracer.per_op("router.sink_counts", ops)
        self.layer["bench.op_p50_s"] = tr.median(op_s)
        self.layer["pipeline.prepare_s"] = tr.median(self.tracer.per_op("pipeline.prepare", ops))
        self.layer["sinks.read_table.scan_s"] = tr.median(self.prefix_s["sinks.read_table"])
        chain = list(AGG_PREFIXES) + ["router.sink_counts"]
        timings = dict(self.prefix_s, **{"router.sink_counts": op_s})
        for prev, cur in zip(chain, chain[1:]):
            self.layer[f"{cur}.self_s"] = tr.median(
                a - b for a, b in zip(timings[cur], timings[prev]))
        groups = self.stop_and_fold()
        # the op's catalog collect runs under pipeline.prepare, inside the op
        op_group = {k: groups["router.sink_counts"][k] + groups["pipeline.prepare"][k]
                    for k in tr.SPARK_STATS}
        cumulative = {name: groups[name] for name in AGG_PREFIXES}
        cumulative["router.sink_counts"] = op_group
        n = max(1, len(ops))
        for idx, name in enumerate(chain):
            for stat in tr.SPARK_STATS:
                own = cumulative[name][stat]
                if idx:
                    own -= cumulative[chain[idx - 1]][stat]
                self.layer[f"{name}.{stat}"] = own / n
        for stat in tr.SPARK_STATS:
            self.layer[f"pipeline.prepare.{stat}"] = groups["pipeline.prepare"][stat] / n


class TicksBench(Bench):
    """One cli.main per hourly tick, then every tick replayed (resume)."""

    def plan(self) -> None:
        # the seed also picks which hours the ticks cover
        first = 1 + self.args.seed % (TICK_SPAN_HOURS // 2)
        self.run_ts = [
            f"2025-06-{1 + h // 24:02d} {h % 24:02d}:00:00"
            for h in range(first, TICK_SPAN_HOURS + 1)
        ]
        self.want = self.ref.windows(self.run_ts, TICK_WINDOW)
        self.out = os.path.join(self.work, "sinks")
        self.written = {"rows": [], "bytes": [], "files": []}
        self.measured: list[tuple[str, dict]] = []  # (run_ts, first JSON line)
        self.next_tick = 0
        if self.args.trace:
            p = self.prog
            self.tracer.install_pipeline(p.pipeline, p.cli, p.lineage)

    def has_next(self, i: int) -> bool:
        return self.next_tick < len(self.run_ts)

    def cli(self, run_ts: str) -> dict:
        argv = ["--input", self.input, "--out", self.out, "--routes-json", ROUTES_JSON,
                "--run-ts", run_ts, "--window", TICK_WINDOW]
        buf = io.StringIO()
        with self.tracer.span("cli.main"), contextlib.redirect_stdout(buf):
            code = self.prog.cli.main(argv)
        if code != 0:
            raise RuntimeError(f"cli.main exited {code}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def tick(self, label: str) -> tuple[float, float, str, dict, dict] | None:
        run_ts = self.run_ts[self.next_tick]
        self.next_tick += 1
        c, t = tree_cpu_s(), time.perf_counter()
        line = self.cli(run_ts)
        dt = time.perf_counter() - t
        cpu = tree_cpu_s() - c
        want = self.want[run_ts]
        problems = gate.count_mismatches(line["counts"], want["counts"], f"{label} {run_ts}")
        if line["skipped"]:
            problems.append(f"{label} {run_ts}: fresh tick skipped {line['skipped']}")
        rows = nbytes = nfiles = 0
        safe = self.prog.router.safe_run_ts(run_ts)
        for route in self.routes:
            n, b, f = gate.read_back(line["sinks"][route.route_id], safe, route.sink_format)
            rows, nbytes, nfiles = rows + n, nbytes + b, nfiles + f
            if n != want["counts"][route.route_id]:
                problems.append(f"{label} {run_ts} read-back {route.route_id}: got {n}, "
                                f"want {want['counts'][route.route_id]}")
        if not self.check(problems):
            return None
        return dt, cpu, run_ts, line, {"rows": rows, "bytes": nbytes, "files": nfiles}

    def warmup(self) -> None:
        self.tick("warm-up tick")

    def op(self, i: int) -> None:
        got = self.tick("tick")
        if got is not None:
            dt, cpu, run_ts, line, written = got
            self.record(i, dt, self.want[run_ts]["turns"], cpu)
            self.measured.append((run_ts, line))
            for k, v in written.items():
                self.written[k].append(v)

    def replay(self, run_ts: str, first: dict) -> None:
        before = gate.snapshot(self.out)
        t = time.perf_counter()
        line = self.cli(run_ts)
        dt = time.perf_counter() - t
        problems = gate.count_mismatches(line["counts"], first["counts"], f"replay {run_ts}")
        if sorted(line["skipped"]) != sorted(r.route_id for r in self.routes):
            problems.append(f"replay {run_ts}: skipped {line['skipped']}, want every route")
        if gate.snapshot(self.out) != before:
            problems.append(f"replay {run_ts}: files under the sink directory changed")
        if self.check(problems):
            self.resume.append(dt)

    def finish(self) -> None:
        self.tracer.phase = "replay/"
        for run_ts, line in self.measured:
            self.guarded(self.replay, run_ts, line)
        self.tracer.phase = ""
        self.ratios([self.want[ts] for ts, _ in self.measured])
        sink_s = sum(self.samples) or 1.0
        self.layer["cli.resume_op_p50_s"] = tr.median(self.resume)
        self.layer["router.sink_mb_per_s"] = sum(self.written["bytes"]) / 2**20 / sink_s
        for k in ("rows", "bytes", "files"):
            self.layer[f"router.{k}_written"] = tr.median(self.written[k])

    def fold(self) -> None:
        self.tracer.restore()
        ops = self.ok_ops
        t = self.tracer
        self.layer["bench.op_p50_s"] = tr.median(t.per_op("cli.main", ops))
        self.layer["cli.main.self_s"] = tr.median(t.self_per_op("cli.main", ops))
        self.layer["pipeline.run_pipeline.self_s"] = tr.median(
            t.self_per_op("pipeline.run_pipeline", ops))
        for name, key in (("pipeline.prepare", "pipeline.prepare_s"),
                          ("router.write_route_frame", "router.write_route_frame_s"),
                          ("lineage.partition_metrics", "lineage.partition_metrics_s"),
                          ("lineage.manifest_commit", "lineage.manifest_commit_s")):
            self.layer[key] = tr.median(t.per_op(name, ops))
        self.layer["router.write_route_frame.calls"] = t.calls_per_op(
            "router.write_route_frame", ops)
        self.layer["lineage.partition_metrics.calls"] = t.calls_per_op(
            "lineage.partition_metrics", ops)
        self.layer["lineage.partitions"] = t.attr_per_op(
            "lineage.partition_metrics", "partitions", ops)
        groups = self.stop_and_fold()
        groups["cli.main"] = {k: groups["cli.main"][k] + groups["pipeline.run_pipeline"][k]
                              for k in tr.SPARK_STATS}
        n = max(1, len(ops))
        for layer in ("pipeline.prepare", "router.write_route_frame",
                      "lineage.partition_metrics", "cli.main"):
            for stat in tr.SPARK_STATS:
                self.layer[f"{layer}.{stat}"] = groups[layer][stat] / n
        self.layer["router.write_task_skew"] = tr.task_skew(
            groups["router.write_route_frame"]["shuffle_read_stages"])


BENCHES = {"agg": AggBench, "ticks": TicksBench}


def shutdown_spark() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_one(args) -> int:
    try:
        prog = load_program()
    except ProgramMissing as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host = pin_host(work)
    bench = BENCHES[args.workload](args, prog, host, work)
    try:
        result = bench.run()
        context = bench.context()
        if args.trace:
            bench.tracer.dump(os.path.join(
                base, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if bench.ref is not None:
            bench.ref.close()
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(context))
    print(json.dumps(result))
    return 0


# --- report: every workload, untraced and traced ------------------------------


def run_subprocess(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def report(args) -> int:
    ok = True
    for workload in WORKLOADS:
        ctx, plain = run_subprocess(workload, args.seed, args.seconds, 0)
        tctx, traced = run_subprocess(workload, args.seed, args.seconds, 1)
        print(f"== {workload}: rows={ctx['rows']} seed={ctx['seed']} cores={ctx['cores']} "
              f"heap={ctx['heap']} spark={ctx['spark']} java={ctx['java']} "
              f"ops={ctx['ops']} host_steal_share={ctx['host_steal_share']:.3f}")
        for name, m in plain["metrics"].items():
            print(f"  {name:<32} {m['value']:>14.4f} {m['unit']}")
        print(f"  {'op_p50_s (wall)':<32} {ctx['op_p50_s']:>14.4f} s")
        print(f"  {'turns_per_s (wall)':<32} {ctx['turns_per_s']:>14.4f} 1/s")
        layer = {k: m["value"] for k, m in traced["metrics"].items()}
        error_rate = (plain["failed"] + traced["failed"]) / max(
            1, plain["attempted"] + traced["attempted"])
        print(f"  {'error_rate':<32} {error_rate:>14.4f} ratio")
        if workload == "ticks":
            print(f"  {'sink_mb_per_s (traced run)':<32} "
                  f"{layer['router.sink_mb_per_s']:>14.4f} MB/s")
            print(f"  {'resume_op_p50_s (traced run)':<32} "
                  f"{layer['cli.resume_op_p50_s']:>14.4f} s")
        overhead = layer["bench.op_cpu_s"] - plain["metrics"]["op_cpu_s"]["value"]
        print(f"  {'tracing overhead (op CPU)':<32} {overhead:>14.4f} s")
        overhead = layer["bench.op_p50_s"] - ctx["op_p50_s"]
        print(f"  {'tracing overhead (op p50, wall)':<32} {overhead:>14.4f} s")
        for name in sorted(layer):
            print(f"    {name:<44} {layer[name]:>14.4f} {traced['metrics'][name]['unit']}")
        ok = ok and plain["correct"] and traced["correct"]
        print("  " + layer_claim(workload, layer))
    return 0 if ok else 1


def layer_claim(workload: str, layer: dict) -> str:
    if workload == "agg":
        selfs = {k: layer[k] for k in ("sinks.read_table.scan_s", "parse.parse_turns.self_s",
                                       "enrich.enrich_turns.self_s",
                                       "router.routed_union.self_s",
                                       "router.sink_counts.self_s")}
        top = max(selfs, key=selfs.get)
        return f"largest agg self time: {top} = {selfs[top]:.4f} s"
    op = layer["bench.op_p50_s"] or 1.0
    share = (layer["pipeline.prepare_s"] + layer["lineage.partition_metrics_s"]) / op
    wrf = layer["router.write_route_frame_s"] / op
    return (f"ticks op share: prepare+partition_metrics = {share:.3f}, "
            f"write_route_frame = {wrf:.3f}")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), default="agg")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=None,
                   help="input rows (default: the workload's own size)")
    p.add_argument("--report", action="store_true",
                   help="run every workload untraced and traced; print every metric")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.report:
        return report(args)
    return run_one(args)


if __name__ == "__main__":
    raise SystemExit(main())
