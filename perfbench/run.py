"""Benchmark client: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload frame_ops --seed 1 --seconds 10 --trace 0

A single closed-loop client on ``local[<cores>]`` with
``SPARK_GRAFT_CPUS=<cores>``: it issues one call at a time and waits for
it.  The run makes its inputs from the seed, starts the session, runs one
cold pass whose outputs it checks (the set-up), then repeats
seed-shuffled passes for ``--seconds`` (and at least the workload's
``MIN_PASSES``) and reports medians of each step's wall and CPU time.
The end-to-end pass metrics are CPU time: on a shared host the wall time
follows the hypervisor's steal share.  Everything
it writes lives in its own directory under ``.perfbench_runs/``, which is
deleted at exit.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import workloads  # noqa: E402

RUNS = ROOT / ".perfbench_runs"
DRIVER_MEM = "4g"
JOB_GROUP = "perfbench"
TIMED = ("construct", "force")
SETTLE_S = 1.0
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "exchanges", "scans", "task_run_s",
    "task_cpu_s", "gc_s", "task_wait_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes",
)
STREAM_PHASES = {
    "batch_s": ("triggerExecution",),
    "plan_s": ("queryPlanning",),
    "addbatch_s": ("addBatch",),
    "commit_s": ("walCommit", "commitOffsets"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def process_tree() -> dict[int, list[int]]:
    """ppid -> child pids, from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    return children


def descendants(pid: int) -> list[int]:
    children, out, stack = process_tree(), [], [pid]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) of ``pid`` and its descendants, with
    the children each has already reaped.  Time the hypervisor gave to
    other guests (steal) is not charged to any process."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(pid: int) -> dict[str, list[int]]:
    """Resident bytes of ``pid`` and its descendants, by command name.
    Each process counts its proportional share (PSS) of pages it shares:
    Python workers are forks of one daemon, and a child the JVM forks
    shares the JVM's whole heap until it execs, so summed RSS counts the
    same pages several times."""
    out: dict[str, list[int]] = defaultdict(list)
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[comm].append(int(line.split()[1]) * 1024)
                        break
        except (OSError, IndexError, ValueError):
            pass
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (JVM,
    Python workers), sampled every 0.5 s.  ``parts`` is the make-up of the peak:
    MB and process count by command name."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self.parts: dict = {}
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            by_comm = tree_rss_bytes(os.getpid())
            total = sum(map(sum, by_comm.values()))
            if total > self.peak:
                self.peak = total
                self.parts = {
                    c: [round(sum(v) / 2**20), len(v)] for c, v in by_comm.items()
                }
            self._stop_event.wait(0.5)

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def git_stamp() -> dict:
    def git(*args):
        try:
            r = subprocess.run(
                ["git", *args], cwd=ROOT, capture_output=True, text=True, timeout=20
            )
        except (OSError, subprocess.TimeoutExpired):
            return None
        return r.stdout if r.returncode == 0 else None

    head = git("rev-parse", "HEAD")
    status = git("status", "--porcelain")
    return {
        "git_head": head.strip() if head else None,
        "git_dirty": bool(status.strip()) if status is not None else None,
    }


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started (Python worker daemons included)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in spawned:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def cpu_times() -> list[int]:
    """The host's CPU time counters (USER_HZ ticks) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


class Run:
    def __init__(self, args, run_dir: Path) -> None:
        self.t_start = time.perf_counter()
        self.args = args
        self.dir = run_dir
        self.cores = cores()
        self.rng = random.Random(args.seed)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)  # CPU s per execution
        self.phase_s: dict[str, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(list)
        )
        self.attempted = 0
        self.failed = 0  # step executions that raised or returned a wrong result
        self.failures: list[str] = []
        self.runs: dict[str, int] = defaultdict(int)  # timed executions per step
        # untraced passes of a traced run, for trace_overhead_frac
        self.untraced: dict[str, list[float]] = defaultdict(list)
        self.untraced_runs: dict[str, int] = defaultdict(int)
        self.group_of: dict[str, str] = {}
        self.gauges: dict = {}
        self.peak_rss = 0
        self.passes: dict[bool, int] = {}
        self.spark = None
        self.tracing = bool(args.trace)
        if args.trace:
            import tracing as tr

            self.tr = tr
            self.spans = tr.Spans()
            self.windows = tr.Windows()
            self.stream = None

    # -- set-up ---------------------------------------------------------
    def environment(self) -> None:
        d = self.dir
        for sub in ("data", "tmp", "local", "warehouse", "checkpoints", "stores",
                    "eventlog"):
            (d / sub).mkdir()
        os.environ.update(
            TMPDIR=str(d / "tmp"),
            SPARK_LOCAL_DIRS=str(d / "local"),
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            PYTHONPATH=os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
            ),
        )
        tempfile.tempdir = None
        os.chdir(d)

    def session_conf(self) -> dict[str, str]:
        d = self.dir
        conf = {
            "spark.local.dir": str(d / "local"),
            "spark.sql.warehouse.dir": str(d / "warehouse"),
            "spark.checkpoint.dir": str(d / "checkpoints"),
            # HotSpot writes its perf-data file under /tmp whatever the
            # tmpdir.  A fixed heap and young generation: as G1 sized them,
            # the JVM's peak RSS spread 20-40% between runs.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={d / 'tmp'} "
            f"-XX:-UsePerfData -Xms{DRIVER_MEM} -Xmn512m",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": (d / "eventlog").as_uri(),
            })
        return conf

    # -- one step ---------------------------------------------------------
    def _window(self, t0: float, t1: float, key: tuple) -> None:
        if self.args.trace:
            self.windows.add(t0, t1, key)

    def _group(self, name: str, phase: str) -> None:
        if self.tracing:
            self.spark.sparkContext.setJobGroup(f"{JOB_GROUP}:{name}:{phase}", name)

    def _fail(self, name: str, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.failures.extend(f"{name}: {p}" for p in problems)

    @staticmethod
    def _error(e: Exception) -> list[str]:
        return [f"{type(e).__name__}: {str(e)[:300]}"]

    def setup_unit(self, steps) -> list:
        """Run a unit's steps once, in order, on a set-up thread.  Returns
        ``(step, output or exception)`` pairs; the outputs are checked
        after the set-up clock stops."""
        out = []
        for step in steps:
            self._group(step.name, "setup")
            try:
                out.append((step, step.collect(step.construct())))
            except Exception as e:  # noqa: BLE001 - counted and named
                out.append((step, e))
        return out

    def check(self, step, out) -> None:
        self.attempted += 1
        self.group_of[step.name] = step.group
        if isinstance(out, Exception):
            self._fail(step.name, self._error(out))
            return
        try:
            problems = step.check(out)
        except Exception as e:  # noqa: BLE001
            problems = self._error(e)
        self._fail(step.name, problems)

    def timed_step(self, step) -> None:
        self.attempted += 1
        if self.tracing or not self.args.trace:
            runs, samples, (construct, force) = self.runs, self.samples, TIMED
        else:
            # an untraced pass of a traced run: it only feeds
            # trace_overhead_frac, and its windows are kept apart
            runs, samples = self.untraced_runs, self.untraced
            construct = force = "untraced"
        n = runs[step.name]
        runs[step.name] += 1
        self._group(step.name, construct)
        cpu0 = tree_cpu_s(os.getpid())
        t0, c0 = time.time(), time.perf_counter()
        try:
            out = step.construct()
            t1, c1 = time.time(), time.perf_counter()
            self._group(step.name, force)
            res = step.force(out)
            t2, c2 = time.time(), time.perf_counter()
        except Exception as e:  # noqa: BLE001
            self._window(t0, time.time(), (step.name, "error", n))
            self._fail(step.name, self._error(e))
            return
        self._window(t0, t1, (step.name, construct, n))
        self._window(t1, t2, (step.name, force, n))
        samples[step.name].append(c2 - c0)
        if samples is self.samples:
            self.cpu[step.name].append(tree_cpu_s(os.getpid()) - cpu0)
            self.phase_s[step.name]["construct"].append(c1 - c0)
            self.phase_s[step.name]["force"].append(c2 - c1)
        self._fail(step.name, step.verify(res))

    # -- the run -----------------------------------------------------------
    def execute(self) -> None:
        args = self.args
        self.environment()
        workloads.make_inputs(args.workload, str(self.dir / "data"))
        if args.trace:
            self.tr.instrument(self.spans)

        sampler = RssSampler()
        sampler.start()
        t_setup = time.perf_counter()
        self.elapsed = {"inputs": t_setup - self.t_start}
        from parallel_pandas_spark.session import get_spark

        self.spark = spark = get_spark(
            app_name="perfbench", cpus=self.cores, extra_conf=self.session_conf()
        )
        self.session_s = time.perf_counter() - t_setup
        self.elapsed["session"] = time.perf_counter() - self.t_start
        if args.trace:
            self.stream = self.tr.StreamProgress()
            spark.streams.addListener(self.stream)
        import __spark_entry__ as entry

        t0 = time.time()
        units, self.per_pass, self.store, con = workloads.build(
            args.workload, spark, entry, str(self.dir / "data"),
            str(self.dir / "stores"), args.seed,
        )
        self._window(t0, time.time(), ("workload", "build", 0))
        self.elapsed["build"] = time.perf_counter() - self.t_start

        # the set-up pass runs the units side by side, each unit's steps
        # in order, one thread per unit up to one per core
        order = units[:]
        self.rng.shuffle(order)
        unit_steps = [unit("check", self.rng) for unit in order]
        t0 = time.time()
        with ThreadPoolExecutor(min(self.cores, len(unit_steps))) as pool:
            results = [r for rs in pool.map(self.setup_unit, unit_steps) for r in rs]
        self.setup_s = time.perf_counter() - t_setup
        t1 = time.time()
        self._window(t0, t1, ("workload", "setup", 0))
        self.elapsed["cold_pass"] = time.perf_counter() - self.t_start
        for step, out in results:
            self.check(step, out)
        if self.store is not None:
            self.store.score()
        self._window(t1, time.time(), ("workload", "check", 0))

        self.elapsed["set-up"] = time.perf_counter() - self.t_start
        # let the JIT compile queue and the set-up's stream and cleaner
        # threads drain (about 0.7 CPU-s in the first second, then ~0.1
        # CPU-s/s of housekeeping), so the first timed step is not
        # charged for most of it
        time.sleep(SETTLE_S)
        ticks = cpu_times()
        self.timed_loop(units)
        self.steal = steal_share(ticks, cpu_times())
        self.peak_rss = sampler.stop()
        self.rss_parts = sampler.parts
        self.elapsed["timed"] = time.perf_counter() - self.t_start
        con.close()
        if self.store is not None:
            self.gauges = self.store.gauges()
        self.stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "full_passes": self.passes.get(True, self.passes.get(False)),
            "nproc": self.cores,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "sf": workloads.SF,
            **git_stamp(),
            "step_median_s": self.medians(),
            "step_samples_s": self.samples,
            "peak_rss_mb_by_process": self.rss_parts,
            "timed_steal_share": self.steal,
            "wall_s": self.wall(),
            "step_cpu_s": self.cpu,
            "elapsed_s": self.elapsed,
        }
        if args.trace:
            time.sleep(1)  # let the listener bus deliver the last progress events
        stop_spark(spark)
        self.spark = None

    def timed_loop(self, units) -> None:
        """Seed-shuffled passes until ``--seconds`` have passed and the
        workload's least number of full passes is done.  A traced run
        alternates untraced and traced passes, the seed drawing which comes
        first, for twice as long and until each mode has a full pass."""
        modes = [False, True] if self.args.trace else [False]
        self.rng.shuffle(modes)
        self.passes = dict.fromkeys(modes, 0)
        deadline = time.perf_counter() + self.args.seconds * len(modes)
        least = 1 if self.args.trace else workloads.MIN_PASSES[self.args.workload]

        def done() -> bool:
            return (min(self.passes.values()) >= least
                    and time.perf_counter() >= deadline)

        i = 0
        while not done():
            traced = modes[i % len(modes)]
            if self.args.trace:
                self.tracing = self.spans.enabled = traced
            order = units[:]
            self.rng.shuffle(order)
            for unit in order:
                if done():
                    return
                for step in unit(f"p{i}", self.rng):
                    self.timed_step(step)
            self.passes[traced] += 1
            i += 1

    # -- metrics -------------------------------------------------------------
    def medians(self) -> dict[str, float]:
        return {n: median(xs) for n, xs in self.samples.items()}

    def sweep(self, samples: dict[str, list[float]]) -> float:
        """One full pass: Σ over steps of median x executions per pass."""
        return sum(median(xs) * self.per_pass[n] for n, xs in samples.items())

    def geomean(self, samples: dict[str, list[float]]) -> float:
        """Geometric mean over queries of each query's summed step medians."""
        groups: dict[str, float] = defaultdict(float)
        for n, xs in samples.items():
            groups[self.group_of[n]] += median(xs)
        return math.exp(statistics.fmean(math.log(v) for v in groups.values()))

    def wall(self) -> dict[str, float]:
        return {"sweep_s": self.sweep(self.samples),
                "query_geomean_s": self.geomean(self.samples)}

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "sweep_cpu_s": (self.sweep(self.cpu), "s"),
            "query_geomean_cpu_s": (self.geomean(self.cpu), "s"),
            "peak_rss_mb": (self.peak_rss / 2**20, "MB"),
        }

    def per_pass_sum(self, per_exec: dict[tuple, float]) -> float:
        """Sum over steps of (mean per timed execution) x (executions per
        pass): the value for one full pass."""
        total = 0.0
        for name, runs in self.runs.items():
            s = sum(per_exec.get((name, n), 0.0) for n in range(runs))
            total += s / runs * self.per_pass[name]
        return total

    def per_layer(self) -> tuple[dict, dict]:
        tr, d = self.tr, self.dir
        files = [f for f in (d / "eventlog").iterdir() if f.is_file()]
        log = tr.read_event_log(str(files[0]), self.windows, JOB_GROUP + ":")
        per_key = log["per_key"]

        def timed(counter: str) -> dict[tuple, float]:
            out: dict[tuple, float] = defaultdict(float)
            for (name, phase, n), c in per_key.items():
                if phase in TIMED:
                    out[(name, n)] += c.get(counter, 0.0)
            return out

        m: dict[str, tuple[float, str]] = {}
        m["session.start_s"] = (self.session_s, "s")
        layer_calls: dict[str, dict[tuple, float]] = defaultdict(lambda: defaultdict(float))
        layer_s: dict[str, dict[tuple, float]] = defaultdict(lambda: defaultdict(float))
        for layer, t0, t1 in self.spans.records:
            key = self.windows.find(t0)
            if key is None or key[1] not in TIMED:
                continue
            layer_calls[layer][(key[0], key[2])] += 1
            layer_s[layer][(key[0], key[2])] += t1 - t0
        m["sources.load_table.calls"] = (
            self.per_pass_sum(layer_calls["sources.load_table"]), "count")
        m["sources.load_table_s"] = (
            self.per_pass_sum(layer_s["sources.load_table"]), "s")
        for phase in TIMED:
            m[f"entry.{phase}_s"] = (sum(
                median(self.phase_s[n][phase]) * self.per_pass[n] for n in self.samples
            ), "s")
        for mod in tr.OPERATOR_MODULES:
            layer = f"operators.{mod}"
            m[f"{layer}.calls"] = (self.per_pass_sum(layer_calls[layer]), "count")
            m[f"{layer}.call_s"] = (self.per_pass_sum(layer_s[layer]), "s")

        batches = []
        batch_keys: dict[tuple, float] = defaultdict(float)
        for ts, dur in self.stream.batches:
            key = self.windows.find(ts)
            if key is not None and key[1] in TIMED:
                batches.append(dur)
                batch_keys[(key[0], key[2])] += 1
        m["streaming.batches"] = (self.per_pass_sum(batch_keys), "count")
        for metric, fields in STREAM_PHASES.items():
            vals = [sum(b.get(f, 0) for f in fields) / 1000 for b in batches]
            m[f"streaming.{metric}.p50"] = (median(vals), "s")
        counters = tr.log_counters(str(d / "driver.log"))
        m["streaming.thread_errors"] = (counters["thread_errors"], "count")
        m["streaming.falling_behind"] = (counters["falling_behind"], "count")

        for c in SPARK_COUNTERS:
            unit = "count" if c in ("jobs", "stages", "tasks", "exchanges", "scans") \
                else ("s" if c.endswith("_s") else "bytes")
            m[f"spark.{c}"] = (self.per_pass_sum(timed(c)), unit)
        wall = sum(t1 - t0 for t0, t1, k in self.windows.spans if k[1] in TIMED)
        run_s = sum(c.get("task_run_s", 0.0) for k, c in per_key.items() if k[1] in TIMED)
        m["spark.core_busy_frac"] = (run_s / (wall * self.cores) if wall else 0.0, "ratio")
        peak = max((c.get("peak_exec_mem_bytes", 0.0) for k, c in per_key.items()
                    if k[1] in TIMED), default=0.0)
        m["spark.peak_exec_mem_bytes"] = (peak, "bytes")
        jobs = self.per_pass_sum(timed("jobs"))
        grouped = self.per_pass_sum(timed("grouped_jobs"))
        m["spark.unattributed_job_frac"] = (1 - grouped / jobs if jobs else 0.0, "ratio")
        m["spark.window_attributed_job_frac"] = (
            log["jobs_in_window"] / log["jobs"] if log["jobs"] else 1.0, "ratio")
        m["python.bytes_sent"] = (self.per_pass_sum(timed("python_bytes_sent")), "bytes")
        m["python.bytes_returned"] = (
            self.per_pass_sum(timed("python_bytes_returned")), "bytes")
        m["python.stage_run_s"] = (self.per_pass_sum(timed("python_stage_run_s")), "s")

        topk = self.samples.get("store_topk", [])
        topk_files = sum(v for (n, _), v in timed("files_read").items() if n == "store_topk")
        topk_rows = sum(v for (n, _), v in timed("scan_rows").items() if n == "store_topk")
        gauges = self.gauges
        med = self.medians()
        m["vecstore.files_written"] = (gauges.get("files_written", 0.0), "count")
        m["vecstore.files_read_per_topk"] = (topk_files / len(topk) if topk else 0.0, "count")
        m["vecstore.rows_examined_per_result"] = (
            topk_rows / (len(topk) * workloads.BATCH_QUERIES * workloads.K)
            if topk else 0.0, "count")
        for name in ("store_build", "store_append", "store_delete"):
            m[f"{name}_s"] = (med.get(name, 0.0), "s")
        m["topk_s.p50"] = (median(topk), "s")
        m["topk_s.p90"] = (quantile(topk, 0.9), "s")
        m["recall_at5"] = (gauges.get("recall_at5", 0.0), "ratio")
        m["store_bytes_per_input_byte"] = (
            gauges.get("store_bytes_per_input_byte", 0.0), "ratio")
        m["failed_frac"] = (self.failed / self.attempted, "ratio")
        m["trace_overhead_frac"] = (
            self.sweep(self.samples) / self.sweep(self.untraced) - 1, "ratio")

        detail: dict = defaultdict(lambda: defaultdict(dict))
        for (name, phase, n), c in per_key.items():
            runs = max(1, self.runs.get(name, 0)) if phase in TIMED else 1
            for counter, v in c.items():
                cur = detail[name][phase].get(counter, 0.0)
                detail[name][phase][counter] = cur + v / runs
        return m, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "__spark_entry__.py").is_file() or not (
        ROOT / "parallel_pandas_spark"
    ).is_dir():
        print(f"perfbench: no program to measure in {ROOT}", file=sys.stderr)
        return 2
    run_dir = RUNS / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cwd = os.getcwd()
    sys.stdout.flush()
    sys.stderr.flush()
    saved = os.dup(1), os.dup(2)
    # the JVM and the Python workers inherit fds 1 and 2: send their output
    # (and the package's prints) to the run's driver log
    log_fd = os.open(run_dir / "driver.log", os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    run = Run(args, run_dir)
    error = None
    try:
        run.execute()
        if args.trace:
            metrics, detail = run.per_layer()
        else:
            metrics, detail = run.end_to_end(), None
    except BaseException as e:  # noqa: BLE001 - reported below, then re-raised
        error = e
        if run.spark is not None:
            try:
                stop_spark(run.spark)
            except Exception:  # noqa: BLE001
                pass
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        os.chdir(cwd)
        log_tail = ""
        if error is not None:
            try:
                log_tail = (run_dir / "driver.log").read_text(errors="replace")[-4000:]
            except OSError:
                pass
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            RUNS.rmdir()
        except OSError:
            pass
    if error is not None:
        print(log_tail, file=sys.stderr)
        raise error

    print(json.dumps({"stamp": run.stamp}))
    if run.failures:
        print(json.dumps({"failures": run.failures}))
    if detail is not None:
        print(json.dumps({"per_step": detail}))
    correct = run.failed == 0 and (
        run.store is None or run.gauges["recall_at5"] >= workloads.RECALL_FLOOR
    )
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
