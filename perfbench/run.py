"""The repository benchmark. From the root of a checkout:

    python3 perfbench/run.py --workload drain --seed 1 --seconds 10 --trace 0

Builds a SparkSession through the engine, sets up once from process
start, runs timed rounds of the workload for ``--seconds`` of measured time, checks
the outputs, and prints one JSON result as its last stdout line (the line
before it holds the details and the environment stamp). ``--trace 1``
turns on Spark's event log and prints the per-layer metrics instead of the
end-to-end ones. Everything the run writes stays under
``perfbench/.work/``. See README.md for the metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "redix_stream_spark")
sys.path.insert(0, ROOT)

from perfbench import handlers  # noqa: E402
from perfbench.metrics import END_TO_END_TIMES, assemble  # noqa: E402
from perfbench.tracing import DESC_PREFIX, Tracer, attribute, geomean, median, read_event_log  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

#: The calibration kernel's time (see ``calibrate``) on the 4-core host the
#: benchmark was defined on: a time scaled to the reference host speed reads
#: as the seconds it would take on a host that runs the kernel this fast.
REF_CALIB_S = 0.1

#: Initial JVM heap (the one local-mode JVM also runs every task slot).
INITIAL_HEAP = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.base = os.path.dirname(work)
        self.tracer = Tracer()
        self.spark = None
        self.listener = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.values: dict[str, float] = {}
        self.rounds: list[dict[str, float]] = []
        #: CPU seconds of each step, per round, beside ``rounds``' wall times
        self.cpu_rounds: list[dict[str, float]] = []
        self._cpu: dict[str, float] = {}
        #: calibration kernel seconds, before the first round and after each
        self.calib: list[float] = []
        self.jvm_pid: int | None = None
        self.rss: dict[str, float] = {}

    # -- helpers the workloads call -------------------------------------------

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fail(self, note: str) -> None:
        """A failed check of an operation already counted as attempted."""
        self.failed += 1
        self.notes.append(note)

    def op(self, name: str, fn):
        """Run one counted operation; a raise counts as a failure and
        returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - every raise is a failure
            self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def step(self, name: str, group: str, fn, out: dict) -> float | None:
        """One timed step of a round, as a traced span; its wall seconds go
        into ``out[name]`` and its CPU seconds (see ``tree_cpu_s``) into
        the round's CPU record. None when it raised."""
        span = self.tracer.open(name, group=group)
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobDescription(f"{DESC_PREFIX}{span.id}:{name}")
        cpu = tree_cpu_s(self.jvm_pid)
        ok = self.op(name, lambda: fn() or True)
        cpu = tree_cpu_s(self.jvm_pid) - cpu
        if self.trace:
            sc.setJobDescription(None)
        seconds = self.tracer.close(span)
        if ok is None:
            return None
        out[name] = seconds
        self._cpu[name] = cpu
        return seconds

    def step_medians(self) -> dict[str, float]:
        return {s: median([r[s] for r in self.rounds]) for s in self.workload.steps}

    def listener_records(self, queries: int) -> list[dict]:
        """The MetricsListener's records, once it has seen ``queries``
        queries terminate (events arrive on Spark's listener bus)."""
        deadline = time.monotonic() + 15
        while time.monotonic() < deadline:
            recs = list(self.listener.records)
            if sum(r["event"] == "terminated" for r in recs) >= queries:
                return recs
            time.sleep(0.1)
        self.fail(f"listener saw fewer than {queries} query terminations")
        return list(self.listener.records)

    def stderr_count(self, needle: str) -> int:
        with open(os.path.join(self.work, "stderr.log"), errors="replace") as f:
            return sum(needle in line for line in f)

    # -- phases ---------------------------------------------------------------

    def _timed(self, key: str, fn):
        t = time.time()
        out = fn()
        self.values[key] = time.time() - t
        return out

    def _session(self):
        from redix_stream_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("tmp"),
            # The heap starts at 2 GiB, touched up front. G1 sizes the heap by
            # GC timing, and the JVM's RSS with it: from its default start
            # peak RSS spread by a quarter across runs, and from 1 GiB a
            # third of analytics runs still grew it by about 1 GiB. The
            # engine's maximum heap is kept, so use beyond 2 GiB still shows.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
                f" -Xms{INITIAL_HEAP} -XX:+AlwaysPreTouch"
            ),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": self.path("eventlog"),
                }
            )
        return get_spark("perfbench", cpus=cpus(), extra_conf=conf)

    def setup(self) -> None:
        """Process start to the first timed operation: imports, the session
        (JVM launch), the registry, the inputs and the warm-up. The untimed
        checks that follow are not part of it."""
        from redix_stream_spark import registry

        span = self.tracer.open("setup")
        self.spark = self._timed("session.get_spark_s", self._session)
        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        self.queries, self.oracles = self._timed(
            "registry.load_s", lambda: (registry.all_queries(), registry.all_oracle_sql())
        )
        self._timed("setup.inputs_s", lambda: self.workload.inputs(self))
        self._timed("setup.warmup_s", lambda: self.op("warm-up", lambda: self.workload.warmup(self)))
        self.tracer.close(span)
        self.values["setup_s"] = time.time() - T_PROCESS

    def sample_rss(self) -> None:
        """Keep the largest summed peak RSS seen so far (see ``rss_kb``)."""
        jvm, python = rss_kb(self.jvm_pid)
        if jvm + python > self.rss.get("total", 0):
            self.rss = {"total": jvm + python, "jvm": jvm, "python": python}

    def measure(self) -> None:
        from redix_stream_spark.streaming.metrics import MetricsListener

        self.listener = MetricsListener()
        self.spark.streams.addListener(self.listener)
        span = self.tracer.open("check")
        self.workload.check(self)
        self.tracer.close(span)
        self.sample_rss()
        measured, r = 0.0, 0
        calibrate(self.spark)  # not kept: the first run compiles the Spark job
        self.calib.append(calibrate(self.spark))
        while r < self.workload.min_rounds or measured < self.seconds:
            span = self.tracer.open(f"round.{r}")
            self._cpu = {}
            steps = self.workload.round(self, r)
            self.tracer.close(span)
            self.calib.append(calibrate(self.spark))
            measured += sum(steps.values()) if steps else span.seconds
            if steps:
                self.rounds.append(steps)
                self.cpu_rounds.append(self._cpu)
            r += 1
            self.sample_rss()
        span = self.tracer.open("teardown")
        self.workload.teardown(self)
        self.tracer.close(span)
        self.sample_rss()
        if not self.rounds:
            raise RuntimeError("no round completed: " + "; ".join(self.notes[:5]))
        speed = REF_CALIB_S / median(self.calib)
        v = self.values
        v["rounds"] = len(self.rounds)
        v["host.calib_ms"] = median(self.calib) * 1000.0
        v["raw.round_s"] = median([sum(r.values()) for r in self.rounds])
        v["raw.step_geomean_s"] = geomean(list(self.step_medians().values()))
        v["raw.round_cpu_s"] = median([sum(r.values()) for r in self.cpu_rounds])
        v["round_ref_s"] = v["raw.round_s"] * speed
        v["step_geomean_ref_s"] = v["raw.step_geomean_s"] * speed
        self.values["peak_rss_mb"] = self.rss["total"] / 1024.0
        self.values["rss.jvm_mb"] = self.rss["jvm"] / 1024.0
        self.values["rss.python_mb"] = self.rss["python"] / 1024.0
        self.values.update(self.workload.layers(self))

    def finish(self) -> None:
        stop_spark(self.spark)
        self.spark = None
        if not self.trace:
            return
        for key in END_TO_END_TIMES:
            self.values[f"trace.{key}"] = self.values[key]
        self.values["trace.spans"] = len(self.tracer.spans)
        events = read_event_log(os.path.join(self.work, "eventlog"))
        for group, fields in attribute(self.tracer.step_spans(), events).items():
            for field, v in fields.items():
                self.values[f"spark.{group}.{field}"] = v / len(self.rounds)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vm_hwm_kb(pid: int) -> int:
    """Peak resident set of one process; 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            return next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
    except OSError:
        return 0


def _descendants(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for task in tasks:
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            continue
        for kid in kids:
            out += [kid] + _descendants(kid)
    return out


def rss_kb(jvm_pid: int) -> tuple[int, int]:
    """Peak RSS (VmHWM, KiB) of the session's JVM, and summed over the
    Python processes: this one plus the JVM's descendants (PySpark's worker
    daemon and the executor workers that run by_key handlers and Arrow
    UDFs). Forked workers share pages with the daemon, so the sum counts
    those pages once per process."""
    python = _vm_hwm_kb(os.getpid()) + sum(_vm_hwm_kb(p) for p in _descendants(jvm_pid))
    return _vm_hwm_kb(jvm_pid), python


CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process (all its threads, exited ones too) and of
    its reaped children; 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the session's processes: this Python
    process, the JVM (which runs every task slot) and the JVM's
    descendants (the Python workers). Time a process spent waiting for a
    core, or that the hypervisor stole from its CPU, is not in it; a host
    that runs each instruction slower still raises it."""
    ticks = _cpu_ticks(jvm_pid) + sum(_cpu_ticks(p) for p in _descendants(jvm_pid))
    return time.process_time() + ticks / CLOCK_TICKS


def _best_of(n: int, fn) -> float:
    """The shortest wall time of ``n`` calls of ``fn``."""
    best = math.inf
    for _ in range(n):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def calibrate(spark) -> float:
    """Wall seconds of a fixed kernel that runs none of the engine's code.
    Its single-threaded part hashes 16 MiB with sha256 and runs a
    half-million-step Python loop; its parallel part is a Spark job that
    hashes 10 million generated rows on every core into the ``noop`` sink.
    The result is the geometric mean of the two parts, each the best of
    three tries. On a shared host the same code can run twice as slow for
    minutes at a time; the kernel slows with it, so times scaled by it hold
    still (see README.md, *Host speed*)."""
    buf = bytes(16 << 20)

    def single():
        hashlib.sha256(buf).digest()
        x = 0
        for i in range(500_000):
            x += i * i % 7

    def parallel():
        (
            spark.range(0, 10_000_000, 1, cpus())
            .selectExpr("hash(id) AS h")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    return math.sqrt(_best_of(3, single) * _best_of(3, parallel))


def source_digest() -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(ENGINE)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                h.update(os.path.relpath(full, ROOT).encode())
                with open(full, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def environment(args, spark_version: str) -> dict:
    import pyarrow

    return {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus(),
        "spark": spark_version,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "inputs": "generated by perfbench/datagen.py from the seed (analytics tables: fixed seed 42)",
        "git_commit": git_commit(),
        "engine_sha": source_digest(),
    }


def isolate(work: str) -> int:
    """Keep every file the run writes inside ``work``, and send stderr
    (including the JVM's log) to ``work/stderr.log``; returns a duplicate
    of the original stderr."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    saved = os.dup(2)
    fd = os.open(os.path.join(work, "stderr.log"), os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    return saved


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ENGINE, "__init__.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    saved_stderr = isolate(work)

    from pyspark.cloudpickle import register_pickle_by_value

    import redix_stream_spark

    if os.path.dirname(os.path.abspath(redix_stream_spark.__file__)) != ENGINE:
        os.write(saved_stderr, b"engine imported from outside the checkout\n")
        return 2
    register_pickle_by_value(handlers)

    run = Run(WORKLOADS[args.workload](), args.seed, args.seconds, bool(args.trace), work)
    spark_version = None
    try:
        top = run.tracer.open("run")
        wl = run.tracer.open(args.workload)
        run.setup()
        spark_version = run.spark.version
        run.measure()
        run.tracer.close(wl)
        run.tracer.close(top)
        run.finish()
    except Exception as e:  # noqa: BLE001
        os.write(saved_stderr, f"benchmark aborted: {type(e).__name__}: {e}\n".encode())
        for note in run.notes[:20]:
            os.write(saved_stderr, f"  {note}\n".encode())
        if run.spark is not None:
            stop_spark(run.spark)
        return 1
    problems = run.tracer.check_tree()
    for note in problems:
        run.fail(f"span tree: {note}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-{args.seed}-{'trace' if args.trace else 'plain'}"
    run.tracer.write(os.path.join(results, f"{stem}.spans.json"))
    detail = {
        "env": environment(args, spark_version),
        "values": run.values,
        "failures": run.notes,
        "rounds": run.rounds,
        "cpu_rounds": run.cpu_rounds,
        "calib": run.calib,
    }
    with open(os.path.join(results, f"{stem}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": assemble(run.values, bool(args.trace)),
    }
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
