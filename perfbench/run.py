"""Benchmark of the sivbp-spark engine: one command, named workloads.

    python3 perfbench/run.py --workload pipeline|serve|all \\
        [--seed N] [--seconds S] [--trace 0|1]

Run from the repository root. One driver process runs Spark at
``local[N]`` (N = usable CPUs) and drives the workload with one
closed-loop client: the next operation starts when the previous one
returns. Outputs are checked outside the timed region. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1`` (spans, Spark event log and stage metrics on).
``--workload all`` runs every workload untraced and traced and reports
the tracing overhead of each end-to-end metric.

Everything the run writes (indexes, warehouse tables, event logs, Spark
local dirs, temp files) goes to a directory inside the checkout that is
removed at exit. The exit code is non-zero when any operation fails or
any output check fails.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

# one BLAS thread per process, as the engine's session sets for its
# workers; set before numpy loads so the CPU floor probe is single-thread
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metric -> unit; identical names on every workload
END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "items_per_cpu_s": "1/s",
    "peak_mem_mb": "MB",
}
CLK_TICK = os.sysconf("SC_CLK_TCK")
FLOOR_PROBES = 3
# An untraced run times at least this many operations (whole rotations),
# so that its median latency is a true median that one slow operation
# cannot move; a slow pipeline run would otherwise time two configs. A
# traced run reports per-call figures and has its post-run operations to
# fit in the same time limit, so it does not extend its loop.
MIN_OPS = 3
# Driver JVM heap: fixed (-Xms = -Xmx) and touched at start, so how far
# the JVM had grown its heap is no part of the memory figure; the heap
# the program holds is read after a full collection instead.
DRIVER_HEAP_MB = 2048
# C1 only: with the full tiered compiler a fresh driver JVM keeps getting
# faster for more than eight pipeline configs (15 s for the first, 4 s for
# the eighth), more warm-up than a run can afford; with C1 alone operation
# times level off after the first operation.
JVM_OPTS = f"-Xms{DRIVER_HEAP_MB}m -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Peak memory of this process and all its descendants (the JVM and
    its Python workers), sampled from /proc. Each process counts its
    proportional set size, so pages that forked Python workers share with
    their parent count once rather than once per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._stop.is_set():
            self.sample()
        self._stop.set()
        self._thread.join(timeout=10)


def tree_cpu_s() -> float:
    """CPU seconds the engine has used so far: this process's main thread
    (the client calling the engine's functions) and every descendant
    process, the JVM and the Python workers, including workers that have
    exited (their parent's reaped-children time). Time the hypervisor
    gives to other machines (steal) is not charged to any process, so
    this follows the shared host's load less than wall time does."""
    ticks = 0
    for pid in process_tree(os.getpid())[1:]:
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TICK + time.thread_time()


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use right after a full collection, in MB: what
    the program holds (cached tables, broadcasts, driver state), free of
    when the collector last happened to run."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def start_session(tmp: str, trace: bool):
    """SparkSession with every write location inside ``tmp``."""
    from semantic_vector_search_system_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": JVM_OPTS,
    }
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    before = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes (PythonGatewayServer)
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # Python workers exit when the JVM's sockets close
    alive = _wait_gone(before, 30)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    _wait_gone(alive, 10)


def _wait_gone(pids: set, timeout: float) -> set:
    """Poll until none of ``pids`` runs; returns those still running."""
    deadline = time.monotonic() + timeout
    while pids:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)}
        if not pids or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    return pids


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return False


def _identity(batches):
    yield from batches


def probe_floors(spark, tracer) -> tuple[float, float]:
    """(job floor ms, cpu floor ms): medians of ``FLOOR_PROBES`` probes.
    The job floor is an empty 4-task ``mapInPandas`` job; the CPU floor a
    fixed single-thread numpy matmul on the driver. A run whose end
    probes read well above its start probes was contended."""
    import numpy as np

    from stats import median

    plan = spark.range(0, 4, 1, 4).mapInPandas(_identity, schema="id long")
    job = []
    for _ in range(FLOOR_PROBES):
        with tracer.call("session", "job_floor") as sp:
            plan.write.format("noop").mode("overwrite").save()
        job.append(sp.seconds * 1000.0)
    a = np.random.default_rng(7).standard_normal((256, 256))
    cpu = []
    for _ in range(FLOOR_PROBES):
        t = time.perf_counter()
        x = a
        for _ in range(8):
            x = a @ x
            x /= np.abs(x).max()
        cpu.append((time.perf_counter() - t) * 1000.0)
    return median(job), median(cpu)


def run_workload(args) -> int:
    sys.path.insert(0, ROOT)
    # fails (non-zero exit, no result) when the engine is not in the checkout
    import semantic_vector_search_system_spark  # noqa: F401

    cpus = len(os.sched_getaffinity(0))  # usable CPUs
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{DRIVER_HEAP_MB}m"
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        # every process started from here (the Spark launcher and driver
        # JVMs, Python workers) writes its temp files inside ``tmp``
        for sub in ("tmp", "local"):
            os.makedirs(os.path.join(tmp, sub))
        os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        )
        os.environ["SPARK_GRAFT_DAEMON_FLUSH_LOG"] = os.path.join(tmp, "daemon_flush.log")
        values, units, attempted, failed, failures = measure(args, tmp, cpus)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for msg in failures:
        print(f"CHECK FAILED {args.workload}: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if not failures else 1


def measure(args, tmp: str, cpus: int):
    """Set up, run the closed loop for ``args.seconds`` of operation time,
    check, and compute the run's metrics."""
    import layers
    import stats
    from spans import Tracer
    from workloads import WORKLOADS

    sampler = RssSampler().start()
    spark = None
    try:
        spark = start_session(tmp, args.trace)
        tracer = Tracer(args.workload, bool(args.trace), spark.sparkContext.setJobDescription)
        # session start includes the first Python-worker job (worker
        # daemon start), which every later job relies on
        spark.range(0, 4, 1, 4).mapInPandas(_identity, schema="id long").write.format(
            "noop").mode("overwrite").save()
        session_s = time.perf_counter() - PROCESS_START
        floors0 = probe_floors(spark, tracer)

        wl = WORKLOADS[args.workload](spark, tracer, tmp, args.seed)
        t = time.perf_counter()
        wl.setup()
        phases = {"session": session_s, "setup": time.perf_counter() - t}
        t = time.perf_counter()
        wl.prepare_checks()
        phases["check_data"] = time.perf_counter() - t
        # warm-up operations (negative indices) let first-use JIT and
        # worker start-up finish before timing; they count as set-up, their
        # checks do not
        warm = []
        for i in range(wl.WARMUP_OPS):
            t = time.perf_counter()
            _, _, pending = wl.run_op(-1 - i)
            warm.append(time.perf_counter() - t)
            pending()
        phases["warmup"] = sum(warm)
        wl.counters.clear()  # per-operation counts cover timed operations only
        setup_s = session_s + phases["setup"] + phases["warmup"]
        live_heap = [live_heap_mb(spark)]

        op_s, op_cpu, items, kinds = [], [], [], []
        # every timed operation's (wall, CPU) seconds, None if it failed
        op_all = []
        failed = attempted = 0
        timed = 0.0
        t_loop = time.perf_counter()
        min_ops = 1 if args.trace else MIN_OPS

        def more() -> bool:
            # whole rotations only, so every run has the same mix of op kinds
            return (timed < args.seconds or attempted % wl.ROTATION > 0
                    or attempted < min_ops * wl.ROTATION)

        while more():
            n_fail = len(wl.failures)
            cpu = tree_cpu_s()
            with tracer.op(attempted):
                t = time.perf_counter()
                try:
                    n, kind, pending = wl.run_op(attempted)
                except Exception:  # one failed operation must not end the run
                    traceback.print_exc()
                    n, kind, pending = 0, "error", None
                    wl.fail(f"op {attempted} raised")
                dt = time.perf_counter() - t
            cpu = tree_cpu_s() - cpu
            timed += dt
            attempted += 1
            if not more():
                # the last timed operation, its results not yet released
                live_heap.append(live_heap_mb(spark))
            if pending is not None:
                try:
                    pending()
                except Exception:
                    traceback.print_exc()
                    wl.fail(f"op {attempted - 1} check raised")
            if len(wl.failures) > n_fail:
                failed += 1
                op_all.append(None)
                continue
            op_all.append((dt, cpu))
            op_s.append(dt)
            op_cpu.append(cpu)
            items.append(n)
            kinds.append(kind)
        phases["loop"] = time.perf_counter() - t_loop
        sampler.stop()  # peak memory of set-up and the timed run
        # post-run maintenance and checks count as one more operation
        t = time.perf_counter()
        n_fail = len(wl.failures)
        post = True
        try:
            post = wl.finish()
        except Exception:
            traceback.print_exc()
            wl.fail("post-run operation raised")
        if post:
            attempted += 1
            failed += len(wl.failures) > n_fail
        phases["post_run"] = time.perf_counter() - t
        floors1 = probe_floors(spark, tracer)
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        sampler.stop()
    phases["stop"] = time.perf_counter() - t

    # an operation of the end-to-end metrics is one rotation of op kinds
    # (serve: an exact, a hybrid and an IVF call), so each kind counts
    rot = [op_all[i:i + wl.ROTATION] for i in range(0, len(op_all), wl.ROTATION)]
    rot = [r for r in rot if None not in r]
    rot_s = [sum(w for w, _ in r) for r in rot]
    rot_cpu = [sum(c for _, c in r) for r in rot]
    mem = {
        "tree_pss_peak_mb": sampler.peak_bytes / 2**20,
        "live_heap_mb": max(live_heap),
    }
    mem["nonheap_pss_peak_mb"] = mem["tree_pss_peak_mb"] - DRIVER_HEAP_MB
    e2e = {
        "setup_s": setup_s,
        "op_cpu_ms": stats.median(rot_cpu) * 1000.0 if rot else float("nan"),
        "items_per_cpu_s": sum(items) / sum(op_cpu) if op_cpu else float("nan"),
        "peak_mem_mb": mem["nonheap_pss_peak_mb"] + mem["live_heap_mb"],
    }
    wall = {
        "op_p50_ms": stats.median(rot_s) * 1000.0 if rot else None,
        "items_per_s": sum(items) / sum(op_s) if op_s else None,
    }
    report(args, e2e, wall, rot_s, rot_cpu, op_s, items, kinds, attempted, failed,
           wl, floors0, floors1, phases, cpus, mem)
    if not args.trace:
        return e2e, END_TO_END, attempted, failed, wl.failures
    import eventlog

    jobs, sql = {}, {}
    for path in eventlog.app_logs(os.path.join(tmp, "eventlog")):
        j, s = eventlog.parse(eventlog.read_events(path))
        jobs.update(j)
        sql.update(s)
    print("spans " + json.dumps(tracer.dump()))
    floors = {
        "job_floor_ms": stats.median([floors0[0], floors1[0]]),
        "cpu_floor_ms": stats.median([floors0[1], floors1[1]]),
    }
    values = layers.compute(tracer.spans, jobs, sql, wl.counters, floors, e2e)
    return values, layers.metric_units(END_TO_END), attempted, failed, wl.failures


def report(args, e2e, wall, rot_s, rot_cpu, op_s, items, kinds, attempted, failed,
           wl, floors0, floors1, phases, cpus, mem) -> None:
    """Human-readable record of the run, every metric with unit and count."""
    import stats

    def line(name, value, unit, n):
        v = "n/a" if value is None else f"{value:.6g}"
        print(f"{args.workload:9s} {name:28s} {v:>12s} {unit:9s} n={n}")

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} local[{cpus}]")
    print("# phases_s " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    print("# rotations_ms wall=" + ",".join(f"{w * 1000:.0f}" for w in rot_s)
          + " cpu=" + ",".join(f"{c * 1000:.0f}" for c in rot_cpu))
    line("session_start_s", phases["session"], "s", 1)
    line("setup_s", e2e["setup_s"], "s", 1)
    line("op_cpu_ms", e2e["op_cpu_ms"], "ms", len(rot_cpu))
    line("items_per_cpu_s", e2e["items_per_cpu_s"], "1/s", len(op_s))
    line("peak_mem_mb", e2e["peak_mem_mb"], "MB", 1)
    line("op_p50_ms", wall["op_p50_ms"], "ms", len(rot_s))
    line("items_per_s", wall["items_per_s"], "1/s", len(op_s))
    for name, value in mem.items():
        line(name, value, "MB", 1)
    summ = stats.summarize([t * 1000.0 for t in op_s])
    for p in ("p90", "p99", "p99.9"):
        if p in summ:
            line(f"op_{p}_ms", summ[p], "ms", len(op_s))
    line("ops_failed_frac", failed / max(attempted, 1), "ratio", attempted)
    for name, value, unit, n in wl.details(op_s, items, kinds):
        line(name, value, unit, n)
    line("job_floor_ms_start", floors0[0], "ms", FLOOR_PROBES)
    line("job_floor_ms_end", floors1[0], "ms", FLOOR_PROBES)
    line("cpu_floor_ms_start", floors0[1], "ms", FLOOR_PROBES)
    line("cpu_floor_ms_end", floors1[1], "ms", FLOOR_PROBES)
    ratio = max(floors1[0] / floors0[0], floors1[1] / floors0[1])
    if ratio > 1.3:
        print(f"# contended: end floors read {ratio:.2f}x the start floors")


def run_all(args) -> int:
    """Every workload, untraced then traced, with the tracing overhead."""
    from workloads import WORKLOADS

    rc = 0
    summary = {}
    for name in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            lines = proc.stdout.splitlines()
            sys.stdout.write("\n".join(ln for ln in lines[:-1] if not ln.startswith("spans ")) + "\n")
            if proc.returncode != 0 or not lines:
                print(f"# {name} trace={trace} failed (exit {proc.returncode})")
                rc = 1
                continue
            results[trace] = json.loads(lines[-1])
        if len(results) == 2:
            plain, traced = results[0]["metrics"], results[1]["metrics"]
            summary[name] = {}
            for m, unit in END_TO_END.items():
                a, b = plain[m]["value"], traced[f"traced.{m}"]["value"]
                summary[name][m] = {"untraced": a, "traced": b, "overhead": b - a, "unit": unit}
                print(f"{name:9s} tracing overhead {m:14s} {b - a:+12.6g} {unit} "
                      f"(untraced {a:.6g}, traced {b:.6g})")
    print(json.dumps(summary))
    return rc


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
