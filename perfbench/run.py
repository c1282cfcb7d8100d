"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload monthly_batch --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer ones. See perfbench/README.md for what each metric means.

Everything the run writes stays under ``.perfbench/`` in the
repository root; its per-run directory is removed at exit, except the
traced run's span file under ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "batch_process_dpla_index_spark"

#: input sizes, chosen so one warm pass takes a few seconds on 4 cores
SIZES = {
    "monthly_batch": {"n_items": 6_000},
    "index_lifecycle": {
        "n_vecs": 8_000, "n_appends": 40, "append_size": 400,
        "n_queries": 40, "query_size": 25,
    },
}
#: a run stops starting passes after this long, to end within 180 s
DEADLINE_S = 120.0
DRIVER_MEM = "1g"
#: setup_s is the median of this many cold session starts, one at a time
SETUP_SAMPLES = 2
#: the package's driver-tier caps; a run clears them so every tier
#: runs at its default
TIER_ENV = (
    "SPARK_GRAFT_GRAPH_DRIVER_EDGES", "SPARK_GRAFT_SEED_DRIVER_ROWS",
    "SPARK_GRAFT_CC_DRIVER_EDGES", "SPARK_GRAFT_SIG_DRIVER_SOURCES",
)


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def process_start_epoch() -> float:
    """This process's start time, from /proc (10 ms resolution)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    boot = time.time() - uptime
    return boot + int(fields[19]) / os.sysconf("SC_CLK_TCK")


# ---- processes -----------------------------------------------------------------


def _proc_table() -> dict[int, int]:
    """pid → ppid for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(root: int) -> list[int]:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def become_subreaper() -> None:
    """Orphaned descendants (the JVM of a finished child, Python workers
    of a stopped JVM) are re-parented to this process, so it can wait
    for every process it started."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def reap_all(timeout: float = 30.0, keep: int | None = None) -> None:
    """Wait for every descendant outside ``keep``'s process tree to end;
    kill what outlives ``timeout``."""
    deadline = time.time() + timeout
    me = os.getpid()
    while True:
        spared = set() if keep is None else {keep, *descendants(keep)}
        left = [p for p in descendants(me) if p not in spared]
        if not left:
            return
        for pid in left:
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass  # a grandchild: its own parent reaps it
        time.sleep(0.05)


class RssSampler:
    """Peak resident memory, sampled from /proc: of this process and the
    gateway JVM together (``peak``), and of all other descendants, the
    Python workers, together (``workers_peak``)."""

    LONG_LIVED = ("driver", "java")

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak = 0
        self.workers_peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> dict[str, int]:
        """Resident bytes of the live processes, summed by command name."""
        me = os.getpid()
        out: dict[str, int] = {}
        for pid in [me, *descendants(me)]:
            try:
                with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm", encoding="ascii") as f:
                    name = "driver" if pid == me else f.read().strip()
            except (OSError, IndexError, ValueError):
                continue
            out[name] = out.get(name, 0) + rss
        return out

    def _run(self) -> None:
        while not self._stop.is_set():
            by_name = self.sample()
            long_lived = sum(by_name.get(k, 0) for k in self.LONG_LIVED)
            self.peak = max(self.peak, long_lived)
            self.workers_peak = max(self.workers_peak, sum(by_name.values()) - long_lived)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---- session -------------------------------------------------------------------


def configure_env(run_dir: str) -> None:
    """Process environment for the session and every child: all
    temporary space inside ``run_dir``, ``local[cores()]``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    for k in TIER_ENV:
        os.environ.pop(k, None)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # few malloc arenas: glibc's per-thread arenas make the JVM's
        # resident size wander from run to run (see start_session)
        "MALLOC_ARENA_MAX": "2",
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def _ship_package_into(zip_dir: str) -> None:
    """``session.ship_package`` writes its zip under /tmp; ship the same
    zip from ``zip_dir`` so the run writes only inside the checkout."""
    from batch_process_dpla_index_spark import session

    def ship(spark) -> None:
        key = id(spark.sparkContext)
        if key in session._PYFILES_SHIPPED:
            return
        zip_path = os.path.join(zip_dir, f"{PACKAGE}_{os.getpid()}.zip")
        if not os.path.exists(zip_path):
            with zipfile.ZipFile(zip_path, "w") as zf:
                for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
                    for fn in sorted(files):
                        if fn.endswith(".py"):
                            full = os.path.join(dirpath, fn)
                            zf.write(full, os.path.relpath(full, ROOT))
        spark.sparkContext.addPyFile(zip_path)
        session._PYFILES_SHIPPED.add(key)

    session.ship_package = ship


def start_session(run_dir: str, event_log_dir: str | None = None):
    from batch_process_dpla_index_spark.session import get_spark

    _ship_package_into(os.path.join(run_dir, "tmp"))
    extra = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the heap is committed and touched at start: G1's heap growth
        # otherwise makes the JVM's resident size wander by ~20% per run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores()}]", extra_confs=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def setup_probe(run_dir: str) -> int:
    """Child mode: start a session, say when it is ready, and exit; the
    gateway JVM ends when this process's exit closes its stdin."""
    start_session(run_dir)
    print("READY", flush=True)
    return 0


def probe_setup(main_jvm: int) -> float:
    """Seconds from launching a fresh child process until its session
    is ready; returns once the child and its JVM have ended."""
    t0 = time.perf_counter()
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--setup-probe"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    ready = None
    for line in child.stdout:
        if line.strip() == "READY":
            ready = time.perf_counter() - t0
            break
    child.stdout.close()
    rc = child.wait(timeout=60)
    reap_all(keep=main_jvm)
    if ready is None or rc != 0:
        raise RuntimeError(f"set-up probe failed (rc={rc})")
    return ready


# ---- event log on demand ---------------------------------------------------------


class EventLogSwitch:
    """Spark's own EventLoggingListener, attached to the running
    context only while a traced pass runs, so one process measures
    traced and untraced passes. Each attachment writes one
    uncompressed JSON-lines file under ``log_dir``."""

    def __init__(self, spark, log_dir: str) -> None:
        self.sc = spark.sparkContext
        self.log_dir = log_dir
        self.listener = None
        self.n = 0

    def attach(self) -> None:
        jvm, jsc = self.sc._jvm, self.sc._jsc.sc()
        self.n += 1
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"{self.sc.applicationId}-part{self.n}",
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + self.log_dir),
            jsc.conf(),
            self.sc._jsc.hadoopConfiguration(),
        )
        self.listener.start()
        jsc.addSparkListener(self.listener)

    def detach(self) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self.listener)
        self.listener.stop()
        self.listener = None

    def files(self) -> list[str]:
        return sorted(
            os.path.join(self.log_dir, f) for f in os.listdir(self.log_dir)
            if not f.endswith(".inprogress")
        )


def jvm_gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ---- the run -------------------------------------------------------------------


def generate(workload: str, seed: int, root: str):
    import gen

    sizes = SIZES[workload]
    return getattr(gen, workload)(seed, root, **sizes)


def make_workload(name: str, spark, inputs, work_dir: str, tracer):
    from workloads import WORKLOADS

    return WORKLOADS[name](spark, inputs, work_dir, tracer)


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.t_start = time.time()
        self.failed = 0
        self.failures: list[str] = []
        self.pass_s: list[float] = []
        self.pass_rows: list[int] = []
        self.traced: list[bool] = []
        self.check_s = 0.0

    def one_pass(self, wl, i: int) -> bool:
        """Time pass ``i`` and check it; False when it raised."""
        t0 = time.perf_counter()
        try:
            rows = wl.run_pass(i)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            self.failures.append(f"pass {i} raised")
            return False
        self.pass_s.append(time.perf_counter() - t0)
        self.pass_rows.append(rows)
        t1 = time.perf_counter()
        bad = wl.check(i)
        self.check_s += time.perf_counter() - t1
        self.failed += len(bad)
        self.failures.extend(f"pass {i}: {b}" for b in bad)
        return True

    def keep_going(self, wl, i: int, t_measure: float, need: int) -> bool:
        if i >= wl.max_passes() or time.time() - self.t_start > DEADLINE_S:
            return False
        return time.time() - t_measure < self.args.seconds or i <= need


def run_untraced(args, run_dir: str) -> dict:
    from tracing import Tracer

    t0 = process_start_epoch()
    spark = start_session(run_dir)
    from pyspark import SparkContext

    samples = [time.time() - t0]
    samples += [probe_setup(SparkContext._gateway.proc.pid) for _ in range(SETUP_SAMPLES - 1)]
    phases = {"setup": time.time() - t0}

    t = time.time()
    inputs = generate(args.workload, args.seed, os.path.join(run_dir, "inputs"))
    phases["generate"] = time.time() - t
    run = Run(args)
    with RssSampler() as rss:
        wl = make_workload(args.workload, spark, inputs, os.path.join(run_dir, "work"),
                           Tracer("untraced"))
        t = time.time()
        wl.prepare()
        phases["prepare"] = time.time() - t
        ok = run.one_pass(wl, 0)
        t_measure, i = time.time(), 1
        while ok and run.keep_going(wl, i, t_measure, need=2):
            ok = run.one_pass(wl, i)
            i += 1
        ratio = wl.bytes_out_per_byte_in() if len(run.pass_s) > 1 else 0.0
        t = time.time()
        stop_session(spark)
        phases["stop"] = time.time() - t

    warm = [r / s for r, s in zip(run.pass_rows[1:], run.pass_s[1:])]
    info = {
        "inputs": inputs.summary(),
        "setup_samples_s": samples, "phases_s": phases,
        "pass_s": run.pass_s, "pass_rows": run.pass_rows, "check_s": run.check_s,
        "python_workers_peak_mb": rss.workers_peak / 2**20,
        "latency_ms": latency_summary(wl.latencies),
        "failures": run.failures,
    }
    metrics = {
        "setup_s": (statistics.median(samples), "s"),
        "first_pass_s": (run.pass_s[0] if run.pass_s else 0.0, "s"),
        "rows_per_s": (statistics.median(warm) if warm else 0.0, "1/s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "bytes_out_per_byte_in": (ratio, "ratio"),
    }
    return finish(run, wl, metrics, info)


def latency_summary(latencies: dict[str, list[float]]) -> dict:
    from tracing import percentile

    return {
        op: {
            "n": len(xs),
            "p50": 1000 * statistics.median(xs),
            "p90": None if percentile(xs, 90) is None else 1000 * percentile(xs, 90),
        }
        for op, xs in latencies.items()
    }


def environment() -> dict:
    env = {k: os.environ.get(k, "default") for k in TIER_ENV}
    env.update({k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")})
    return {"cores": cores(), "nproc": len(os.sched_getaffinity(0)), "env": env}


def finish(run: Run, wl, metrics: dict, info: dict) -> dict:
    info.update(environment())
    attempted = max(1, wl.ops)
    failed = min(run.failed, attempted)
    print(json.dumps({"info": info}, default=str))
    return {
        "correct": failed == 0 and not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def run_traced(args, run_dir: str) -> dict:
    import layers
    from tracing import Tracer

    t0 = process_start_epoch()
    log_dir = os.path.join(run_dir, "eventlog")
    spark = start_session(run_dir, event_log_dir=log_dir)
    start_s = time.time() - t0
    spark.range(4).count()  # first job: JIT and scheduler warm-up
    t1 = time.perf_counter()
    spark.range(4).mapInArrow(lambda it: it, "id long").count()
    worker_warm_s = time.perf_counter() - t1

    inputs = generate(args.workload, args.seed, os.path.join(run_dir, "inputs"))
    run = Run(args)
    tracer = Tracer(f"{args.workload}-{args.seed}", spark.sparkContext)
    events = EventLogSwitch(spark, log_dir)
    wl = make_workload(args.workload, spark, inputs, os.path.join(run_dir, "work"), tracer)
    wl.prepare()
    pass_spans: list[tuple[int, bool]] = []  # (span id of the pass, warm)
    gc: list[float] = []

    def traced_pass(i: int) -> bool:
        tracer.enabled = True
        events.attach()
        gc0 = jvm_gc_seconds(spark)
        try:
            with tracer.span(f"pass{i}"):
                pass_spans.append((len(tracer.spans) - 1, i > 0))
                ok = run.one_pass(wl, i)
        finally:
            tracer.enabled = False
            events.detach()
        if i > 0:
            gc.append(jvm_gc_seconds(spark) - gc0)
        run.traced.append(True)
        return ok

    with RssSampler() as rss:
        ok = traced_pass(0)
        t_measure, i = time.time(), 1
        # warm passes alternate traced and untraced (T U T U ...); the first
        # warm pass is still the slowest, so with few passes the overhead
        # estimate errs high
        while ok and run.keep_going(wl, i, t_measure, need=2):
            if i % 2 == 0:
                ok = run.one_pass(wl, i)
                run.traced.append(False)
            else:
                ok = traced_pass(i)
            i += 1
    avro_rate = layers.avro_decode_rate(spark, wl) if ok else 0.0
    stop_session(spark)

    warm = list(zip(run.pass_s[1:], run.traced[1:]))
    on = [s for s, t in warm if t]
    off = [s for s, t in warm if not t]
    overhead = 100 * (statistics.median(on) / statistics.median(off) - 1) if on and off else 0.0
    receipts = layers.receipts(tracer, events.files(), pass_spans)
    metrics = layers.per_layer_metrics(
        args.workload, wl, receipts,
        extra={
            "session.start_s": start_s,
            "session.worker_warm_s": worker_warm_s,
            "gc_s": statistics.median(gc) if gc else 0.0,
            "trace.overhead_pct": overhead,
            "python_workers.peak_rss_mb": rss.workers_peak / 2**20,
            "monthly_batch.io.avro_decode_rows_per_s": avro_rate,
        },
    )
    trace_path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
    tracer.dump(trace_path)
    info = {
        "inputs": inputs.summary(),
        "pass_s": run.pass_s, "traced": run.traced,
        "tracing_overhead_pct": overhead, "spans": trace_path,
        "failures": run.failures,
    }
    return finish(run, wl, metrics, info)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.setup_probe:
        return setup_probe(os.environ["PERFBENCH_RUN_DIR"])
    if args.workload is None:
        ap.error("--workload is required")

    become_subreaper()
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.environ["PERFBENCH_RUN_DIR"] = run_dir
    configure_env(run_dir)
    try:
        result = (run_traced if args.trace else run_untraced)(args, run_dir)
    finally:
        t = time.time()
        reap_all()
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: reap {time.time() - t:.2f}s, total {time.time() - process_start_epoch():.2f}s",
              file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
