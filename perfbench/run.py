"""mtslake benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload {ingest,maintain} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a source tree holding ``mtslake/``. The run starts
a ``local[nproc]`` Spark session driven by this single client thread,
builds the workload's seeded input and store (``setup_s`` is the median
of several set-ups), runs the workload's ops in a closed loop for
``--seconds``, then checks every answer against values derived from the
input. With ``--trace 1`` Spark's event log is enabled, every call into
mtslake is tagged with a job group, and the result carries the
per-layer metrics instead of the end-to-end ones; spans and metrics are
also written to ``.perfbench_out/``.

Before the result, one JSON line carries the run's fingerprint, the
end-to-end metrics, the workload's named metrics and the failures. The
last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The exit code is 0 when every answer checked out, else 1 (2 when the
source tree has no mtslake package to benchmark).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (
    ("setup_s", "s"),
    ("op_cpu_s", "s"),
    ("store_bytes_per_point", "B/point"),
)
# Printed in the detail line, not in the result: on the 4-core host the
# benchmark was written on, the spread of the wall-clock figures across
# ten seeded runs was 12-32% (host speed drifts between runs) and that
# of peak_rss_mb 7-20%, too wide for the bounds the result carries.
WALL = {"op_p50_ms": "ms", "points_per_s": "1/s", "read_p50_ms": "ms"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "maintain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one set-up (the benchmark's tests)")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt one expected answer; the run must fail")
    return ap.parse_args(argv)


PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def proc_tree() -> list[tuple[int, int]]:
    """(rss bytes, cpu ticks) of this process and every descendant (the
    Spark JVM and its Python workers). CPU ticks include reaped
    children, so exited Python workers still count."""
    parent, stat = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        stat[int(d)] = (int(fields[21]) * PAGE,
                        sum(int(x) for x in fields[11:15]))
    me = os.getpid()
    out = []
    for pid, st in stat.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            out.append(st)
    return out


def tree_cpu_s() -> float:
    return sum(cpu for _, cpu in proc_tree()) / TICK


class RssSampler(threading.Thread):
    """Peak resident set of the process tree, sampled from /proc."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_ev = threading.Event()

    def run(self) -> None:
        while not self._stop_ev.wait(self.period):
            self.peak = max(self.peak, sum(r for r, _ in proc_tree()))

    def stop(self) -> float:
        self._stop_ev.set()
        self.join(timeout=5)
        return self.peak / 2**20


def fingerprint(args, nproc: int) -> dict:
    import pyarrow
    import pyspark

    commit = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                ref = f.read().strip()
        commit = ref
    except OSError:
        pass
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": nproc, "loadavg_start": os.getloadavg(),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(), "commit": commit,
    }


def start_spark(work: str, nproc: int, trace: bool):
    from pyspark.sql import SparkSession

    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    driver_mb = max(1024, min(4096, total_mb // 4))
    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("mtslake-perfbench")
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work}/tmp -XX:TieredStopAtLevel=1")
        .config("spark.local.dir", f"{work}/local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"{work}/eventlog")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    me = os.getpid()
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    out = []
    for pid in parent:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me and pid != me:
            out.append(pid)
    return out


def reap() -> None:
    """Collect every exited child, orphans handed to us included."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes() -> None:
    """Stop the Spark JVM and every process it started, and wait for
    each to end. The JVM is asked first (closing its stdin is how
    PySpark tells it to exit); whatever is left is sent SIGTERM, then
    SIGKILL."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = descendants()
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace
        while pids and time.monotonic() < end:
            reap()
            pids = descendants()
            if pids:
                time.sleep(0.05)
        if not pids:
            break
    reap()


def on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mtslake", "__init__.py")):
        print(f"no mtslake package under {ROOT}", file=sys.stderr)
        return 2
    nproc = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # everything the run and its children write stays in the tree
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["MTSLAKE_CONFIG"] = os.path.join(work, "mtslake.json")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no JVM (the spark-submit launcher included) writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path.insert(0, ROOT)
    # processes orphaned by the JVM's exit are handed to this one, so
    # stop_processes can wait for them too (PR_SET_CHILD_SUBREAPER)
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGHUP, on_signal)
    rss = RssSampler()
    rss.start()
    try:
        return run(args, nproc, work, rss)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        rss.stop()
        try:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
        except Exception:
            traceback.print_exc(file=sys.stderr)
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def run(args, nproc: int, work: str, rss: RssSampler) -> int:
    from perfbench import layers
    from perfbench.trace import EventLog, Tracer
    from perfbench.workloads import WORKLOADS

    fp = fingerprint(args, nproc)
    phases: dict[str, float] = {}
    t_phase = time.monotonic()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.monotonic()
        phases[name] = now - t_phase
        t_phase = now

    spark = start_spark(work, nproc, bool(args.trace))
    phase("session")
    tracer = Tracer(spark.sparkContext, jobs=bool(args.trace))
    wl = WORKLOADS[args.workload](
        spark, os.path.join(work, "data"), args.seed,
        "smoke" if args.smoke else "full", tracer, args.plant_wrong)

    setups = wl.setup()
    phase("setup")
    wl.prepare()
    payloads = wl.sample_payloads() if args.trace else []
    phase("prepare")

    # closed loop, one client: ops until --seconds have passed and at
    # least the workload's minimum number of ops has run
    raised: set[int] = set()
    op_cpu: list[float] = []
    attempted = 0
    t_start = time.monotonic()
    while (time.monotonic() - t_start < args.seconds
           or attempted < wl.min_ops):
        cpu0 = tree_cpu_s()
        try:
            wl.op(attempted)
        except Exception:  # an op that raises counts as failed
            traceback.print_exc(file=sys.stderr)
            raised.add(attempted)
        op_cpu.append(tree_cpu_s() - cpu0)
        attempted += 1
    window_s = time.monotonic() - t_start
    phase("window")

    problems: list[str] = []
    try:
        bad, problems = wl.check()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        bad, problems = set(), ["answer checks raised"]
    failed = len(bad | raised)
    correct = failed == 0 and not problems and attempted > 0
    phase("check")

    e2e: dict = {}
    named: dict = {}
    extra: dict = {}
    try:
        walls = wl.walls()
        e2e = {"setup_s": statistics.median(setups),
               "op_cpu_s": statistics.median(op_cpu),
               "store_bytes_per_point": wl.store_bytes_per_point()}
        named = {**{k: (v, WALL[k]) for k, v in walls.items()},
                 **wl.named()}
        if args.trace:
            enc, dec = layers.codec_timing(payloads)
            extra = {
                **layers.INPUT_DEFAULTS, **wl.layer_inputs(),
                "codec_encode_ns": enc, "codec_decode_ns": dec,
                "codec_ratio": wl.codec_ratio(),
                "op_p50_ms": walls["op_p50_ms"],
            }
    except Exception:
        traceback.print_exc(file=sys.stderr)
        correct = False
        problems.append("metrics could not be computed")
    phase("metrics")
    spark.stop()  # flushes the event log
    phase("stop")
    named["peak_rss_mb"] = (rss.stop(), "MB")
    fp["loadavg_end"] = os.getloadavg()
    fp["setup_steps_s"] = setups
    fp["phases_s"] = phases

    per_layer: dict = {}
    if args.trace and correct:
        logs = os.listdir(os.path.join(work, "eventlog"))
        log = EventLog(os.path.join(work, "eventlog", logs[0]))
        per_layer = layers.per_layer(tracer, log, window_s, nproc, extra)

    units = dict(END_TO_END)
    detail = {
        "fingerprint": fp,
        "end_to_end": {k: {"value": v, "unit": units[k]}
                       for k, v in e2e.items()},
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "ops_ms": [[o.kind, round(o.ms, 1)] for o in wl.ops],
        "ops_cpu_s": op_cpu,
        "failed_op_frac": failed / attempted if attempted else 1.0,
        "problems": problems,
    }
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
        tracer.dump(stem + ".spans.json")
        with open(stem + ".layers.json", "w") as f:
            json.dump({"detail": detail, "per_layer": per_layer}, f,
                      indent=1)
    print(json.dumps(detail))
    if args.trace:
        metrics = {k: {"value": per_layer.get(k, 0.0), "unit": u}
                   for k, u in layers.PER_LAYER}
    else:
        metrics = {k: {"value": e2e.get(k, 0.0), "unit": u}
                   for k, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
