"""Benchmark runner: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload hourly_batch --seed 1 --seconds 12 --trace 0

Runs from any working directory. The run starts Spark on ``local[nproc]``,
builds its inputs from ``--seed`` alone, sets the workload up (session
start, bootstrap state, a fixed number of warm-up ops), then
issues ops back to back for ``--seconds`` seconds: the next op starts
when the previous one returns. Every op's output is checked against the
generator's model outside the timed region; an exception or a mismatch
counts the op as failed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a
separate run that reports the per-layer metrics (see ``trace.py``).
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries
the full report (every op latency, tail percentile, host probe).

All state, landing, output, Spark scratch and temp files live in a fresh
``.perfbench_work`` directory at the repository root, removed at
exit. A run refuses to start while a previous run's directory remains.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

WORK_DIR = ".perfbench_work"
# the repository root: perfbench/ sits directly under it
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RSS_INTERVAL_S = 0.25


def _process_start_epoch() -> float:
    """Wall-clock time this process started (from /proc), so set-up
    time includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return time.time()


# The timed loop runs for --seconds and at least this many ops; run-to-run
# spread comes mostly from the host, not from the op count.
MIN_TIMED_OPS = 2


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and Spark's Python workers), sampled from /proc every
    ``RSS_INTERVAL_S`` seconds. Each process counts its proportional set size,
    so pages that forked Python workers share are counted once.

    A sampled sum, not the kernel's per-process peaks (``VmHWM``):
    summing those swung from 3.1 to 7.9 GB between identical
    hourly_batch runs, because short spikes in single processes and the
    number of idle workers Spark's worker reuse leaves alive vary with
    task timing; the sampled sum stayed within about 10%."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.peak_procs = 0  # processes alive at the peak sample
        self._stop_evt = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def _poll(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, n, todo = 0, 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            n += 1
            total += self._pss(pid)
            todo.extend(children.get(pid, ()))
        if total > self.peak:
            self.peak, self.peak_procs = total, n

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._poll()
            self._stop_evt.wait(RSS_INTERVAL_S)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def host_probe() -> dict:
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return {
        "nproc": os.cpu_count(),
        "loadavg_1m": os.getloadavg()[0],
        "py_loop_s": round(time.perf_counter() - t0, 4),
    }


def tail_percentile(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            q = statistics.quantiles(values, n=1000, method="inclusive")
            return {"pct": p, "value_s": q[int(p * 10) - 1], "n": n}
    return {"pct": None, "value_s": None, "n": n}


def _spark_env(root: str, work: str) -> None:
    """Environment the JVM and Spark's Python workers inherit: scratch
    inside the work dir, and the repository on the workers' import path
    whatever their working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def start_spark(work: str, event_log: str | None):
    from rental_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # the package's code-cache size, plus JVM scratch inside the work
    # dir (no hsperfdata file under /tmp)
    java_opts = f"-XX:ReservedCodeCacheSize=1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to
    exit; the JVM takes Spark's Python workers down with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def _attempt(wl, op, errors: list, tracer=None) -> tuple[float, bool]:
    """Run one op in the timed region and check it outside; returns
    (wall seconds, ok)."""
    ok = True
    if tracer is not None:
        tracer.begin_op(op)
    t0 = time.perf_counter()
    try:
        wl.run(op)
    except Exception as e:  # an op failure is a result, not a crash
        ok = False
        errors.append(f"op {op.index}: {type(e).__name__}: {e}"[:500])
    wall = time.perf_counter() - t0
    if tracer is not None:
        tracer.end_op(op, wall)
    if ok:
        try:
            errs = wl.check(op)
        except Exception as e:
            errs = [f"check raised {type(e).__name__}: {e}"]
        if errs:
            ok = False
            errors.append(f"op {op.index}: " + "; ".join(errs)[:500])
    return wall, ok


def bench(args, work: str) -> dict:
    from perfbench.workloads import WARMUP_OPS, WORKLOADS

    name = args.workload
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(name, work)
    rss = RssSampler()
    rss.start()
    errors: list[str] = []
    spark = None
    try:
        t_sess = time.perf_counter()
        spark = start_spark(work, tracer.event_log_dir if tracer else None)
        session_s = time.perf_counter() - t_sess
        if tracer is not None:
            tracer.attach(spark, session_s)
        wl = WORKLOADS[name](spark, args.seed, work)
        warm: list[float] = []
        for i in range(WARMUP_OPS[name]):
            op = wl.bootstrap() if i == 0 and hasattr(wl, "bootstrap") else wl.prepare(i)
            wall, ok = _attempt(wl, op, errors)
            if not ok:
                raise RuntimeError(f"warm-up op failed: {errors[-1]}")
            warm.append(wall)
        i = len(warm)
        setup_s = time.time() - _process_start_epoch()
        lat: list[float] = []
        records = 0
        failed = 0
        t_loop = time.perf_counter()
        # traced runs alternate traced and untraced ops: two of each
        min_ops = 4 if tracer else MIN_TIMED_OPS
        while time.perf_counter() - t_loop < args.seconds or len(lat) < min_ops:
            op = wl.prepare(i)
            wall, ok = _attempt(wl, op, errors, tracer)
            lat.append(wall)
            records += op.records
            failed += not ok
            i += 1
        state_mb = wl.state_bytes() / 1e6
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
    metrics = {
        "op_p50_s": (statistics.median(lat), "s"),
        "rows_per_s": (records / sum(lat), "rows/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak / 1e6, "MB"),
        "state_mb": (state_mb, "MB"),
    }
    report = {
        "workload": name,
        "seed": args.seed,
        "op_latencies_s": [round(x, 4) for x in lat],
        "warmup_latencies_s": [round(x, 4) for x in warm],
        "tail": tail_percentile(lat),
        "session_start_s": round(session_s, 4),
        "peak_rss_processes": rss.peak_procs,
        "records": records,
        "errors": errors[:10],
        "host": host_probe(),
    }
    if tracer is not None:
        metrics = tracer.finish()
        report["layers"] = tracer.report
    return {
        "report": report,
        "result": {
            "correct": failed == 0 and not errors,
            "attempted": len(lat),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def main(argv=None) -> int:
    import rental_data_pipeline_spark  # noqa: F401  (fails fast outside a checkout)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, WORK_DIR)
    if os.path.exists(work):
        print(f"perfbench: {work} is left from an earlier run; remove it "
              "before starting a new run", file=sys.stderr)
        return 3
    os.makedirs(work)

    def _term(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _term)
    try:
        _spark_env(ROOT, work)
        out = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["report"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
