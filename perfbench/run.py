"""Repository benchmark: one closed-loop client driving the engine at
``local[nproc]`` through one of two workloads.

    python3 perfbench/run.py --workload enrich --seed 1 --seconds 10 --trace 0

Run from the repository root. Every pass is checked. With ``--trace 0``
the last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics of a traced run (Spark event log on). The
line before it is a header describing the run. All scratch state lives in
``.perfbench_work/`` under the root and is removed on exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
CLEANER_WAIT_S = 1.0


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by process ``pid`` and by
    this process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    own = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + own.user + own.system


def _source_digest() -> str:
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "upgini_spark"))):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


class Sessions:
    """Fresh Spark sessions on one driver JVM, with all scratch state
    (warehouse, local dirs, temp files, event logs) under ``work``."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None

    def fresh(self, event_log: bool = False):
        from upgini_spark.session import get_spark

        self.stop()
        conf = {
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.local.dir": f"{self.work}/local",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
        }
        if event_log:
            os.makedirs(f"{self.work}/events", exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.work}/events",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        else:
            conf["spark.eventLog.enabled"] = "false"
        self.spark = get_spark("perfbench", extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the driver JVM, waiting for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


class Tally:
    """Counts passes and checks attempted and failed."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def record(self, label: str, run) -> float | None:
        """Run one pass, count it and its checks; return its wall time."""
        self.attempted += 1
        try:
            elapsed, checks = run()
        except Exception as e:  # a failed pass is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            self.failures.append(f"{label}: {type(e).__name__}: {str(e)[:300]}")
            return None
        for name, ok in checks:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"{label}: check {name} failed")
        return elapsed


def _set_up(sessions: Sessions, wl, event_log: bool, rep: int):
    spark = sessions.fresh(event_log)
    rep_dir = f"{sessions.work}/rep{rep}"
    shutil.rmtree(rep_dir, ignore_errors=True)
    os.makedirs(rep_dir)
    wl.setup(spark, rep_dir)
    return spark


def _passes(wl, seconds: float) -> int:
    """How many passes ``seconds`` buys. The count, not the clock, ends
    the loop, so both sides of a comparison measure the same passes of the
    JIT warm-up curve."""
    return max(1, round(seconds / wl.seconds_per_pass))


def _loop(tally: Tally, n: int, one_pass, label: str = "pass") -> list[float]:
    """``n`` passes; returns the wall times of those that succeeded."""
    walls = [tally.record(f"{label} {i}", one_pass) for i in range(n)]
    return [w for w in walls if w is not None]


def _environment(spark) -> dict:
    import pyspark

    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


class Yardstick:
    """The ``yardstick.py`` process: a fixed workload outside the driver,
    timed on request."""

    def __init__(self, cores: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "yardstick.py"), str(cores)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def measure(self) -> float:
        self.proc.stdin.write("\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("yardstick process ended")
        return float(line)

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def _kept_mb(spark) -> tuple[float, float]:
    """Live heap and non-heap use, in MB, of the driver JVM (in local mode
    the executors share it) once everything unreferenced is collected.
    Python drops its handles to JVM objects first; Spark's cleaner then
    removes the blocks and broadcasts those handles kept, which the second
    collection frees. Called once, after the last measured pass: a full GC
    between passes would change how the next pass runs (G1 shrinks the
    heap)."""
    import gc

    gc.collect()
    system = spark._jvm.java.lang.System
    system.gc()
    time.sleep(CLEANER_WAIT_S)
    system.gc()
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (bean.getHeapMemoryUsage().getUsed() / 2**20,
            bean.getNonHeapMemoryUsage().getUsed() / 2**20)


def timed_run(sessions: Sessions, wl, seconds: float, tally: Tally, yard: Yardstick) -> dict:
    """End-to-end metrics: set-up repeated ``SETUP_REPS`` times in fresh
    sessions (median) plus the warm-up passes, then the measured passes,
    each between two runs of the yardstick."""
    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = _set_up(sessions, wl, False, rep)
        setups.append(time.perf_counter() - t0)
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    warmup = [tally.record(f"warm-up {i}", lambda: wl.run(spark))
              for i in range(wl.warmup_passes)]
    walls, cpus, yards = [], [], [yard.measure()]
    for i in range(_passes(wl, seconds)):
        c0 = _cpu_s(jvm_pid)
        w = tally.record(f"pass {i}", lambda: wl.run(spark))
        c1 = _cpu_s(jvm_pid)
        yards.append(yard.measure())
        if w is None:
            yards.pop()
        else:
            walls.append(w)
            cpus.append(c1 - c0)
    heap, non_heap = _kept_mb(spark)
    wl.teardown(spark)
    # a pass's time in units of the yardstick timed on either side of it
    in_yards = [w / ((yards[i] + yards[i + 1]) / 2) for i, w in enumerate(walls)]
    py = _peak_rss_mb(os.getpid())
    return {
        "setup_s": (statistics.median(setups) + sum(w or 0.0 for w in warmup), "s"),
        "rows_per_ref": (wl.rows / statistics.median(in_yards) if walls else 0.0, "1/ref"),
        "driver_mem_mb": (heap + non_heap + py, "MB"),
    }, {"passes": len(walls), "pass_s": walls, "pass_cpu_s": cpus, "yard_s": yards,
        "rows_per_s": wl.rows / statistics.median(walls) if walls else 0.0,
        "mem_live_heap_mb": heap, "mem_non_heap_mb": non_heap, "mem_py_mb": py,
        "mem_jvm_vmhwm_mb": _peak_rss_mb(jvm_pid),
        "setup_reps_s": setups, "warmup_s": warmup, **_environment(spark)}


def traced_run(sessions: Sessions, wl, seconds: float, tally: Tally) -> dict:
    """Per-layer metrics: untraced passes in one session, then as many
    traced passes in a session with the event log on; the difference of
    the two pass medians is the tracing overhead."""
    import spans

    def trace_pass(spark, tracer=None):
        # the bucketed layout write is a traced layer, so both sides of the
        # overhead comparison include it
        return wl.run(spark, tracer, relayout=True)

    spark = _set_up(sessions, wl, False, 0)
    # fewer warm-up passes than a timed run: per-layer figures have no
    # bound, and every traced pass also rewrites the bucketed layout
    _loop(tally, max(1, wl.warmup_passes // 2), lambda: trace_pass(spark), "warm-up")
    # half the timed run's passes: traced passes re-run prefixes and rewrite
    # the bucketed layout, so each costs about twice as much
    n = max(1, _passes(wl, seconds) // 2)
    untraced = statistics.median(_loop(tally, n, lambda: trace_pass(spark)) or [float("nan")])

    spark = _set_up(sessions, wl, True, 1)
    tracer = spans.Tracer(spark)
    for module, attr, name in wl.eager_spans:
        tracer.wrap(__import__(module, fromlist=[attr]), attr, name)
    try:
        def one():
            with tracer.traced_pass(wl.name):
                return trace_pass(spark, tracer)

        _loop(tally, n, one)
    finally:
        tracer.unwrap()
    exchanges, env = wl.exchanges, _environment(spark)
    wl.teardown(spark)
    sessions.stop()  # flushes the event log
    events = spans.read_event_log(f"{sessions.work}/events")
    metrics = spans.report(tracer, events, untraced, exchanges)
    return ({k: (v, _unit(k)) for k, v in metrics.items()},
            {"traced_passes": len(tracer.passes), **env})


def _unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main() -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "upgini_spark", "__init__.py")):
        print(f"perfbench: no upgini_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(f"{work}/{d}")
    os.environ.update({"SPARK_GRAFT_CPUS": str(cpus), "SPARK_LOCAL_DIRS": f"{work}/local",
                       "TMPDIR": f"{work}/tmp"})
    sys.path[:0] = [ROOT, HERE]
    sessions, tally = Sessions(work), Tally()
    yard = None if args.trace else Yardstick(cpus)
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        wl = WORKLOADS[args.workload](args.seed)
        if args.trace:
            metrics, detail = traced_run(sessions, wl, args.seconds, tally)
        else:
            metrics, detail = timed_run(sessions, wl, args.seconds, tally, yard)
        header = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus,
            "input_rows": wl.rows, "git_commit": _git_commit(),
            "source_digest": _source_digest(), "failures": tally.failures, **detail,
        }
    finally:
        sessions.shutdown()
        if yard is not None:
            yard.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    header["run_s"] = time.perf_counter() - started
    print(json.dumps({"header": header}))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
