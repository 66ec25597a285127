#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload extract_light --seed 1 --seconds 6 --trace 0

The run starts a ``local[<cpus>]`` session, generates the seeded inputs
(``inputs.py``), materializes the corpus, warms up, then repeats the
workload's pass as a closed loop (one pass at a time) for ``--seconds``
and at least ``MIN_PASSES`` passes, and checks the outputs against
``corpus.oracle_extract`` (and, for ``commit_resume``, that every url is
committed exactly once). Everything it writes stays under
``perfbench/.work``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` enables
Spark's event log from the environment (``PYSPARK_SUBMIT_ARGS``) and
prints the per-layer ledger (``ledger.py``). Its passes alternate between
untraced and traced: between passes the event-log listener is detached
from Spark's listener bus and attached again, so the tracing overhead is
traced minus untraced ``job_s`` within one session and one set-up.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_REPS = 3
# the heap grows on demand up to this, so the JVM's RSS follows what the
# program allocates
DRIVER_MEM = "2g"
JVM_OPTIONS = "-XX:-UsePerfData"
# a run stops after this many passes that raise, deadline or not
MAX_RAISING_PASSES = 3
# least timed passes of an untraced run: the median of two passes is less
# exposed than one pass to a burst of load on a shared host, and a fixed
# count keeps runs from splitting into one-pass and two-pass runs
MIN_PASSES = 2
# least passes of a traced run: traced, untraced, untraced, traced
MIN_TRACED_PASSES = 4
KERNEL_SAMPLE_DOCS = 300
KERNEL_SAMPLE_HEAVY = 2


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(trace: bool) -> str | None:
    """Point every scratch file of Spark and its workers into WORK, and
    return the event-log directory when tracing."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    args = [
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} {JVM_OPTIONS}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until its process tree ends."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    left = procfs.tree(proc.pid) if proc else {}
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in left:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _end_children(timeout_s: float = 30.0) -> None:
    """Wait for every child process of this one still alive, killing
    those that outlast ``timeout_s``, so that none outlives the run."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    for pid in [p.pid for p in procfs.tree(me).values() if p.ppid == me]:
        try:
            while os.waitpid(pid, os.WNOHANG) == (0, 0):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                    break
                time.sleep(0.1)
        except ChildProcessError:
            pass


def measure(name: str, seed: int, seconds: float, trace: bool) -> dict:
    """Set up, run passes for ``seconds``, check; returns raw measurements."""
    log_dir = _environment(trace)
    import workloads

    t0 = time.perf_counter()
    from pypdfocr_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{_cpus()}]")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc.pid
    spec = workloads.SPECS[name]
    wl = spec.kind(spec, spark, WORK, seed, _cpus())
    raw = {"session.start_s": session_s}
    try:
        with procfs.PeakRss(jvm) as rss:
            reps = []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                wl.prepare_inputs()
                t_in = time.perf_counter()
                wl.materialize()
                reps.append((t_in - t, time.perf_counter() - t_in))
            t = time.perf_counter()
            warm_rows = wl.warmup()
            warm_s = time.perf_counter() - t
            raw["corpus.materialize_s"] = statistics.median(m for _, m in reps)
            raw["setup_s"] = session_s + statistics.median(a + b for a, b in reps) + warm_s

            def probe() -> dict:
                procs = procfs.tree(jvm)
                c = procfs.cpu(procs, jvm)
                return {"jvm_cpu_s": c.jvm_s, "python_cpu_s": c.python_s,
                        "jvm_hwm_mb": procs[jvm].hwm_kb / 1024.0,
                        "gc_s": _gc_s(spark) if trace else 0.0,
                        "threads": procfs.threads(jvm) if trace else {}}

            switch = EventLogSwitch(spark) if trace else None
            raw["passes"], raw["raising_passes"] = timed_passes(wl, seconds, probe, switch)
        raw["worker_peak_rss_mb"] = rss.mb()
        t = time.perf_counter()
        raw["check"] = wl.check(warm_rows)
        _log(f"session {session_s:.2f}s, inputs+materialize {[round(a + b, 2) for a, b in reps]}, "
             f"warm-up {warm_s:.2f}s, passes {[round(p['job_s'], 2) for p in raw['passes']]}, "
             f"host steal {[round(p['steal_frac'], 3) for p in raw['passes']]}, "
             f"check {time.perf_counter() - t:.2f}s, "
             f"peak rss jvm {[round(p['jvm_hwm_mb']) for p in raw['passes']]} MB, "
             f"worker {raw['worker_peak_rss_mb']:.0f} MB")
        if trace and raw["passes"]:
            raw["kernels"] = _kernel_sample(wl)
    finally:
        _stop(spark)
    if log_dir:
        logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        raw["eventlog"] = logs[0] if len(logs) == 1 else None
    return raw


class EventLogSwitch:
    """Detaches Spark's event-log listener from the listener bus and
    attaches it again, so that one session has untraced and traced passes.
    The listener keeps its open file while detached."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._listener = sc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on != self.on:
            if on:
                self._bus.addToEventLogQueue(self._listener)
            else:
                self._bus.removeListener(self._listener)
            self.on = on


def timed_passes(wl, seconds: float, probe, switch=None) -> tuple[list[dict], int]:
    """Run ``wl``'s passes one at a time until ``seconds`` have passed
    or ``MAX_RAISING_PASSES`` passes have raised. ``probe()`` snapshots
    cumulative CPU/GC counters around each pass. With an
    ``EventLogSwitch``, passes are traced in the order traced, untraced,
    untraced, traced, ... (so a warm-up trend cancels in traced minus
    untraced) and there are at least ``MIN_TRACED_PASSES``; otherwise at
    least ``MIN_PASSES``, untraced.
    Returns the passes that completed and the number that raised."""
    passes, raising = [], 0
    least = MIN_TRACED_PASSES if switch else MIN_PASSES
    start = time.perf_counter()
    while ((time.perf_counter() - start < seconds or len(passes) < least)
           and raising < MAX_RAISING_PASSES):
        traced = bool(switch) and len(passes) % 4 in (0, 3)
        if switch:
            switch.set(traced)
        wl.before_pass()
        p0 = probe()
        h0 = procfs.host_ticks()
        w0, t = time.time(), time.perf_counter()
        try:
            info = wl.run_pass()
        except Exception as exc:  # a failed pass fails all its docs
            _log(f"pass failed: {type(exc).__name__}: {exc}")
            raising += 1
            continue
        dt = time.perf_counter() - t
        h1 = procfs.host_ticks()
        p1 = probe()
        passes.append({
            "job_s": dt, "start_ms": w0 * 1000.0, "end_ms": time.time() * 1000.0,
            "traced": traced, "steal_frac": (h1[1] - h0[1]) / max(1, h1[0] - h0[0]),
            **{k: p1[k] - p0[k] for k in ("jvm_cpu_s", "python_cpu_s", "gc_s")},
            "jvm_hwm_mb": p1["jvm_hwm_mb"],
            "jvm_threads_s": procfs.thread_cpu_delta(p0["threads"], p1["threads"]),
            **wl.after_pass(info),
        })
    if switch:
        switch.set(True)
    return passes, raising


def _gc_s(spark) -> float:
    """Cumulative GC seconds of the driver JVM, from its management beans."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _kernel_sample(wl) -> dict:
    """Kernel ms per unit on a fixed sample of the workload's own rows."""
    import kernelprobe

    rows = sorted(wl.corpus_rows(), key=lambda r: r["url"])
    heavy = [r for r in rows if len(r["html"]) > wl.cfg.heavy_payload_bytes]
    light = [r for r in rows if len(r["html"]) <= wl.cfg.heavy_payload_bytes]
    sample = light[:KERNEL_SAMPLE_DOCS] + heavy[:KERNEL_SAMPLE_HEAVY]
    sec, n = kernelprobe.time_phases([(r["url"], r["html"]) for r in sample])
    return kernelprobe.per_unit_ms(sec, n)


def end_to_end(raw: dict) -> dict[str, tuple[float, str]]:
    passes = raw["passes"]
    chk = raw["check"]
    docs = chk["docs"]
    pages = sum(n for _, _, n in chk["units"])
    job = statistics.median(p["job_s"] for p in passes)
    cpu = statistics.median(p["jvm_cpu_s"] + p["python_cpu_s"] for p in passes)
    return {
        "job_s": (job, "s"),
        "docs_per_s": (docs / job, "1/s"),
        "pages_per_s": (pages / job, "1/s"),
        "cpu_s_per_kdoc": (cpu * 1000.0 / docs, "s"),
        "worker_peak_rss_mb": (raw["worker_peak_rss_mb"], "MB"),
        "setup_s": (raw["setup_s"], "s"),
    }


def result(raw: dict, trace: bool) -> dict:
    """The result line of a run. ``correct`` needs at least one completed
    pass (when tracing, one untraced and one traced), no failed document
    and, when tracing, an event log whose traced pass windows hold
    classified tasks."""
    docs, passes, raising = raw["check"]["docs"], raw["passes"], raw["raising_passes"]
    failed = sum(raw["check"]["failed"] + p["failed"] for p in passes) + docs * raising
    ok = bool(passes)
    metrics: dict = {}
    if trace:
        import ledger

        log, problem = ledger.load_trace(raw)
        if problem:
            _log(f"traced run failed: {problem}")
            ok = False
        else:
            metrics = ledger.per_layer(raw, log)
    elif passes:
        metrics = end_to_end(raw)
    return {
        "correct": ok and failed == 0,
        "attempted": docs * (len(passes) + raising),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.SPECS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.SPECS)}")
    try:
        raw = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        _end_children()
    print(json.dumps(result(raw, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
