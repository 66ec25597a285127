"""The per-layer ledger of a traced run.

Each figure is the median over the run's traced passes. A pass's layers
come from the event-log tasks launched inside its wall-clock window; the
kernel figures come from ``kernelprobe`` on a sample of the workload's
own rows. Layers a workload does not exercise read 0.

Wall reconciliation: the pass's wall time ``job_s`` is split into the
self time of each named layer (``eventlog.attribute_s``), the self time
of tasks in no named layer (``reconcile.unattributed_s``) and
``spark.driver_idle_s``, the part of ``job_s`` when no task ran.
CPU reconciliation: total CPU is the JVM's plus every Python process's
(/proc). The JVM's share is split by thread, from /proc/<jvm>/task:
task threads, JIT compiler, GC, and the rest of the driver (scheduler,
py4j, shuffle). CPU of JVM threads that ended during the pass cannot be
assigned a thread and is ``reconcile.cpu_unattributed_s``.
"""

from __future__ import annotations

import statistics

import eventlog
import kernelprobe

# (name, unit, better) of every per-layer metric, in print order
METRICS = (
    ("session.start_s", "s", "lower"),
    ("corpus.materialize_s", "s", "lower"),
    *((name, "ms", "lower") for name, _phase, _unit in kernelprobe.PHASES),
    ("kernels.cpu_s", "s", "lower"),
    ("kernels.cpu_frac", "ratio", "higher"),
    ("pipeline.light.stage_s", "s", "lower"),
    ("pipeline.light.py_total_s", "s", "lower"),
    ("pipeline.light.py_boot_init_s", "s", "lower"),
    ("pipeline.light.py_bytes_sent", "B", "lower"),
    ("pipeline.light.py_bytes_recv", "B", "lower"),
    ("pipeline.light.task_skew", "ratio", "lower"),
    ("pipeline.explode.stage_s", "s", "lower"),
    ("pipeline.explode.py_total_s", "s", "lower"),
    ("pipeline.explode.py_bytes_sent", "B", "lower"),
    ("pipeline.salt.shuffle_bytes", "B", "lower"),
    ("pipeline.salt.partition_skew", "ratio", "lower"),
    ("pipeline.page.stage_s", "s", "lower"),
    ("pipeline.page.py_total_s", "s", "lower"),
    ("pipeline.page.py_bytes_sent", "B", "lower"),
    ("pipeline.page.task_skew", "ratio", "lower"),
    ("pipeline.reassemble.stage_s", "s", "lower"),
    ("pipeline.reassemble.shuffle_read_bytes", "B", "lower"),
    ("pipeline.py_bytes_per_payload_byte", "ratio", "lower"),
    ("pipeline.scan.rows_kept_frac", "ratio", "higher"),
    ("lineage.commit_s", "s", "lower"),
    ("lineage.resume_filter_s", "s", "lower"),
    ("lineage.resume_reextracted_frac", "ratio", "lower"),
    ("catalog.bytes_per_doc", "B", "lower"),
    ("lineage.write.stage_s", "s", "lower"),
    ("lineage.rollup.stage_s", "s", "lower"),
    ("lineage.resume.stage_s", "s", "lower"),
    ("pipeline.scan.stage_s", "s", "lower"),
    ("spark.driver_idle_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.tasks_failed", "count", "lower"),
    ("jvm.cpu_s", "s", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("jvm.task_cpu_s", "s", "lower"),
    ("jvm.jit_cpu_s", "s", "lower"),
    ("jvm.gc_cpu_s", "s", "lower"),
    ("jvm.driver_cpu_s", "s", "lower"),
    ("python.cpu_s", "s", "lower"),
    ("reconcile.wall_frac", "ratio", "higher"),
    ("reconcile.unattributed_s", "s", "lower"),
    ("reconcile.cpu_frac", "ratio", "higher"),
    ("reconcile.cpu_unattributed_s", "s", "lower"),
    ("trace.job_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)
UNITS = {name: unit for name, unit, _ in METRICS}
NAMED = ("light", "explode", "page", "reassemble", "rollup", "resume", "write", "scan")
# figures a workload's own pass check reports (commit_resume only)
PASS_FIGURES = ("lineage.commit_s", "lineage.resume_filter_s",
                "lineage.resume_reextracted_frac", "catalog.bytes_per_doc")
_MS = 1e-3


def _py(log, tasks, role, key) -> float:
    return eventlog.accum_total(log, tasks, role, eventlog.PY_METRICS[key])


def pass_layers(log: eventlog.EventLog, p: dict, payload_bytes: int) -> dict[str, float]:
    """Event-log figures of one pass."""
    tasks = eventlog.in_window(log, p["start_ms"], p["end_ms"])
    ivs: dict[str, list] = {}
    for t in tasks:
        ivs.setdefault(t.role if t.role in NAMED else "other", []).append((t.launch_ms, t.finish_ms))
    share = eventlog.attribute_s(ivs)
    busy = eventlog.union_s([iv for v in ivs.values() for iv in v])
    idle = p["job_s"] - busy
    by = {r: [t for t in tasks if t.role == r] for r in NAMED}
    dur = {r: [t.finish_ms - t.launch_ms for t in by[r]] for r in NAMED}
    sent = sum(_py(log, tasks, r, "py_bytes_sent") for r in ("light", "explode", "page"))
    scanned = eventlog.accum_total(log, tasks, "scan", "number of output rows")
    kept = eventlog.accum_total(log, tasks, "filter", "number of output rows")
    out = {
        "pipeline.light.py_total_s": _py(log, tasks, "light", "py_total_ms") * _MS,
        "pipeline.light.py_boot_init_s": (_py(log, tasks, "light", "py_boot_ms")
                                          + _py(log, tasks, "light", "py_init_ms")) * _MS,
        "pipeline.light.py_bytes_sent": _py(log, tasks, "light", "py_bytes_sent"),
        "pipeline.light.py_bytes_recv": _py(log, tasks, "light", "py_bytes_recv"),
        "pipeline.light.task_skew": eventlog.skew(dur["light"]),
        "pipeline.explode.py_total_s": _py(log, tasks, "explode", "py_total_ms") * _MS,
        "pipeline.explode.py_bytes_sent": _py(log, tasks, "explode", "py_bytes_sent"),
        "pipeline.salt.shuffle_bytes": sum(t.shuffle_write_bytes for t in by["explode"]),
        "pipeline.salt.partition_skew": eventlog.skew([t.shuffle_read_bytes for t in by["page"]]),
        "pipeline.page.py_total_s": _py(log, tasks, "page", "py_total_ms") * _MS,
        "pipeline.page.py_bytes_sent": _py(log, tasks, "page", "py_bytes_sent"),
        "pipeline.page.task_skew": eventlog.skew(dur["page"]),
        "pipeline.reassemble.shuffle_read_bytes": sum(t.shuffle_read_bytes for t in by["reassemble"]),
        "pipeline.py_bytes_per_payload_byte": sent / payload_bytes if payload_bytes else 0.0,
        "pipeline.scan.rows_kept_frac": kept / scanned if scanned else 0.0,
        "spark.driver_idle_s": idle,
        "spark.tasks_failed": float(sum(t.failed for t in tasks)),
        "reconcile.wall_frac": (sum(share.get(r, 0.0) for r in NAMED) + idle) / p["job_s"],
        "reconcile.unattributed_s": share.get("other", 0.0),
    }
    for r in NAMED:
        layer = "lineage" if r in ("rollup", "resume", "write") else "pipeline"
        out[f"{layer}.{r}.stage_s"] = eventlog.union_s([(t.launch_ms, t.finish_ms) for t in by[r]])
    return out


def load_trace(raw: dict) -> tuple[eventlog.EventLog | None, str | None]:
    """The run's event log, or why the traced run cannot be used: a
    traced or an untraced pass is missing, there is no single log file,
    or a traced pass's window holds no task of a named layer."""
    traced = [p for p in raw["passes"] if p["traced"]]
    if not traced or len(traced) == len(raw["passes"]):
        return None, "the run needs an untraced and a traced pass"
    if not raw.get("eventlog"):
        return None, "no single event-log file"
    log = eventlog.load(raw["eventlog"])
    for i, p in enumerate(traced):
        if not any(t.role in NAMED for t in eventlog.in_window(log, p["start_ms"], p["end_ms"])):
            return None, f"traced pass {i} has no task of {NAMED} in the event log"
    return log, None


def per_layer(raw: dict, log: eventlog.EventLog) -> dict[str, tuple[float, str]]:
    """Every ``METRICS`` entry for a traced run's raw measurements: the
    medians over its traced passes, and the tracing overhead against the
    median of its untraced passes."""
    chk = raw["check"]
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced_job_s = statistics.median(p["job_s"] for p in raw["passes"] if not p["traced"])
    payload = sum(len(payload) for _, payload, _ in chk["units"])
    units = kernelprobe.count_units(chk["units"])
    ms = raw["kernels"]
    kernel_s = kernelprobe.kernel_cpu_s(ms, units)
    rows = []
    for p in traced:
        row = pass_layers(log, p, payload)
        total = p["jvm_cpu_s"] + p["python_cpu_s"]
        threads = p["jvm_threads_s"]
        named = sum(threads.values())
        row.update({
            "spark.gc_s": p["gc_s"],
            "jvm.cpu_s": p["jvm_cpu_s"],
            **{f"jvm.{k}_cpu_s": v for k, v in threads.items()},
            "python.cpu_s": p["python_cpu_s"],
            "reconcile.cpu_frac": (p["python_cpu_s"] + named) / total if total else 0.0,
            "reconcile.cpu_unattributed_s": p["jvm_cpu_s"] - named,
            "kernels.cpu_frac": kernel_s / total if total else 0.0,
            "trace.job_s": p["job_s"],
            **{k: p.get(k, 0.0) for k in PASS_FIGURES},
        })
        rows.append(row)
    med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    med.update(ms)
    med["kernels.cpu_s"] = kernel_s
    med["session.start_s"] = raw["session.start_s"]
    med["corpus.materialize_s"] = raw["corpus.materialize_s"]
    med["trace.overhead_s"] = med["trace.job_s"] - untraced_job_s
    # through set-up, warm-up and the first pass: the same work every run
    med["jvm.peak_rss_mb"] = raw["passes"][0]["jvm_hwm_mb"]
    return {name: (float(med[name]), UNITS[name]) for name, _, _ in METRICS}
