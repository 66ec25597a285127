"""Offline parser for a Spark event log (JSON lines), producing per-layer
figures for a time window.

Layers are identified by plan operator, not by stage id, because one
stage can run two layers: the union that ends ``pipeline.extract`` puts
the light ``MapInPandas`` and the heavy reassembly aggregate into the
same result stage, as separate tasks. So every task is classified by the
SQL metric accumulators it updated, and each accumulator is mapped to the
plan node that owns it (from ``SQLExecutionStart`` and every adaptive
re-plan).
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

# MapInPandas output columns that name each Python stage of the extract plan
_OUTPUT_ROLE = (("page_text", "page"), ("page_json", "explode"), ("extracted_text", "light"))
# task classification order when a task carries several roles
ROLE_ORDER = ("page", "explode", "light", "reassemble", "rollup", "resume", "write", "scan")

# the SQL metrics Spark keeps on every Python node, by their event-log names
PY_METRICS = {
    "py_bytes_sent": "data sent to Python workers",
    "py_bytes_recv": "data returned from Python workers",
    "py_boot_ms": "time to start Python workers",
    "py_init_ms": "time to initialize Python workers",
    "py_total_ms": "time to run Python workers",
}


def node_role(node_name: str, simple: str) -> str | None:
    """The extract-plan layer a physical plan node belongs to, if any."""
    if node_name == "MapInPandas":
        m = re.search(r"\)#\d+, \[(.*)\], (?:true|false)$", simple)
        outputs = m.group(1) if m else ""
        for col, role in _OUTPUT_ROLE:
            if re.search(rf"\b{col}#", outputs):
                return role
    if node_name == "ObjectHashAggregate" and "functions=[collect_list(" in simple:
        return "reassemble"
    # lineage.lineage_rows: one metrics row per output partition
    if node_name == "ObjectHashAggregate" and "keys=[partition_id#" in simple:
        return "rollup"
    # lineage.committed_urls: the distinct urls the resume anti-join drops
    if node_name == "HashAggregate" and re.fullmatch(r"HashAggregate\(keys=\[url#\d+\], functions=\[\]\)", simple):
        return "resume"
    if node_name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
        return "write"
    if node_name.startswith("Scan parquet"):
        return "scan"
    if node_name == "Filter":
        return "filter"
    return None


@dataclass
class Accum:
    role: str | None
    name: str


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    failed: bool
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    accums: dict[int, float] = field(default_factory=dict)
    role: str = "other"


@dataclass
class EventLog:
    accums: dict[int, Accum]
    tasks: list[Task]


def _walk(plan: dict, out: dict[int, Accum]) -> None:
    role = node_role(plan.get("nodeName", ""), plan.get("simpleString", ""))
    for m in plan.get("metrics", []):
        out[int(m["accumulatorId"])] = Accum(role, m["name"])
    for child in plan.get("children", []):
        _walk(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines."""
    accums: dict[int, Accum] = {}
    tasks: list[Task] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk(ev.get("sparkPlanInfo", {}), accums)
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics", {})
            tasks.append(Task(
                launch_ms=info["Launch Time"],
                finish_ms=info["Finish Time"],
                failed=bool(info.get("Failed")) or bool(info.get("Killed")),
                shuffle_write_bytes=tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                shuffle_read_bytes=sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                accums={int(a["ID"]): _num(a.get("Update")) for a in info.get("Accumulables", [])
                        if "ID" in a},
            ))
    for t in tasks:
        roles = {accums[i].role for i in t.accums if i in accums}
        t.role = next((r for r in ROLE_ORDER if r in roles), "other")
    return EventLog(accums, tasks)


def load(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def in_window(log: EventLog, start_ms: float, end_ms: float) -> list[Task]:
    """Tasks launched inside ``[start_ms, end_ms]``."""
    return [t for t in log.tasks if start_ms <= t.launch_ms <= end_ms]


# ------------------------------------------------------------ interval maths
def union_s(intervals) -> float:
    """Seconds covered by at least one ``(start_ms, end_ms)`` interval."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def attribute_s(by_layer: dict[str, list[tuple[float, float]]]) -> dict[str, float]:
    """Split wall time among layers: each instant is shared equally by the
    layers with a task running, so the shares add up to the union of all
    intervals. A layer's share is its self time on the wall clock."""
    edges = []
    for layer, ivs in by_layer.items():
        for s, e in ivs:
            edges.append((s, 1, layer))
            edges.append((e, -1, layer))
    edges.sort(key=lambda x: (x[0], x[1]))
    active: dict[str, int] = defaultdict(int)
    share: dict[str, float] = {layer: 0.0 for layer in by_layer}
    prev = None
    for t, delta, layer in edges:
        live = [k for k, n in active.items() if n > 0]
        if prev is not None and live and t > prev:
            for k in live:
                share[k] += (t - prev) / len(live) / 1000.0
        active[layer] += delta
        prev = t
    return share


def skew(vals: list[float]) -> float:
    """max / mean of non-negative numbers (1.0 = perfectly even)."""
    if not vals or sum(vals) == 0:
        return 0.0
    return max(vals) / (sum(vals) / len(vals))


def accum_total(log: EventLog, tasks: list[Task], role: str, name: str) -> float:
    """Sum over ``tasks`` of the updates to ``name`` metrics on ``role`` nodes."""
    ids = {i for i, a in log.accums.items() if a.role == role and a.name == name}
    return sum(v for t in tasks for i, v in t.accums.items() if i in ids)
