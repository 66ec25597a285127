"""The event-log parser and the wall reconciliation on a canned log.

The log mimics one ``pipeline.extract`` pass as Spark 4.1 writes it: the
light ``MapInPandas`` and the reassembly aggregate share the result stage,
so tasks must be told apart by the accumulators they update.
"""

import json

import pytest

import eventlog
import ledger


def _node(name, simple, metrics=(), children=()):
    return {
        "nodeName": name,
        "simpleString": simple,
        "metrics": [{"name": n, "accumulatorId": i, "metricType": "sum"} for n, i in metrics],
        "children": list(children),
    }


def _py_metrics(base):
    return [(n, base + k) for k, n in enumerate(eventlog.PY_METRICS.values())]


PLAN = _node("OverwriteByExpression", "OverwriteByExpression NoopWrite", children=[
    _node("Union", "Union", children=[
        _node("MapInPandas",
              "MapInPandas <lambda>(url#1, html#3)#5, [url#6, extracted_text#9, "
              "status#13], false", _py_metrics(10), [
                  _node("Filter", "Filter (n_bytes#3L <= 200000)",
                        [("number of output rows", 90)], [
                            _node("Scan parquet ", "FileScan parquet [url#1]",
                                  [("number of output rows", 91)])])]),
        _node("ObjectHashAggregate",
              "ObjectHashAggregate(keys=[url#27], functions=[collect_list(struct(page_no))])",
              [("number of output rows", 30)], [
                  _node("MapInPandas",
                        "MapInPandas <lambda>(url#17, page_json#24)#26, [url#27, "
                        "page_text#32, status#35], false", _py_metrics(20), [
                            _node("MapInPandas",
                                  "MapInPandas <lambda>(url#71, html#73)#16, [url#17, "
                                  "page_no#20, page_json#24], false", _py_metrics(40))])]),
    ])])


def _task(stage, launch, finish, accums, sw=0, sr=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch, "Finish Time": finish, "Failed": failed, "Killed": False,
            "Accumulables": [{"ID": i, "Name": "x", "Update": str(v), "Value": str(v)}
                             for i, v in accums.items()],
        },
        "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Local Bytes Read": sr, "Remote Bytes Read": 0},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


# one pass from t=1000 to t=2000 ms: explode 1000-1200, page 1200-1600,
# light 1000-1500 (concurrent), reassembly 1600-1700, then idle to 2000
EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 0, "sparkPlanInfo": PLAN},
    _task(1, 1000, 1200, {40: 1000, 44: 50}, sw=400),
    _task(2, 1200, 1600, {20: 300, 24: 3000}, sr=300),
    _task(2, 1200, 1400, {20: 100, 24: 2000}, sr=100),
    _task(3, 1000, 1500, {10: 50, 14: 500, 91: 10, 90: 8}),
    _task(3, 1600, 1700, {30: 2}, sr=50),
    _task(9, 5000, 5100, {14: 1}),  # a later pass, outside the window
]


@pytest.fixture
def log():
    return eventlog.parse(json.dumps(e) for e in EVENTS)


def test_roles_from_plan_operators():
    assert eventlog.node_role("MapInPandas", PLAN["children"][0]["children"][0]["simpleString"]) == "light"
    assert eventlog.node_role("ObjectHashAggregate", "ObjectHashAggregate(keys=[url#1], "
                              "functions=[partial_collect_list(x)])") is None
    assert eventlog.node_role("Scan parquet ", "FileScan") == "scan"
    # the commit path: lineage rollup, committed-url distinct, file write
    assert eventlog.node_role("ObjectHashAggregate", "ObjectHashAggregate(keys=[partition_id#42], "
                              "functions=[count(1), sum(byte_count#7L)])") == "rollup"
    assert eventlog.node_role("HashAggregate", "HashAggregate(keys=[url#9], functions=[])") == "resume"
    assert eventlog.node_role("HashAggregate", "HashAggregate(keys=[url#9], functions=[count(1)])") is None
    assert eventlog.node_role("Execute InsertIntoHadoopFsRelationCommand",
                              "Execute InsertIntoHadoopFsRelationCommand file:/x, false") == "write"


def test_tasks_classified_by_accumulators(log):
    assert [t.role for t in log.tasks] == ["explode", "page", "page", "light", "reassemble", "light"]


def test_window_and_python_totals(log):
    tasks = eventlog.in_window(log, 1000, 2000)
    assert len(tasks) == 5
    assert eventlog.accum_total(log, tasks, "page", "time to run Python workers") == 5000
    assert eventlog.accum_total(log, tasks, "light", "time to run Python workers") == 500


def test_union_and_attribution():
    ivs = {"a": [(0, 1000), (500, 1500)], "b": [(1000, 2000)], "c": [(3000, 3500)]}
    assert eventlog.union_s([iv for v in ivs.values() for iv in v]) == 2.5
    share = eventlog.attribute_s(ivs)
    # 1000-1500 is shared by a and b; a's own overlap counts once
    assert share == pytest.approx({"a": 1.25, "b": 0.75, "c": 0.5})
    assert sum(share.values()) == pytest.approx(2.5)


def test_skew():
    assert eventlog.skew([1, 1, 1, 1]) == 1.0
    assert eventlog.skew([4, 0, 0, 0]) == 4.0
    assert eventlog.skew([]) == 0.0


def test_pass_reconciles_wall(log):
    p = {"job_s": 1.0, "start_ms": 1000, "end_ms": 2000}
    out = ledger.pass_layers(log, p, payload_bytes=1000)
    assert out["spark.driver_idle_s"] == pytest.approx(0.3)
    assert out["reconcile.wall_frac"] == pytest.approx(1.0)
    assert out["reconcile.unattributed_s"] == 0.0
    assert out["pipeline.page.stage_s"] == pytest.approx(0.4)
    assert out["pipeline.page.py_total_s"] == pytest.approx(5.0)
    assert out["pipeline.page.task_skew"] == pytest.approx(400 / 300)
    assert out["pipeline.salt.shuffle_bytes"] == 400
    assert out["pipeline.salt.partition_skew"] == pytest.approx(1.5)
    assert out["pipeline.reassemble.shuffle_read_bytes"] == 50
    assert out["pipeline.py_bytes_per_payload_byte"] == pytest.approx((1000 + 400 + 50) / 1000)
    assert out["pipeline.scan.rows_kept_frac"] == pytest.approx(0.8)
    assert out["spark.tasks_failed"] == 0.0


def test_missing_or_empty_event_log_is_a_failed_trace(tmp_path, log):
    passes = [{"job_s": 1.0, "start_ms": 0, "end_ms": 500, "traced": False},
              {"job_s": 1.0, "start_ms": 1000, "end_ms": 2000, "traced": True}]
    assert ledger.load_trace({"eventlog": None, "passes": passes})[1] == "no single event-log file"
    assert ledger.load_trace({"eventlog": None, "passes": passes[1:]})[1].startswith("the run needs")
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS))
    got, problem = ledger.load_trace({"eventlog": str(path), "passes": passes})
    assert problem is None and len(got.tasks) == len(log.tasks)
    # a traced pass window that holds no classified task
    later = passes + [{"job_s": 1.0, "start_ms": 6000, "end_ms": 7000, "traced": True}]
    assert ledger.load_trace({"eventlog": str(path), "passes": later})[1].startswith("traced pass 1 ")
