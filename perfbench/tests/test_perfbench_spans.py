import json
import types

import pytest

from spans import GROUP_PREFIX, Tracer, attribute, parse_event_logs


class FakeContext:
    """The SparkContext calls a Tracer makes; records each job's group."""

    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid
        self.props["spark.job.description"] = desc


def _module(**fns):
    return types.SimpleNamespace(**fns)


def test_spans_nest_set_job_groups_and_restore_them():
    sc = FakeContext()
    seen = []
    mod = _module()
    mod.inner = lambda: seen.append(("inner", sc.props.get("spark.job.description")))

    def outer():
        seen.append(("outer", sc.props.get("spark.job.description")))
        mod.inner()
        seen.append(("outer-after", sc.props.get("spark.job.description")))

    mod.outer = outer
    t = Tracer(sc)
    t.patch(mod, "inner", "layer.inner")
    t.patch(mod, "outer", "layer.outer")
    mod.outer()  # outside an operation: no spans, no groups
    assert seen[:3] == [("outer", None), ("inner", None), ("outer-after", None)]
    with t.operation():
        mod.outer()
    assert seen[3:] == [("outer", "layer.outer"), ("inner", "layer.inner"),
                        ("outer-after", "layer.outer")]
    assert sc.props == {}
    op = t.ops[0]
    assert op.spans["layer.outer"].calls == op.spans["layer.inner"].calls == 1
    assert op.spans["layer.outer"].self_s == pytest.approx(
        op.spans["layer.outer"].wall_s - op.spans["layer.inner"].wall_s
    )
    assert op.spans["op"].wall_s >= op.spans["layer.outer"].wall_s
    # an action consuming a lazy result runs under its operator's group, no call
    with t.operation():
        mod.inner()
        with t.action("layer.inner"):
            assert sc.props["spark.job.description"] == "layer.inner"
    assert t.ops[1].spans["layer.inner"].calls == 1
    t.unpatch()
    assert mod.outer is outer


def _events(path, jobs):
    """Write an event log: jobs = [(job_id, group, submit_ms, [(stage, [cpu_ns...])])]."""
    with open(path, "w") as f:
        def w(ev):
            f.write(json.dumps(ev) + "\n")

        for jid, group, t0, stages in jobs:
            props = {"spark.jobGroup.id": group} if group else {}
            w({"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
               "Stage IDs": [s for s, _ in stages], "Properties": props})
            for sid, cpus in stages:
                w({"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid}})
                for k, cpu in enumerate(cpus):
                    w({"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                       "Task Info": {"Launch Time": t0, "Finish Time": t0 + 100 * (k + 1),
                                     "Accumulables": [
                                         {"Name": "time to run Python workers", "Update": 50}]},
                       "Task Metrics": {"Executor CPU Time": cpu,
                                        "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}})
            w({"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t0 + 400})


def test_executor_cpu_over_spans_equals_the_workload_total(tmp_path):
    t = Tracer(FakeContext())
    mod = _module(f=lambda: None)
    t.patch(mod, "f", "layer.f")
    with t.operation():
        mod.f()
    with t.operation():
        mod.f()
        mod.f()
    groups = {(op, name): gid for gid, (op, name) in t.groups.items()}
    t0, t1 = t.ops[0].start_ms, t.ops[1].start_ms
    _events(tmp_path / "app-1", [
        (0, groups[(0, "op")], t0, [(0, [1e9, 2e9])]),
        (1, groups[(0, "layer.f")], t0, [(1, [3e9]), (2, [4e9, 5e9])]),
        (2, groups[(1, "layer.f")], t1, [(3, [6e9])]),
        (3, None, t1, [(4, [7e9])]),  # submitted during an operation, no span group
        (4, None, t0 - 10_000, [(5, [8e9])]),  # before any operation: not counted
    ])
    jobs = parse_event_logs(str(tmp_path))
    per_op, unattributed = attribute(jobs, t, cores=4)
    assert unattributed == [{"job_id": 3, "group": None}]
    for op in per_op:
        spans = [v for k, v in op.items() if k != "_totals"]
        assert sum(s["executor_cpu_s"] for s in spans) == pytest.approx(
            op["_totals"]["executor_cpu_s"]
        )
    assert per_op[0]["_totals"]["executor_cpu_s"] == pytest.approx(15.0)
    assert per_op[0]["layer.f"]["executor_cpu_s"] == pytest.approx(12.0)
    assert per_op[1]["_totals"]["executor_cpu_s"] == pytest.approx(6.0)
    assert per_op[0]["_totals"]["tasks"] == 5
    assert per_op[0]["_totals"]["py_total_s"] == pytest.approx(0.25)
    # job 1 ran 3 tasks of 0.1 + 0.1 + 0.2 s over 0.4 s on 4 cores
    assert per_op[0]["layer.f"]["idle_core_s"] == pytest.approx(4 * 0.4 - 0.4)
    assert all(g.startswith(GROUP_PREFIX) for g in t.groups)
