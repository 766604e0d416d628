import json

from perfbench.olap import digest
from perfbench.trace import EventLog, Tracer, wrap_functions


class FakeContext:
    def __init__(self):
        self.tags = []
        self.log = []

    def addJobTag(self, tag):
        self.tags.append(tag)
        self.log.append(("add", tag))

    def removeJobTag(self, tag):
        self.tags.remove(tag)
        self.log.append(("remove", tag))


def test_spans_nest_share_a_trace_and_tag_jobs():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("bench.op") as root:
        with tr.span("plans.build") as child:
            assert sc.tags == [root.tag, child.tag]
    with tr.span("bench.op") as other:
        pass
    assert sc.tags == []
    by_id = {s.span_id: s for s in tr.spans}
    assert by_id[child.span_id].parent_id == root.span_id
    assert by_id[child.span_id].trace_id == root.trace_id
    assert other.trace_id != root.trace_id
    assert all(s.end >= s.start for s in tr.spans)


def test_spans_are_written_out_as_json(tmp_path):
    tr = Tracer(FakeContext())
    with tr.span("bench.op"):
        with tr.span("plans.exec"):
            pass
    tr.write(str(tmp_path / "t.json"))
    spans = json.loads((tmp_path / "t.json").read_text())
    assert [s["name"] for s in spans] == ["plans.exec", "bench.op"]
    assert spans[0]["parent_id"] == spans[1]["span_id"]


def test_disabled_and_suspended_tracers_record_nothing():
    assert Tracer(None).enabled is False
    with Tracer(None).span("x.y") as s:
        assert s is None
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.suspended():
        with tr.span("x.y") as s:
            assert s is None
    assert tr.spans == [] and sc.log == []


def test_wrap_functions_records_and_undoes():
    class Mod:
        @staticmethod
        def lazy_barrier(x):
            return x + 1

    tr = Tracer(FakeContext())
    undo = wrap_functions(tr, [Mod], ["lazy_barrier", "missing"], "barrier")
    assert Mod.lazy_barrier(1) == 2
    assert [s.name for s in tr.spans] == ["barrier.lazy_barrier"]
    undo()
    Mod.lazy_barrier(1)
    assert len(tr.spans) == 1


def test_event_log_attributes_stages_to_tagged_jobs(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.tags": "pb-span-1,pb-span-2"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 1500,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2048}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": True},
         "Task Metrics": {"Executor Run Time": 500}},
        # reuses stage 1's shuffle output: stage 1 is skipped in job 1
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.job.tags": "pb-span-1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 250}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"sql.streaming.queryId": "q", "streaming.sql.batchId": "4"}},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events))
    log = EventLog(str(path))
    assert log.jobs_tagged("pb-span-1") == [0, 1]
    assert log.jobs_tagged("pb-span-2") == [0]
    assert log.jobs_of_batch("q", 4) == [2]
    m = log.job_metrics([0, 1])
    assert (m["jobs"], m["tasks"], m["failed_tasks"]) == (2, 3, 1)
    assert m["task_s"] == 2.25
    assert m["shuffle_bytes"] == 2048
    assert (m["stages_listed"], m["stages_skipped"]) == (4, 1)
    assert m["max_stage"]["run_s"] == 1.5


def test_digest_ignores_row_and_column_order_but_not_bits():
    a = digest([(1, 0.1), (2, None)], ["k", "V"])
    assert a == digest([(None, 2), (0.1, 1)], ["v", "k"])
    assert a != digest([(1, 0.1 + 1e-17 * 10), (2, None)], ["k", "V"])
    assert a[1] == 2
