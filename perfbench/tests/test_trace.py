"""Span self-time arithmetic and job-group attribution."""

from perfbench.trace import Span, Tracer, covered


def _tracer(*spans):
    t = Tracer()
    for sid, (name, parent, start, end) in enumerate(spans):
        t.spans.append(Span(sid, name, parent, start, end))
    return t


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    t = _tracer(
        ("phase", None, 0.0, 10.0),
        ("a", 0, 1.0, 4.0),
        ("b", 0, 3.0, 6.0),  # overlaps a: the union 1..6 is covered once
        ("grandchild", 1, 1.5, 2.0),  # covered by its parent a
    )
    phase, a = t.spans[0], t.spans[1]
    assert t.self_time(phase) == 5.0
    assert t.self_time(a) == 2.5
    assert t.self_time(t.spans[3]) == 0.5


def test_self_time_clips_children_to_parent():
    t = _tracer(("p", None, 2.0, 4.0), ("c", 0, 1.0, 3.0))
    assert t.self_time(t.spans[0]) == 1.0


class FakeTracker:
    def __init__(self, jobs):
        self.jobs = jobs  # group -> [job ids]

    def getJobIdsForGroup(self, group):
        return self.jobs.get(group, [])

    def getJobInfo(self, jid):
        return type("J", (), {"stageIds": [jid * 10]})()

    def getStageInfo(self, sid):
        return type("S", (), {"numTasks": 4, "numFailedTasks": 0})()


class FakeContext:
    """Records job groups; ``run_job`` files a job under the group that
    is set when it starts, as Spark does."""

    def __init__(self):
        self.props = {}
        self.jobs = {}
        self.next_id = 0

    def setJobGroup(self, group, desc):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def run_job(self):
        self.jobs.setdefault(self.props.get("spark.jobGroup.id"), []).append(
            self.next_id
        )
        self.next_id += 1

    def statusTracker(self):
        return FakeTracker(self.jobs)


def test_jobs_go_to_the_innermost_open_span():
    sc = FakeContext()
    t = Tracer(sc)
    with t.span("phase.curate"):
        sc.run_job()
        with t.span("table_manifest.merge"):
            sc.run_job()
            sc.run_job()
        sc.run_job()  # the parent's group is restored after the child
    sc.run_job()  # outside every span: no group
    phase, merge = t.spans
    assert merge.jobs == [1, 2]
    assert phase.jobs == [0, 3]
    assert merge.stages == 2 and merge.tasks == 8
    assert t.jobs_in([phase]) == 2
    assert t.jobs_in([phase], inclusive=True) == 4
    assert sc.props["spark.jobGroup.id"] is None
    assert None in sc.jobs and sc.jobs[None] == [4]


def test_untraced_spans_time_but_set_no_group():
    t = Tracer()
    with t.span("x") as s:
        pass
    assert s.duration >= 0 and s.jobs == [] and t.overhead == 0.0
