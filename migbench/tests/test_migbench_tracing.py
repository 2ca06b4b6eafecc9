import itertools
import time

import pytest

from tracing import JobTrace, Span, StageTotals, Tracer, attribute, self_time


def span(sid, start, end, parent=None, depth=0, layer="L", name=None):
    return Span(sid, name or f"s{sid}", layer, parent, depth, start, end)


def test_self_time_subtracts_children():
    root = span(0, 0.0, 10.0)
    kids = [span(1, 1.0, 3.0, 0, 1), span(2, 5.0, 6.5, 0, 1)]
    assert self_time(root, kids) == pytest.approx(10.0 - 2.0 - 1.5)


def test_self_time_counts_overlapping_children_once():
    root = span(0, 0.0, 10.0)
    kids = [span(1, 1.0, 4.0, 0, 1), span(2, 3.0, 5.0, 0, 1),
            span(3, 4.5, 4.8, 0, 1)]
    assert self_time(root, kids) == pytest.approx(10.0 - 4.0)


def test_self_time_clips_children_to_the_span():
    root = span(0, 2.0, 6.0)
    assert self_time(root, [span(1, 1.0, 3.0, 0, 1)]) == pytest.approx(3.0)
    assert self_time(root, []) == pytest.approx(4.0)


def chain():
    # root(0) ─ a(1) ─ b(2);  root ─ c(3)
    return {0: span(0, 0, 10), 1: span(1, 1, 5, 0, 1),
            2: span(2, 2, 4, 1, 2), 3: span(3, 6, 9, 0, 1)}


def test_attribute_picks_the_innermost_open_span():
    spans = chain()
    got = attribute({10: {0}, 11: {0, 1}, 12: {0, 1, 2}, 13: {0, 3}},
                    spans)
    assert got == {10: 0, 11: 1, 12: 2, 13: 3}


def test_every_job_gets_exactly_one_span():
    spans = chain()
    jobs = {j: {0, 1, 2} for j in range(5)}
    got = attribute(jobs, spans)
    assert set(got) == set(jobs) and set(got.values()) == {2}


def test_attribute_rejects_untagged_and_unnested_jobs():
    spans = chain()
    with pytest.raises(ValueError, match="no span tag"):
        attribute({1: set()}, spans)
    with pytest.raises(ValueError, match="unnested"):
        attribute({1: {0, 2, 3}}, spans)


def test_layer_totals_use_outermost_spans_and_attributed_jobs():
    spans = {0: span(0, 0, 10, layer="bench"),
             1: span(1, 1, 5, 0, 1, layer="sinks"),
             # an action span of the same layer nested in the call
             2: span(2, 2, 4, 1, 2, layer="sinks"),
             3: span(3, 6, 7, 0, 1, layer="delta")}
    tr = JobTrace(spans, {100: 1, 101: 2, 102: 3, 103: 0})
    tr.job_stages = {100: StageTotals(task_s=1.0), 101: StageTotals(
        task_s=2.0, output_rows=7), 102: StageTotals(task_s=4.0)}
    wall, jobs, st = tr.layer("sinks")
    assert wall == 4 and sorted(jobs) == [100, 101]
    assert st.task_s == 3.0 and st.output_rows == 7
    wall, jobs, st = tr.layer("delta")
    assert (wall, jobs, st.task_s) == (1, [102], 4.0)
    assert tr.layer("dedup")[:2] == (0, [])


class FakeContext:
    """Stands in for the SparkContext: a span only adds and removes its
    job tag."""

    def addJobTag(self, tag):
        pass

    def removeJobTag(self, tag):
        pass


def fake_tracer():
    tracer = Tracer.__new__(Tracer)
    tracer.sc = FakeContext()
    tracer._ids = itertools.count()
    tracer.spans, tracer.stack = {}, []
    return tracer


def test_build_time_leaves_out_actions_on_a_returned_frame():
    from pyspark.sql import DataFrame

    class Frame(DataFrame):
        def count(self):
            time.sleep(0.2)  # the Spark job the caller's action runs
            return 3

    def read_table():
        time.sleep(0.02)  # plan building
        # a frame with no plan behind it: only its count is called
        return object.__new__(Frame)

    tracer = fake_tracer()
    read = tracer.wrap(read_table, "sources.readers",
                       "sources.readers.read_table")
    with tracer.span("migrate.run", "migrate"):
        frame = read()
        assert frame.count() == 3
    tr = JobTrace(dict(tracer.spans), {})
    call, act = sorted((s for s in tr.spans.values()
                        if s.layer == "sources.readers"),
                       key=lambda s: s.start)
    # the action is a span of the reading layer under the caller, not
    # under the call that built the frame
    assert (call.action, act.action) == (False, True)
    assert act.name == "sources.readers.read_table.count"
    assert act.parent == call.parent == 0
    assert tr.build_s("sources.readers") == pytest.approx(call.duration)
    assert tr.build_s("sources.readers") < 0.15
    # the layer's wall time still covers both
    assert tr.layer("sources.readers")[0] == pytest.approx(
        call.duration + act.duration)
