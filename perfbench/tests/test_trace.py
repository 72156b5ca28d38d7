"""Self-time arithmetic of the span recorder on hand-built span trees."""

from __future__ import annotations

import threading

import pytest

from perfbench.trace import Span, Tracer, descendants, self_by_name, self_times


def _tree() -> list[Span]:
    # root [0, 10]
    #   build [1, 3]
    #     io [1.5, 2]
    #   exec [2.5, 6]      overlaps build on [2.5, 3]
    #   exec [9, 12]       ends after the root: clipped to [9, 10]
    # other root [20, 21]
    return [
        Span("unit", 0.0, 10.0, None, "r"),
        Span("build", 1.0, 3.0, 0, "r"),
        Span("io.table", 1.5, 2.0, 1, "r"),
        Span("exec", 2.5, 6.0, 0, "r"),
        Span("exec", 9.0, 12.0, 0, "r"),
        Span("unit", 20.0, 21.0, None, "r"),
    ]


def test_self_times_subtract_union_of_clipped_children():
    st = self_times(_tree())
    # children cover [1, 6] and [9, 10] of the root: 6 s of 10
    assert st == pytest.approx([4.0, 1.5, 0.5, 3.5, 3.0, 1.0])


def test_self_by_name_adds_up_to_the_root_when_children_do_not_overlap():
    spans = [
        Span("unit", 0.0, 10.0, None, "r"),
        Span("build", 1.0, 3.0, 0, "r"),
        Span("io.table", 1.5, 2.0, 1, "r"),
        Span("exec", 4.0, 9.0, 0, "r"),
        Span("plans.explain", 5.0, 5.25, 3, "r"),
    ]
    by_name = self_by_name(spans, 0)
    assert by_name == pytest.approx(
        {"unit": 3.0, "build": 1.5, "io.table": 0.5, "exec": 4.75, "plans.explain": 0.25}
    )
    assert sum(by_name.values()) == pytest.approx(10.0)


def test_descendants_stop_at_the_root_subtree():
    assert descendants(_tree(), 0) == [1, 2, 3, 4]
    assert descendants(_tree(), 5) == []


def test_tracer_nests_spans_and_shares_the_run_id():
    tr = Tracer("run-1")
    f = tr.wrap(lambda x: x + 1, "inner")
    with tr.span("outer") as outer:
        assert f(1) == 2
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == outer
    assert {s.run_id for s in tr.spans} == {"run-1"}
    assert tr.counts["inner"] == 1
    assert tr.spans[0].start <= tr.spans[1].start <= tr.spans[1].end <= tr.spans[0].end


def test_worker_thread_spans_hang_under_the_main_threads_open_span():
    tr = Tracer("run-2")
    with tr.span("steer.run_steered") as parent:
        t = threading.Thread(target=lambda: tr.wrap(lambda: None, "exec")())
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    assert tr.spans[1].name == "exec" and tr.spans[1].parent == parent
