from perfbench.trace import Span, Tracer, covered, self_time


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(1, 3), (2, 5), (7, 8)], 2.5, 7.5) == 3
    assert covered([], 0, 10) == 0
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    parent = Span(0, None, "execution", "q", 10.0, 20.0)
    kids = [
        Span(1, 0, "build", "q", 10.0, 13.0),
        Span(2, 0, "action", "q", 13.0, 19.0),
        Span(3, 2, "job", "7", 14.0, 15.0),  # grandchild inside a child: no effect
    ]
    assert self_time(parent, kids[:2]) == 1.0
    # overlapping and out-of-range children count once, clipped
    jobs = [Span(4, 0, "job", "a", 9.0, 12.0), Span(5, 0, "job", "b", 11.0, 14.0)]
    assert self_time(parent, jobs) == 6.0


def test_tracer_builds_parent_links_and_is_free_when_off():
    t = Tracer(True)
    with t.span("run", "w") as run:
        with t.span("pass", "p0") as p:
            job = t.add("job", "1", p.start, p.start, parent=p.id)
    assert [s.parent for s in t.spans] == [None, run.id, p.id]
    assert [s for s in t.spans if s.parent == p.id] == [job]
    assert run.end >= p.end >= p.start >= run.start

    off = Tracer(False)
    with off.span("run", "w") as s:
        assert s is None
    assert off.spans == []
