"""Span self-time arithmetic."""

from perfbench.spans import Span, covered, self_time, union


def sp(i, name, start, end, parent=None):
    return Span(i, name, parent, start, end)


def test_union_merges_overlaps_and_drops_empty():
    assert union([(3, 4), (0, 2), (1, 3), (5, 5)]) == [(0, 4)]
    assert covered([(0, 1), (2, 4), (3, 5)]) == 4


def test_self_time_subtracts_children():
    spans = [sp(0, "tables.commit", 0, 10),
             sp(1, "tables.bucket", 1, 4, parent=0),
             sp(2, "tables.bucket", 3, 6, parent=0),
             sp(3, "extraction.statements", 1, 1.5, parent=1)]
    # buckets overlap on [3, 4]: their union is 5 s, counted once
    assert self_time(spans, "tables.commit") == 5
    assert self_time(spans, "tables.bucket") == 4.5
    assert self_time(spans, "extraction.statements") == 0.5


def test_self_time_of_sequential_spans_and_missing_name():
    spans = [sp(0, "pipeline.triples", 0, 2), sp(1, "pipeline.triples", 5, 6)]
    assert self_time(spans, "pipeline.triples") == 3
    assert self_time(spans, "canonicalize.edges") == 0


def test_child_outside_parent_is_not_subtracted():
    spans = [sp(0, "tables.commit", 0, 2), sp(1, "tables.bucket", 1, 5, 0)]
    assert self_time(spans, "tables.commit") == 1
