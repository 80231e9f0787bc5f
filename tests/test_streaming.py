"""Declared streaming query invariants (q_stream_*): hopping-window
top-k rows sit on the hop grid in rank order.
"""

from __future__ import annotations

import __spark_entry__ as entry


def test_hopping_topk_invariants(spark, sf_dir):
    """Every window carries at most 3 ranked rows in count-descending
    order, and every window start sits on the 15-minute hop grid."""
    rows = entry.queries()["q_stream_hopping_topk"](spark, sf_dir).collect()
    assert rows
    by_win = {}
    for r in rows:
        assert r.window_start.minute % 15 == 0
        assert r.window_start.second == 0
        by_win.setdefault(r.window_start, []).append(r)
    for rs in by_win.values():
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        counts = [r.n_events for r in rs]
        assert counts == sorted(counts, reverse=True)
