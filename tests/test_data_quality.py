"""Layout query invariants (q_layout_*): file-layout metrics separate
the two clustering layouts.
"""

from __future__ import annotations

import __spark_entry__ as entry


def test_overlap_depth_separates_layouts(spark, sf_dir):
    """The clustering metric must discriminate: the by_date layout
    (files = disjoint 30-day ranges) has depth 1, the by_key layout
    (every file spans the whole date range) has depth = files_total —
    and depth can never exceed the file count."""
    rows = {
        r.layout: r
        for r in entry.queries()["q_layout_overlap_depth"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"by_date", "by_key"}
    assert rows["by_date"].max_depth == 1
    assert rows["by_key"].max_depth == rows["by_key"].files_total
    for r in rows.values():
        assert 1 <= r.max_depth <= r.files_total
