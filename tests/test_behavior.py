"""User-behavior query invariants (q_behavior_* / q_funnel_*):
concentration and inter-arrival statistics replayed in Python, and the
removal-effect attribution walk's shares and degenerate-data guards.
"""

from __future__ import annotations

import math
from collections import namedtuple

import pytest

import __spark_entry__ as entry
from conftest import _rows


def test_entropy_rate_bounds(spark, sf_dir):
    """h ∈ [0, ln(n_next_types)]·1e6 per state, and the transition
    totals cover every non-terminal event."""
    import math

    import __spark_entry__ as entry

    rows = entry.queries()["q_behavior_entropy_rate"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        cap = math.floor(math.log(r.n_next_types) * 1_000_000) + 1
        assert 0 <= r.h_micro <= cap, r
        assert r.n_out >= r.n_next_types


def test_gini_replay(spark, sf_dir):
    """Exact integer replay at sf0.001 and range sanity: Gini of a
    real usage distribution lies strictly in (0, 1)·1e6 micro."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    r = entry.queries()["q_behavior_gini"](spark, sf_dir).collect()[0]
    counts = sorted(
        (c.x, c.user_id)
        for c in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    )
    n = len(counts)
    s = sum(x for x, _ in counts)
    sw = sum((i + 1) * x for i, (x, _) in enumerate(counts))
    assert (r.n_users, r.n_events) == (n, s)
    assert r.gini_micro == (2 * sw - (n + 1) * s) * 1_000_000 // (n * s)
    assert 0 < r.gini_micro < 1_000_000


def test_yule_simon_replay(spark, sf_dir):
    """Exact integer replay: ρ̂ = S/(S−n) and P(1) = S/(2S−n) in
    floor-micro/ppm, plus the distributional sanity ρ̂ > 1 (mean > 1
    event per user) and both head probabilities inside (0, 1)."""
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    r = entry.queries()["q_behavior_yule_simon"](spark, sf_dir).collect()[
        0
    ]
    counts = [
        c.x
        for c in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    ]
    n, s = len(counts), sum(counts)
    f1 = sum(1 for x in counts if x == 1)
    assert (r.n_users, r.n_events, r.n_singletons) == (n, s, f1)
    assert r.rho_micro == s * 1_000_000 // (s - n)
    assert r.p1_obs_ppm == f1 * 1_000_000 // n
    assert r.p1_pred_ppm == s * 1_000_000 // (2 * s - n)
    assert r.rho_micro > 1_000_000
    assert 0 <= r.p1_obs_ppm < 1_000_000
    assert 0 < r.p1_pred_ppm < 1_000_000


def test_interarrival_bounds(spark, sf_dir):
    """Goh–Barabási invariants: B ∈ (−1, 1) micro strictly (gaps are
    nonnegative with nonzero mean), M ∈ [−1, 1] micro
    (Cauchy–Schwarz), consecutive-pair count strictly below the gap
    count (each user stream loses its last pair), and one row per
    event type."""
    rows = entry.queries()["q_behavior_interarrival"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert -1_000_000 < r.burstiness_micro < 1_000_000
        assert -1_000_000 <= r.memory_micro <= 1_000_000
        assert 0 < r.n_pairs < r.n_gaps
        assert r.gap_mean_s > 0


def test_hhi_bounds(spark, sf_dir):
    rows = _rows(spark, sf_dir, "q_behavior_hhi")
    assert rows
    for r in rows:
        # 1/n_users ≤ HHI ≤ 1 (floor slop on the lower bound)
        assert r.hhi_ppm >= math.floor(1000000.0 / r.n_users) - 1
        assert r.hhi_ppm <= 1_000_000
        if r.n_users > 1:
            assert 0 <= r.hhi_norm_ppm <= 1_000_000


def test_user_overlap_bounds(spark, sf_dir):
    rows = _rows(spark, sf_dir, "q_behavior_user_overlap")
    assert rows
    types = set()
    for r in rows:
        types.update((r.type_a, r.type_b))
        assert r.type_a < r.type_b
        assert 0 < r.n_shared <= min(r.n_a, r.n_b)
        # Jaccard ≤ overlap always (|∪| ≥ min)
        assert r.jaccard_ppm <= r.overlap_ppm <= 1_000_000
    # all C(k,2) pairs present on the smoke fixture (dense co-usage)
    k = len(types)
    assert len(rows) == k * (k - 1) // 2


def test_removal_effect_monotone_and_shares(spark, sf_dir):
    """Removing a channel can only lose conversion mass (subset of
    sources, identical matrix, floor is monotone), effects replay
    from the returned q9 masses, and the attribution shares sum to
    ≤ 1e6 with only floor loss."""
    rows = _rows(spark, sf_dir, "q_behavior_removal_effect")
    assert rows
    base = rows[0].conv_base_q9
    assert all(r.conv_base_q9 == base for r in rows)
    share_sum = 0
    for r in rows:
        assert 0 <= r.conv_removed_q9 <= base
        e = base - r.conv_removed_q9
        assert r.removal_effect_ppm == e * 1000000 // base
        assert 0 <= r.removal_effect_ppm <= 1_000_000
        share_sum += r.attribution_ppm
    assert 1_000_000 - len(rows) < share_sum <= 1_000_000


def test_removal_effect_channels_are_nonpurchase_types(spark, sf_dir):
    from spark_sklearn_spark.sources.io import load
    import pyspark.sql.functions as F

    rows = _rows(spark, sf_dir, "q_behavior_removal_effect")
    types = {
        r.event_type
        for r in load(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .collect()
    }
    assert {r.channel for r in rows} == types - {"purchase"}


_Cell = namedtuple("Cell", ["src", "nxt", "is_first", "n"])


def test_removal_walk_rejects_sentinel_collision():
    """A REAL event type named 'conv'/'drop'/'__base__' would merge
    into the absorbing state identically on both engines — silent
    wrong attribution. The walk must refuse loudly instead."""
    from spark_sklearn_spark.queries.pipeline35 import _removal_walk

    for bad in ("conv", "drop", "__base__"):
        cells = [
            _Cell("view", bad, 1, 3),
            _Cell("view", "purchase", 0, 2),
        ]
        with pytest.raises(ValueError, match="sentinel"):
            _removal_walk(cells)
    # and as a source type too
    with pytest.raises(ValueError, match="sentinel"):
        _removal_walk([_Cell("drop", "purchase", 1, 1)])


def test_removal_walk_no_conversion_corpus_keeps_channels():
    """No (·,'purchase') transition anywhere: the walk still emits
    one row per channel with conv_base = 0 and NULL ratios — and the
    rewritten oracle (scalar-subquery base) now agrees; the old
    CROSS JOIN on the empty base CTE zeroed the oracle's row set
    (ADVICE r15 item 1)."""
    from spark_sklearn_spark.queries.pipeline35 import _removal_walk

    rows = _removal_walk(
        [
            _Cell("view", "click", 1, 4),
            _Cell("click", None, 1, 2),
            _Cell("click", "view", 0, 3),
        ]
    )
    assert [r[0] for r in rows] == ["click", "view"]
    for _, base, removed, eff, attr in rows:
        assert base == 0 and removed == 0
        assert eff is None and attr is None


def test_removal_oracle_base_is_scalar_subquery():
    """The oracle's base CTE must stay the COALESCE'd scalar
    subquery — a bare `WHERE rm = '__base__'` CTE is empty on a
    no-conversion corpus and CROSS JOIN silently drops every row."""
    sql = entry.oracle_sql()["q_behavior_removal_effect"]
    assert "COALESCE((SELECT cm FROM conv WHERE rm = '__base__'), 0)" in sql
