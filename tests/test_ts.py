"""Time-series query invariants (q_ts_*): tests replayed in
Python/numpy or from their returned moments, and bounds on the
calendar-grain statistics.
"""

from __future__ import annotations

import math

import __spark_entry__ as entry
from conftest import _rows


def test_periodogram_power_bounds(spark, sf_dir):
    """Both periods present; rel power in [0, 1e6] (power <= total^2
    by Cauchy-Schwarz) and totals equal across periods (same series).
    No dominance assertion — at sf0.01 the events fixture has no
    weekly cycle strong enough to beat the period-11 floor."""
    rows = entry.queries()["q_ts_periodogram"](spark, sf_dir).collect()
    by_p = {r.period: r for r in rows}
    assert set(by_p) == {7, 11}
    for r in rows:
        assert 0 <= r.rel_power_micro <= 1_000_000, r
    assert by_p[7].total == by_p[11].total > 0


def test_ljung_box_replay(spark, sf_dir):
    """Exact numpy replay of the integer-scaled Ljung-Box pipeline at
    sf0.001: ρ_micro and the cumulative Q must match the n-scaled
    scatter arithmetic bit for bit, and ρ must lie in [-1e6, 1e6]."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_ts_ljung_box"](spark, sf_dir).collect()
    assert [r.k for r in rows] == list(range(1, 8))
    daily = {
        r.day_idx: r.x
        for r in load(spark, sf_dir, "events")
        .selectExpr(
            "cast(datediff(to_date(ts), date '1970-01-01') as long)"
            " as day_idx"
        )
        .groupBy("day_idx")
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    }
    idx = sorted(daily)
    n = len(idx)
    s = sum(daily.values())
    cent = {i: n * daily[i] - s for i in idx}
    den = sum(v * v for v in cent.values())
    cum = 0
    for r in rows:
        num = sum(
            cent[i] * cent[i + r.k] for i in idx if i + r.k in daily
        )
        rho = (num * 1_000_000) // den if num >= 0 else -(
            (-num * 1_000_000) // den
        )
        assert r.rho_micro == rho, (r.k, r.rho_micro, rho)
        assert -1_000_000 <= r.rho_micro <= 1_000_000
        t = rho * rho
        cum += t // (n - r.k)
        assert r.lb_q_scaled == n * (n + 2) * cum, r


def test_permutation_entropy_bounds(spark, sf_dir):
    """PE must land in [0, ln(6)]·1e6 micro-nats per event type, with
    n_patterns ≤ 6 and triples = days − 2 when the type's daily
    series is gap-free."""
    import math

    import __spark_entry__ as entry

    rows = entry.queries()["q_ts_permutation_entropy"](spark, sf_dir).collect()
    assert rows
    cap = math.floor(math.log(6) * 1_000_000)
    for r in rows:
        assert 0 <= r.pe_micro <= cap, r
        assert 1 <= r.n_patterns <= 6
        assert r.n_triples > 0


def test_cross_correlation_invariants(spark, sf_dir):
    """15 lag rows; |xcf| ≤ 1e6 + 1 micro; the lag-0 value is
    symmetric ground truth (overlap of the two full series), and
    n_pairs is maximal at k=0 for gap-free series."""
    import __spark_entry__ as entry

    rows = entry.queries()["q_ts_cross_correlation"](spark, sf_dir).collect()
    assert [r.k for r in rows] == list(range(-7, 8))
    by_k = {r.k: r for r in rows}
    for r in rows:
        assert abs(r.xcf_micro) <= 1_000_001, r
        assert r.n_pairs > 0
    assert all(by_k[0].n_pairs >= by_k[k].n_pairs for k in by_k)


def test_piecewise_trend_invariants(spark, sf_dir):
    """The chosen break must be an interior candidate, the split SSE
    can never exceed the single-line SSE (each side's OLS dominates
    the restricted global line), and the gain is therefore in
    [0, 1e6] ppm."""
    r = entry.queries()["q_ts_piecewise_trend"](spark, sf_dir).collect()[
        0
    ]
    assert r.n_days == 30
    assert 2 <= r.break_i <= r.n_days - 2
    assert r.sse_split_milli <= r.sse_single_milli
    assert 0 <= r.sse_gain_ppm <= 1_000_000


def test_spectral_entropy_bounds(spark, sf_dir):
    """Spectrum invariants: the grid is 12 periods, the dominant
    period is on the grid, its share is a valid ppm, and PR/K lies in
    (1/K, 1] micro — with equality 1e6 only for a perfectly flat
    spectrum."""
    r = entry.queries()["q_ts_spectral_entropy"](spark, sf_dir).collect()[
        0
    ]
    assert r.k_periods == 12
    assert 2 <= r.dominant_period <= 13
    assert 0 < r.dom_share_ppm <= 1_000_000
    assert 1_000_000 // 12 <= r.spectral_pr_per_k_micro <= 1_000_000


def test_runs_test_bounds(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "q_ts_runs_test")
    n = r.n_up + r.n_down
    assert 1 <= r.n_runs <= n
    # runs count can't exceed 2·min+1 (alternation bound)
    assert r.n_runs <= 2 * min(r.n_up, r.n_down) + 1
    mu = 2.0 * r.n_up * r.n_down / n + 1.0
    assert r.mu_micro == math.floor(mu * 1000000)


def test_turning_points_bounds(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "q_ts_turning_points")
    assert 0 <= r.n_turning <= r.n_days - 2
    assert r.expected_micro == math.floor(
        2.0 * (r.n_days - 2) / 3.0 * 1000000
    )


def test_variance_ratio_consistency(spark, sf_dir):
    from spark_sklearn_spark.sources.io import load
    import pyspark.sql.functions as F

    [r] = _rows(spark, sf_dir, "q_ts_variance_ratio")
    n_days = (
        load(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .count()
    )
    assert r.n_increments == n_days - 1
    for q in (2, 4, 8):
        vr = getattr(r, f"vr{q}_ppm")
        assert vr is not None and vr >= 0


def test_sample_entropy_bounds(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "q_ts_sample_entropy")
    # an m=2 match implies its m=1 prefix matches
    assert 0 <= r.n_match_m2 <= r.n_match_m1
    if r.n_match_m2 > 0:
        assert r.sampen_micro >= 0
        se = -math.log(r.n_match_m2 / r.n_match_m1)
        assert r.sampen_micro == math.floor(se * 1000000)


def test_dow_eta2_bounds(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "q_ts_dow_eta2")
    assert 0 <= r.eta2_ppm <= 1_000_000
    assert r.var_daily_floor >= 0


def test_drawdown_invariants(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "q_ts_drawdown")
    assert r.max_draw >= 0
    assert 0 <= r.longest_underwater <= r.n_underwater <= r.n_days
    assert r.underwater_ppm == math.floor(
        r.n_underwater / r.n_days * 1000000
    )


def test_concurrency_invariants(spark, sf_dir):
    """Peak is positive, never exceeds the day's active-session
    count; the time-weighted average never exceeds the peak; and the
    session-day segment total covers every sessionize session at
    least once (each session touches ≥ 1 day)."""
    rows = entry.queries()["q_ts_concurrency"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.peak_conc <= r.n_active_sessions
        assert r.span_us >= 0
        if r.conc_twa_milli is not None:
            assert 0 <= r.conc_twa_milli <= r.peak_conc * 1000
    n_sessions = (
        entry.queries()["q_behavior_sessionize"](spark, sf_dir).count()
    )
    assert sum(r.n_active_sessions for r in rows) >= n_sessions


def test_mann_kendall_invariants(spark, sf_dir):
    """|S| is bounded by the pair count C(n,2); var18 matches the
    closed form replayed on the returned integers (no ties can make
    it exceed the untied value); Z's sign agrees with S."""
    rows = entry.queries()["q_ts_mann_kendall"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        n = r.n_days
        assert abs(r.s_stat) <= n * (n - 1) // 2
        assert r.var18 <= n * (n - 1) * (2 * n + 5)
        assert r.var18 >= 0
        if r.z_micro is not None and r.s_stat != 0:
            assert (r.z_micro >= 0) == (r.s_stat > 0) or r.z_micro in (
                -1,
                0,
            )  # floor slop at tiny |Z|


def test_sma_cross_alternates_per_type(spark, sf_dir):
    """Consecutive crossings within a type must alternate direction
    (golden can only follow death and vice versa), and the stored
    diff signs must match the direction labels."""
    rows = entry.queries()["q_ts_sma_cross"](spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        assert (r.direction == "golden") == (r.diff > 0)
        assert r.diff_prev is not None and r.diff_prev != 0
        assert (r.diff > 0) != (r.diff_prev > 0)
        by_type.setdefault(r.event_type, []).append(r.direction)
    for dirs in by_type.values():
        for prev, cur in zip(dirs, dirs[1:]):
            assert prev != cur


def test_dickey_fuller_replays_from_moments(spark, sf_dir):
    """The shipped BIGINT moments must reproduce beta_micro and
    df_t_micro exactly via the same closed form — the replayability
    guarantee the moments exist for."""
    import math

    rows = entry.queries()["q_ts_dickey_fuller"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        n, sx, sy, sxx, sxy, syy = r.n_obs, r.sx, r.sy, r.sxx, r.sxy, r.syy
        d_det = n * sxx - sx * sx
        if n < 3 or d_det <= 0:
            assert r.beta_micro is None and r.df_t_micro is None
            continue
        beta = float(n * sxy - sx * sy) / float(d_det)
        assert r.beta_micro == math.floor(beta * 1000000)
        sse = (float(syy) - float(sy) * sy / n) - beta * (
            float(sxy) - float(sx) * sy / n
        )
        var_b = sse / (n - 2) * n / float(d_det)
        rt = math.sqrt(var_b)
        if rt == 0:
            assert r.df_t_micro is None
        else:
            assert r.df_t_micro == math.floor(beta / rt * 1000000)


# Keys that read behavior.py's day index, day counts or day revenue.
DAILY_SERIES_KEYS = (
    "q_ts_autocorr", "q_ts_backtest", "q_ts_pacf", "q_ts_esd",
    "q_ml_kruskal", "q_ts_periodogram", "q_ts_ljung_box",
    "q_ts_spectral_entropy", "q_ts_sax", "q_ts_peaks",
    "q_ts_permutation_entropy", "q_ml_friedman", "q_behavior_lifecycle",
    "q_ts_lttb", "q_ts_bollinger", "q_ts_granger", "q_ts_theilsen",
    "q_behavior_stickiness", "q_win_gaps_islands", "q_ts_mann_kendall",
    "q_ts_sma_cross", "q_ts_dickey_fuller", "q_ts_cross_correlation",
    "q_ts_changepoint", "q_ml_spearman", "q_ml_kendall", "q_ts_hurst",
)


def _day_edge_events():
    """54 events over 2024-01-01..14 with no event on 01-08, in three
    event types; 01-10 is a spike of 8 views. Day 01-01 ends with an
    event at 23:59:59.999999 and day 01-02 starts with one at exactly
    midnight, the two instants a day key that rounds or shifts by a
    microsecond puts on the wrong day."""
    import pandas as pd

    per_day = [5, 3, 4, 6, 2, 4, 5, 0, 3, 8, 4, 2, 5, 3]
    types = ("view", "click", "purchase")
    boundary = {
        4: pd.Timestamp("2024-01-01 23:59:59.999999"),
        5: pd.Timestamp("2024-01-02 00:00:00"),
    }
    rows = []
    for day, n in enumerate(per_day):
        for _ in range(n):
            k = len(rows)
            ts = pd.Timestamp(2024, 1, day + 1) + pd.Timedelta(
                hours=(5 * k) % 24, minutes=(7 * k) % 60
            )
            t = "view" if day == 9 else types[(k + day) % 3]
            rows.append(
                (k, boundary.get(k, ts), k % 5, t, (37 * k) % 100 / 4)
            )
    return pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).assign(props="{}").astype({"ts": "datetime64[us]"})


def test_daily_series_sides_agree(spark, sf_dir, duck, tmp_path):
    """behavior.py's day index and day counts give the same relation on
    both engines across a midnight boundary, and every key reading the
    daily series matches its oracle at sf_dir and on _day_edge_events."""
    import sys
    from collections import Counter
    from pathlib import Path

    import duckdb

    from spark_sklearn_spark.queries.behavior import (
        DAY_COUNTS_CTE,
        DAY_IDX_SQL,
        TYPE_DAY_COUNTS_CTE,
        day_counts,
        day_idx,
    )

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from check import check_query

    qs, oracles = entry.queries(), entry.oracle_sql()
    ev = _day_edge_events()
    ev.to_parquet(tmp_path / "events.parquet")
    edge = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{edge}/events.parquet')"
    )

    counts = {}
    for by, cte in (((), DAY_COUNTS_CTE), (("event_type",), TYPE_DAY_COUNTS_CTE)):
        counts[by] = sorted(tuple(r) for r in day_counts(spark, edge, by).collect())
        d_rows = sorted(con.execute(f"WITH {cte} SELECT * FROM daily").fetchall())
        assert counts[by] == d_rows, by
    days = ev.ts.values.astype("datetime64[D]").astype("int64").tolist()
    assert counts[()] == sorted(Counter(days).items())

    lits = "TIMESTAMP '2024-01-01 23:59:59.999999', TIMESTAMP '2024-01-02'"
    s_days = spark.sql(f"SELECT explode(array({lits})) AS ts").select(day_idx())
    assert [r[0] for r in s_days.collect()] == [19723, 19724]
    d_days = con.execute(f"SELECT {DAY_IDX_SQL} FROM (SELECT unnest([{lits}]) AS ts)")
    assert [r[0] for r in d_days.fetchall()] == [19723, 19724]

    for d, c in ((sf_dir, duck), (edge, con)):
        for k in DAILY_SERIES_KEYS:
            ok, msg = check_query(k, qs[k], oracles[k], spark, c, d)
            assert ok and msg != "OK (0 rows)", (k, d, msg)
