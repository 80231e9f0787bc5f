"""Embedding query invariants (q_emb_*): isotropy and
per-dimension entropy bounds, and the mutual-kNN degree histogram.
"""

from __future__ import annotations

import math

import __spark_entry__ as entry
from conftest import _rows


def test_isotropy_bounds(spark, sf_dir):
    """Participation ratio must land in (1, 64]·1e6 micro and the
    trace/Frobenius identities must recombine: PR·F2 ≤ T²·1e6 <
    (PR+1)·F2 (floor definition). The fixture embeddings are
    near-isotropic, so PR should be well above half the dimension."""
    import __spark_entry__ as entry

    r = entry.queries()["q_emb_isotropy"](spark, sf_dir).collect()[0]
    assert r.n_vecs > 0 and r.fro2_damped > 0
    assert 1_000_000 < r.pr_micro <= 64_000_000
    t2 = r.trace_damped * r.trace_damped
    assert r.pr_micro * r.fro2_damped <= t2 * 1_000_000
    assert t2 * 1_000_000 < (r.pr_micro + 1) * r.fro2_damped
    assert r.pr_micro > 32_000_000  # isotropic fixture


def test_mutual_knn_histogram(spark, sf_dir):
    """Degrees lie in 0..k, the histogram covers the whole panel, and
    the mutual-edge count implied by Σ deg·count is even (each mutual
    edge contributes to two points' degrees)."""
    import __spark_entry__ as entry

    from spark_sklearn_spark.queries.pipeline30 import (
        LOF_K,
        LOF_PANEL_MOD,
    )
    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_emb_mutual_knn"](spark, sf_dir).collect()
    panel_n = (
        load(spark, sf_dir, "embeddings")
        .filter(f"vec_id % {LOF_PANEL_MOD} = 0")
        .count()
    )
    assert sum(r.n_points for r in rows) == panel_n
    assert all(0 <= r.mutual_deg <= LOF_K for r in rows)
    assert sum(r.mutual_deg * r.n_points for r in rows) % 2 == 0


def test_dim_entropy_bounds(spark, sf_dir):
    rows = _rows(spark, sf_dir, "q_emb_dim_entropy")
    dims = {r.dim for r in rows}
    assert dims == set(range(1, len(rows) + 1))
    ln8_micro = math.floor(math.log(8.0) * 1000000)
    for r in rows:
        assert 0 <= r.entropy_micro <= ln8_micro
        # modal bin holds at least the uniform share
        assert r.top_bin_ppm >= 125_000 - 1
