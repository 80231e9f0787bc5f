"""Text query invariants (q_text_*): lexical statistics replayed from
raw tokens, readability and diversity bounds, and Heaps'
law curves.
"""

from __future__ import annotations

import math

import __spark_entry__ as entry
from conftest import _rows


def test_burstiness_replay(spark, sf_dir):
    """Exact integer replay of the Fano pipeline for every reported
    term at sf0.001, and Fano must be positive (a term with df≥30 in
    500 docs always disperses)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from spark_sklearn_spark.sources.io import load

    rows = entry.queries()["q_text_burstiness"](spark, sf_dir).collect()
    assert rows
    docs = load(spark, sf_dir, "documents")
    nd = docs.count()
    stats = {
        r.term: (r.df, r.s, r.q)
        for r in docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("c").alias("s"),
            F.sum(F.expr("c * c")).alias("q"),
        )
        .collect()
    }
    for r in rows:
        df, s, q = stats[r.term]
        assert r.df == df and r.total_c == s
        assert r.fano_micro == (nd * q - s * s) * 1_000_000 // (nd * s)
        assert r.fano_micro > 0


def test_heaps_law_plausible(spark, sf_dir):
    """β must land in (0, 1)·1e6 (vocabulary grows sublinearly in a
    natural-ish corpus) and the curve's endpoint identities hold:
    n_points = doc count."""
    import __spark_entry__ as entry

    from spark_sklearn_spark.sources.io import load

    r = entry.queries()["q_text_heaps_law"](spark, sf_dir).collect()[0]
    assert r.n_points == load(spark, sf_dir, "documents").count()
    assert 0 < r.beta_micro < 1_000_000
    assert r.lnk_micro is not None


def test_heaps_bucketing_is_injective_at_fixture_scale(spark, sf_dir):
    """At ≤4096 documents the bucket map doc_id·4096 div (max+1) is
    injective, so the sampled curve IS the per-doc curve and n_points
    equals the doc count — the bit-compatibility claim in the
    docstring."""
    from spark_sklearn_spark.sources.io import load

    n_docs = load(spark, sf_dir, "documents").count()
    assert n_docs <= 4096
    r = entry.queries()["q_text_heaps_law"](spark, sf_dir).collect()[0]
    assert r.n_points == n_docs


def test_msttr_shows_length_bias(spark, sf_dir):
    """MSTTR-50 must dominate the raw corpus TTR on every language
    (the length-bias the segmental definition removes: a 31-type
    synthetic vocabulary keeps raw TTR in the low ppt while 50-token
    segments stay diverse) and stay a valid ppm; full segments imply
    typ_sum ≤ 50·n_segments ⇒ msttr_ppm ≤ 1e6."""
    rows = entry.queries()["q_text_msttr"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 < r.msttr_ppm <= 1_000_000
        assert r.msttr_ppm > r.raw_ttr_ppm
        assert r.n_types <= r.n_tokens
        assert r.n_segments * _seg() <= r.n_tokens


def _seg():
    from spark_sklearn_spark.queries.pipeline31 import _MSTTR_SEG

    return _MSTTR_SEG


def test_rake_scores_dominate_frequency(spark, sf_dir):
    """RAKE invariants: deg(w) ≥ freq(w) (every phrase containing w
    has length ≥ 1) so rake_micro ≥ 1e6; no stopword can appear (they
    delimit phrases); exactly top-20 in (score desc, term) order."""
    from spark_sklearn_spark.queries.pipeline31 import _RAKE_STOP

    rows = entry.queries()["q_text_rake"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.rake_micro >= 1_000_000
        assert r.deg >= r.freq > 0
        assert r.term not in _RAKE_STOP
    keys = [(-r.rake_micro, r.term) for r in rows]
    assert keys == sorted(keys)


def test_yule_k_is_simpson_consistent(spark, sf_dir):
    """K/10⁴ ≈ D under the with-replacement model: both derive from
    the same (S₂, N) moments, so recomputing K from the returned
    moments must reproduce the declared milli value exactly."""
    rows = _rows(spark, sf_dir, "q_text_yule_k")
    assert rows
    for r in rows:
        assert r.n_types <= r.n_tokens
        assert r.s2 >= r.n_tokens  # Σc² ≥ Σc
        k = math.floor(
            float(r.s2 - r.n_tokens)
            * 10000000
            / (float(r.n_tokens) * r.n_tokens)
        )
        assert r.yule_k_milli == k


def test_ari_replays_from_moments(spark, sf_dir):
    rows = _rows(spark, sf_dir, "q_text_ari")
    assert rows
    for r in rows:
        assert r.n_chars >= r.n_words >= r.n_sentences >= r.n_docs
        ari = (
            4.71 * (r.n_chars / r.n_words)
            + 0.5 * (r.n_words / r.n_sentences)
            - 21.43
        )
        assert r.ari_centi == math.floor(ari * 100)


def test_good_turing_replays_and_matches_hapax(spark, sf_dir):
    """r* replays exactly from the returned spectrum cells, and the
    unseen mass P_0 = N_1/N must agree with q_text_hapax's
    independent (n_hapax, n_tokens) moments per language."""
    rows = _rows(spark, sf_dir, "q_text_good_turing")
    assert rows
    hapax = {
        r.lang: (r.n_hapax, r.n_tokens)
        for r in _rows(spark, sf_dir, "q_text_hapax")
    }
    for r in rows:
        assert 1 <= r.r <= 5
        assert r.n_r >= 1
        assert r.r_star_micro == (r.r + 1) * r.n_r_next * 1000000 // r.n_r
        n1, n_tok = hapax[r.lang]
        assert r.p0_ppm == n1 * 1000000 // n_tok
        assert 0 <= r.p0_ppm <= 1_000_000
