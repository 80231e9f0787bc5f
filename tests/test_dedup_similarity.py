"""Dedup / similarity property tests: planted duplicates must be
recovered (SURVEY.md §5.2.3), similarity operators must match a local
numpy oracle, and LSH candidate generation must be deterministic.
"""

from __future__ import annotations

import math
import shutil

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from spark_sklearn_spark.operators.lsh import near_dup_pairs
from spark_sklearn_spark.operators.similarity import cosine_pairs, cosine_topk
from spark_sklearn_spark.queries import grams

import __spark_entry__ as entry
from conftest import _rows

VOCAB = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu "
    "xi omicron pi rho sigma tau upsilon"
).split()


def _random_doc(rng, n):
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def test_planted_near_dups_recovered(spark):
    """40 random docs + 5 planted near-identical copies (one word
    changed): exactly the planted pairs come back at J >= 0.8."""
    rng = np.random.RandomState(3)
    docs = [_random_doc(rng, 60) for _ in range(40)]
    planted = []
    for i in range(5):
        words = docs[i].split()
        words[17] = "CHANGED"
        docs.append(" ".join(words))
        planted.append((i, 40 + i))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    )
    pairs = near_dup_pairs(df, "doc_id", "text", jaccard_threshold=0.8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == set(planted)


def _shingle_edge_docs():
    """Docs of distinct words whose pairs straddle the shingle graph's
    definition. One substituted word in an n-word doc leaves 3-shingle
    Jaccard (n-5)/(n+1) and 2-shingle Jaccard (n-3)/(n+1): at n = 30
    that is 25/31 >= NEAR_DUP_J (a pair), at n = 24 it is 19/25 (no
    pair, though 21/25 would be one with 2-shingles). Doc 2 is doc 1
    with a second word substituted, so it reaches doc 0 (Jaccard
    22/34) only through the closure. Doc 6 is too short to shingle."""
    a = [f"a{i}" for i in range(30)]
    b = [f"b{i}" for i in range(24)]
    texts = [
        a,
        a[:15] + ["x1"] + a[16:],
        a[:5] + ["x2"] + a[6:15] + ["x1"] + a[16:],
        b,
        b[:12] + ["x3"] + b[13:],
        [f"c{i}" for i in range(10)],
        ["d0", "d1"],
    ]
    return pd.DataFrame(
        {"doc_id": range(len(texts)), "text": [" ".join(t) for t in texts]}
    )


def test_shingle_dup_graph_sides_agree(spark, sf_dir, duck, tmp_path):
    """shingles.py's two sides define one graph: the DuckDB pairs set
    equals the dup_pairs snapshot (brute-force Jaccard vs LSH + exact
    verify) and the recursive-closure comp set equals the
    dup_components snapshot (pointer jumping). Checked at sf_dir and
    on _shingle_edge_docs, whose pairs sit next to the threshold: the
    fixture's pairs are all >= 0.88 or <= 0.07, so a one-sided move of
    the threshold inside that gap, or of the shingle width, shows only
    on the edge corpus."""
    import duckdb

    from spark_sklearn_spark.queries.shingles import (
        DUP_COMPONENTS_CTES,
        dup_components,
        dup_pairs,
    )
    from spark_sklearn_spark.sources.io import warehouse_path

    def check(d, con):
        def duck_rows(sql):
            return set(
                con.execute(f"WITH RECURSIVE {DUP_COMPONENTS_CTES} {sql}").fetchall()
            )

        pairs = duck_rows("SELECT src, dst FROM pairs")
        assert pairs  # an empty graph would make every check vacuous
        assert pairs == {tuple(r) for r in dup_pairs(spark, d).collect()}
        comp = duck_rows("SELECT doc_id, cluster_id FROM comp")
        assert comp == {
            tuple(r)
            for r in dup_components(spark, d)
            .select("doc_id", "cluster_id")
            .collect()
        }
        return pairs, comp

    check(sf_dir, duck)

    _shingle_edge_docs().to_parquet(tmp_path / "documents.parquet")
    edge = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{edge}/documents.parquet')"
    )
    try:
        pairs, comp = check(edge, con)
        assert pairs == {(0, 1), (1, 2)}
        assert dict(comp) == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 6}
    finally:
        for kind in ("dup_pairs", "dedup_components"):
            shutil.rmtree(warehouse_path(kind, edge), ignore_errors=True)


def test_minhash_deterministic_across_runs(spark):
    rng = np.random.RandomState(5)
    docs = [_random_doc(rng, 40) for _ in range(20)]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(20), "text": docs}))
    a = sorted(map(tuple, near_dup_pairs(df, "doc_id", "text", 0.1).collect()))
    b = sorted(
        map(tuple, near_dup_pairs(df.repartition(7), "doc_id", "text", 0.1).collect())
    )
    assert a == b


def test_shingles_short_docs_are_empty(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["one two", "a b c d"]})
    )
    out = grams.word_grams(df, 3).groupBy("doc_id").count().collect()
    assert {r["doc_id"]: r["count"] for r in out} == {1: 2}


def test_word_grams_sides_agree(spark):
    """word_grams / df_capped and their DuckDB twins give the same
    postings multiset: empty text, 1, n-1 and n words, repeated grams
    within a doc and across docs, both separators, distinct on/off,
    and the DF cap at 1 (only grams in exactly one row survive)."""
    import duckdb

    pdf = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": [
                "", "a", "a b", "a b c", "a b a b a b", "a b c",
                "x y z x y z", "c d e f",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("docs", pdf)
    for n in (2, 3):
        for sep in (" ", "_"):
            for distinct in (True, False):
                g = grams.word_grams(df, n, sep=sep, distinct=distinct)
                sql = grams.word_grams_sql("docs", n, sep=sep, distinct=distinct)
                got = sorted(map(tuple, g.collect()))
                assert got == sorted(con.execute(sql).fetchall()), (n, sep)
                assert (len(set(got)) < len(got)) == (not distinct)
                capped = grams.df_capped(g, 1, with_df=True)
                capped_sql = grams.df_capped_sql(f"({sql})", 1, with_df=True)
                got = sorted(map(tuple, capped.collect()))
                assert got == sorted(con.execute(capped_sql).fetchall())
                assert got and {r[-1] for r in got} == {1}
        assert not grams.word_grams(df.filter("doc_id < 2"), n).collect()


def _random_embeddings(rng, n, dim=16):
    return pd.DataFrame(
        {
            "vec_id": range(n),
            "embedding": [rng.rand(dim).astype("float32").tolist() for _ in range(n)],
        }
    )


def test_cosine_pairs_matches_numpy(spark):
    rng = np.random.RandomState(17)
    pdf = _random_embeddings(rng, 60)
    df = spark.createDataFrame(pdf)
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs(df, "vec_id", "embedding", 0.8, buckets=4).collect()
    }
    m = np.vstack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    want = {
        (i, j)
        for i in range(60)
        for j in range(i + 1, 60)
        if sims[i, j] >= 0.8
    }
    assert got == want and len(want) > 0


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(19)
    pdf = _random_embeddings(rng, 50)
    df = spark.createDataFrame(pdf)
    got = [
        r["vec_id"]
        for r in cosine_topk(
            df, df.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=5
        ).collect()
    ]
    m = np.vstack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.round(m @ m[0], 6)
    want = sorted(range(50), key=lambda i: (-sims[i], i))[:5]
    assert got == want


def test_multimodal_resize_and_frames(spark):
    """Resize + frame-sample stages keep the binary contract: fixed
    raster size out of resize, bounded frame fan-out from sampling."""
    import pandas as pd

    from spark_sklearn_spark.multimodal import (
        as_media,
        resize_images,
        sample_frames,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["x" * 9000, "word soup here"]})
    )
    media = as_media(df, "doc_id", "text")
    small = resize_images(media, 8, 8).collect()
    assert all(len(bytes(r["pixels"])) == 64 for r in small)
    frames = sample_frames(media, every_n_bytes=4096, max_frames=4).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert sorted(per_doc[0]) == [0, 1]   # 9000 bytes -> 2 frames
    assert sorted(per_doc[1]) == [0]      # short payload -> 1 frame


def test_decode_image_stub_parity():
    """Non-codec bytes must hit the stub raster whether or not PIL is
    installed (VERDICT r2 item 8): the fixture-driven queries may not
    change results when the real decoder library appears."""
    from spark_sklearn_spark.multimodal.columns import _decode_stub, decode_image

    payload = b"definitely not a PNG stream" * 40
    np.testing.assert_array_equal(decode_image(payload), _decode_stub(payload))
    with pytest.raises(NotImplementedError):
        decode_image(b"")


def test_decode_image_real_path_when_pil_present():
    """When PIL exists, a genuine PNG decodes for real at native size
    and featurization normalizes it to the 64x64 thumbnail."""
    from spark_sklearn_spark.multimodal.columns import _HAS_PIL, decode_image

    if not _HAS_PIL:
        pytest.skip("PIL not installed in this container; stub path covered above")
    import io

    from PIL import Image

    raster = np.arange(96 * 96, dtype=np.uint8).reshape(96, 96)
    buf = io.BytesIO()
    Image.fromarray(raster, mode="L").save(buf, format="PNG")
    got = decode_image(buf.getvalue())
    np.testing.assert_array_equal(got, raster)


def test_band_pairs_contract(spark):
    """band_pairs: one row per pair however many bands it shares,
    id_a < id_b (so no self-pairs), carried columns once per side, and
    no persist of its own — callers decide what to stage."""
    from spark_sklearn_spark.operators.lsh import band_pairs

    bands = spark.createDataFrame(
        [
            (3, 0, 7, 30), (3, 1, 9, 30),
            (2, 0, 7, 20), (2, 1, 8, 20),
            (1, 0, 7, 10), (1, 1, 8, 10),
            (4, 1, 5, 40),
        ],
        "id long, band int, h long, sig long",
    )
    pairs = band_pairs(bands, "id", ["band", "h"], carry=["sig"])
    assert pairs.columns == ["id_a", "id_b", "sig_a", "sig_b"]
    rows = [tuple(r) for r in pairs.collect()]
    assert sorted(rows) == [(1, 2, 10, 20), (1, 3, 10, 30), (2, 3, 20, 30)]
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan


def test_srp_planted_copies_recovered_exactly(spark):
    """Isotropic vectors + scaled copies: SRP-LSH at tau=0.98 returns
    exactly the planted (source, copy) pairs — sign signatures are
    scale-invariant, so recall on exact-direction dups is 1.0, and the
    exact-cosine verify kills every band false positive."""
    from spark_sklearn_spark.operators.lsh import srp_near_dup_pairs

    rng = np.random.RandomState(23)
    n, dim = 50, 16
    vecs = [rng.standard_normal(dim).astype("float32").tolist() for _ in range(n)]
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": vecs})
    copies = pd.DataFrame(
        {
            "vec_id": [1000 + i for i in range(5)],
            "embedding": [[3.0 * x for x in vecs[i]] for i in range(5)],
        }
    )
    df = spark.createDataFrame(pd.concat([pdf, copies], ignore_index=True))
    got = {
        (r["id_a"], r["id_b"])
        for r in srp_near_dup_pairs(df, "vec_id", "embedding", 0.98).collect()
    }
    assert got == {(i, 1000 + i) for i in range(5)}


def test_srp_recall_vs_exact_at_high_tau(spark):
    """Near-identical (noised) copies at cos ~0.99: the SRP pair set
    must equal the exact block-matmul pair set at tau=0.95 — the
    banded path loses nothing the exact verifier would keep (fixed
    seeds make this deterministic; analytic miss prob ~2e-6/pair)."""
    from spark_sklearn_spark.operators.lsh import srp_near_dup_pairs

    rng = np.random.RandomState(29)
    n, dim = 40, 16
    base = [rng.standard_normal(dim) for _ in range(n)]
    rows = [(i, v.astype("float32").tolist()) for i, v in enumerate(base)]
    for i in range(6):
        noisy = base[i] + 0.05 * rng.standard_normal(dim)
        rows.append((2000 + i, noisy.astype("float32").tolist()))
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
    )
    srp = {
        (r["id_a"], r["id_b"])
        for r in srp_near_dup_pairs(df, "vec_id", "embedding", 0.95).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs(df, "vec_id", "embedding", 0.95, buckets=4).collect()
    }
    assert srp == exact and len(exact) >= 5


def test_mmr_rerank_is_more_diverse_than_topk(spark, sf_dir):
    """MMR's selected set must (a) keep the most-relevant candidate at
    rank 1, and (b) have strictly lower average pairwise cosine than
    the plain top-k prefix — otherwise the diversity term did nothing."""
    import numpy as np
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from spark_sklearn_spark.functions.vectors import as_double_array
    from spark_sklearn_spark.operators.similarity import cosine_topk
    from spark_sklearn_spark.queries.pipeline5 import (
        MMR_CAND,
        MMR_K,
        MMR_QUERY_ID,
    )
    from spark_sklearn_spark.sources.io import load

    mmr = entry.queries()["q_sim_mmr_rerank"](spark, sf_dir).collect()
    assert len(mmr) == MMR_K
    assert [r["rank"] for r in mmr] == list(range(1, MMR_K + 1))

    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == MMR_QUERY_ID).select("embedding")
    top = cosine_topk(
        emb.filter(F.col("vec_id") != MMR_QUERY_ID),
        qrow,
        "vec_id",
        "embedding",
        MMR_CAND,
    ).collect()
    # rank 1 = the globally most relevant candidate
    assert mmr[0]["vec_id"] == top[0]["vec_id"]

    vecs = {
        r["vec_id"]: np.array(r["vec"], dtype=np.float64)
        for r in emb.select(
            "vec_id", as_double_array(F.col("embedding")).alias("vec")
        ).collect()
    }

    def avg_pairwise(ids):
        X = np.vstack([vecs[i] for i in ids])
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        S = X @ X.T
        n = len(ids)
        return (S.sum() - n) / (n * (n - 1))

    mmr_div = avg_pairwise([r["vec_id"] for r in mmr])
    topk_div = avg_pairwise([r[0] for r in top[:MMR_K]])
    assert mmr_div < topk_div, (mmr_div, topk_div)


def test_ivf_probe_is_exact_within_probed_lists(spark, sf_dir):
    """q_sim_ann_ivf is rows-only; pin the probe machinery here: the
    ANN result must EQUAL the exact cosine top-k computed over the
    members of the probed inverted lists (approximation comes ONLY
    from restricting to nprobe lists, never from the scoring/ranking
    inside them), and every returned id must belong to a probed
    cluster."""
    import numpy as np

    from pyspark.sql import functions as F

    from spark_sklearn_spark.operators.ivf import ivf_build, ivf_probe
    from spark_sklearn_spark.sources.io import load

    emb = load(spark, sf_dir, "embeddings")
    assigned, centers = ivf_build(
        spark, emb, "vec_id", "embedding", cache_key=sf_dir, k=16
    )
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    q = np.asarray(qrow["embedding"], dtype="float64")
    q /= np.linalg.norm(q)
    got = ivf_probe(assigned, centers, qrow["embedding"], nprobe=4, topk=10).collect()

    probe = set(int(i) for i in np.argsort(-(centers @ q))[:4])
    members = assigned.filter(F.col("cluster").isin(list(probe))).collect()
    member_ids = {r["vid"] for r in members}
    assert all(r["vec_id"] in member_ids for r in got)
    # exact within-candidate ranking, same (cos desc, id) rule
    exact = sorted(
        (
            (round(float(np.dot(np.asarray(r["u"]), q)), 6), -r["vid"])
            for r in members
        ),
        reverse=True,
    )[:10]
    want = [(-vid_neg, cos) for cos, vid_neg in exact]
    assert [(r["vec_id"], r["cos"]) for r in got] == [
        (vid, cos) for vid, cos in want
    ]


def test_srp_planted_copies_recall_exactly_one(spark, sf_dir):
    """With copies scaled AFTER quantization, sign bits are identical
    by construction: the cos^2=100 bucket must show candidate rate
    exactly 1e6 ppm (recall = 1, not just empirically)."""
    rows = (
        entry.queries()["q_dedup_recall_srp"](spark, sf_dir).collect()
    )
    # c2_bucket = signed cos^2-percent // 10, so the planted copies
    # (cos^2 = 100%) land in bucket 10.
    top = [r for r in rows if r.c2_bucket == 10]
    assert top, "no cos^2=100 bucket — planted copies missing"
    assert top[0].cand_rate_ppm == 1_000_000, top[0]


def test_simhash_hist_matches_production_cut(spark, sf_dir):
    """The banded-candidate Hamming histogram must agree with the
    production q_dedup_simhash exactly on the ≤ 6 cut: the histogram
    mass at hamming ≤ 6 IS the number of declared near-dup pairs.
    Distances stay within the 56-bit signature range."""
    from spark_sklearn_spark.queries.pipeline import SIMHASH_HAMMING

    hist = entry.queries()["q_dedup_simhash_hist"](
        spark, sf_dir
    ).collect()
    n_prod = entry.queries()["q_dedup_simhash"](spark, sf_dir).count()
    below = sum(
        r.n_pairs for r in hist if r.hamming <= SIMHASH_HAMMING
    )
    assert below == n_prod
    assert all(0 <= r.hamming <= 56 for r in hist)
    assert sum(r.n_pairs for r in hist) >= n_prod


def test_cdc_chunk_invariants(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "q_dedup_cdc")
    assert 1 <= r.n_sigs <= r.n_chunks
    assert 0 <= r.dup_chunk_ppm < 1_000_000
    # every chunk holds ≥1 gram, so the mean is ≥ 1.0
    assert r.mean_len_micro >= 1_000_000
    assert r.dup_chunk_ppm == math.floor(
        float(r.n_chunks - r.n_sigs) / r.n_chunks * 1000000
    )


def test_containment_idf_invariants(spark, sf_dir):
    """Intersection mass never exceeds either side's total (ppm ≤
    1e6), every surfaced pair clears the 0.6 ppm threshold in at
    least one direction, and the weighted pair set stays inside the
    unweighted containment candidate universe (same postings join,
    same DF cap)."""
    rows = entry.queries()["q_dedup_containment_idf"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert 0 < r.wi <= min(r.w_a, r.w_b)
        assert r.cont_idf_a_ppm <= 1_000_000
        assert r.cont_idf_b_ppm <= 1_000_000
        assert max(r.cont_idf_a_ppm, r.cont_idf_b_ppm) >= 600_000


def test_distinct_gram_minhash_matches_exploded(spark):
    """_mh_capped_and_bands' two signature forms — the 16x posting
    explode and the per-distinct-gram lsh.min_signature — must give
    the same (doc_id, band, h0, h1) rows."""
    from spark_sklearn_spark.queries.pipeline8 import (
        MH_K,
        MH_R,
        _mh_capped_and_bands,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y z"), (3, "x y z a b"),
         (4, "x y z"), (5, "too short")],
        "doc_id long, text string",
    )

    def bands(form):
        b = _mh_capped_and_bands(spark, None, docs=docs, form=form)[1]
        return {
            tuple(r) for r in b.select("doc_id", "band", "h0", "h1").collect()
        }

    exploded = bands("explode")
    assert len(exploded) == 4 * (MH_K // MH_R)
    assert exploded == bands("array")
