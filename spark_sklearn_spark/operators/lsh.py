"""Locality-sensitive hashing for near-duplicate detection (SURVEY.md
§2B q_dedup_minhash, LLM-pipeline): one candidate skeleton for every
banded dedup tier, with the signature function plugged in.

1. signatures: MinHash over word-shingle hashes (sets), sign random
   projections (vectors), or the md5-head SimHash / MinHash built in
   SQL by the query modules (``min_signature`` is the per-distinct-key
   minimum for those).
2. banding: long-form ``(id, band key...)`` rows — bands·N rows, the
   only shuffle of the candidate phase.
3. candidate pairs: ``band_pairs``, a self-equi-join on the band key
   with ``id_a < id_b``, then distinct — a plain shuffled hash join on
   a compound key; never an all-pairs product.
4. verify: candidates re-join their payload (shingle-hash sets,
   vectors, signatures) and the exact measure filters false positives.

MinHash recall: a true pair with Jaccard J matches one band with
probability 1-(1-J^r)^b. At the defaults (b=32, r=4) a J=0.9 pair is
missed with probability (1-0.9⁴)^32 ≈ 1.4e-15 — effectively exact for
near-dup thresholds — while a random J≈0.05 pair has ~2e-4 expected
candidate bands, so candidate volume stays ~linear. This is the
sublinear scale path for 100 TB dedup; the exact O(n²) verifier only
ever sees candidates.

SRP: ``planes = bands·rows_per_band`` fixed random hyperplanes (seeded
Gaussian); each vector's bit i is ``sign(v · h_i)``, one
``(n×d) @ (d×planes)`` float64 BLAS matmul per Arrow batch, bits packed
``rows_per_band`` at a time into an int band hash.
``P[sign(a·h) = sign(b·h)] = 1 − θ(a,b)/π`` (Goemans–Williamson /
Charikar SimHash bound), and signs are invariant to positive scaling,
so no normalization is needed before hashing. Recall at the defaults
(bands=64, rows=16, 1024 planes): cos 0.95 → p=0.899, miss prob
(1−p¹⁶)⁶⁴ ≈ 2e-6; cos 0.9 → p=0.856, miss ≈ 0.4%. A random orthogonal
pair (p=0.5) expects 64·2⁻¹⁶ ≈ 1e-3 candidate bands. Exact duplicates
(and positive scalings) share the full signature and are caught with
probability 1. The exact block-matmul (operators/similarity.py
cosine_pairs) remains the verifier and the low-τ recall oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.vectors import as_double_array, cosine, sq_norm


def band_pairs(
    bands: DataFrame,
    id_col: str,
    key_cols: Sequence[str],
    carry: Sequence[str] = (),
) -> DataFrame:
    """Distinct candidate pairs ``(id_a, id_b, <c>_a…, <c>_b…)`` with
    ``id_a < id_b`` from a self-equi-join of ``bands`` on ``key_cols``;
    each ``carry`` column rides along once per side.

    Never persists: callers whose band build is expensive and not
    exchange-reusable persist ``bands`` themselves, while a band build
    that ends in an aggregate (SimHash) relies on Catalyst reusing that
    exchange on both join sides."""
    keys = list(key_cols)
    a, b = (
        bands.select(
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            *keys,
        )
        for s in ("a", "b")
    )
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            *[f"{c}_a" for c in carry],
            *[f"{c}_b" for c in carry],
        )
        .distinct()
    )


def min_signature(
    postings: DataFrame, id_col: str, key_col: str, hashes: Sequence[Column]
) -> DataFrame:
    """Per-id MinHash signature ``(id_col, mh0..mh{k-1})`` over
    ``(id_col, key_col)`` postings, where ``hashes`` are the k hash
    expressions of ``key_col``.

    A hash of the key never depends on the id, so the k hashes are
    evaluated ONCE per DISTINCT key as an array, joined back onto the
    postings on the key (a postings relation already partitioned on
    the key — a DF-cap window — makes that join exchange-free), and
    the k minima come out of ONE hash aggregate on the id."""
    gh = postings.select(key_col).distinct().select(
        key_col, F.array(*hashes).alias("hs")
    )
    return (
        postings.join(gh, key_col)
        .groupBy(id_col)
        .agg(*[F.min(F.col("hs")[i]).alias(f"mh{i}") for i in range(len(hashes))])
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    bands: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from the LSH band join,
    carrying both shingle-hash sets for exact verification downstream.

    The (doc, shingle-hashes) relation is computed ONCE and persisted:
    it feeds the banding pass and both sides of the verify join, and
    re-deriving it costs a full interpreted shingling pass each time
    (measured: 3 recomputes ≈ 19 s vs ~7 s persisted at sf0.1). At
    cluster scale the same staging would be a checkpoint/exchange
    reuse; the persisted relation is just (long, array<long>) — far
    smaller than the texts."""
    import numpy as np
    import pandas as pd

    # Shingling + shingle hashing runs inside ONE Arrow batch pass:
    # Spark's higher-order array functions are interpreted (no
    # codegen, no CSE), so a JVM-expression shingle pipeline costs
    # more than the Python split + blake2b path over the same Arrow
    # batches (measured 13.5 s vs ~4 s at sf0.1). blake2b(8 bytes) is
    # a keyless, platform-stable hash — deterministic across runs,
    # workers, and partitionings.
    n = shingle_n

    def shingle_hash(batches):
        from hashlib import blake2b

        for pdf in batches:
            docs_out, hs_out = [], []
            for doc, text in zip(pdf["doc"], pdf["text"]):
                w = text.split(" ")
                if len(w) < n:
                    continue
                sh = {"_".join(w[i : i + n]) for i in range(len(w) - n + 1)}
                hs = np.fromiter(
                    (
                        int.from_bytes(
                            blake2b(s.encode(), digest_size=8).digest(), "big"
                        )
                        for s in sh
                    ),
                    dtype=np.uint64,
                    count=len(sh),
                )
                docs_out.append(doc)
                hs_out.append(hs.view(np.int64))
            yield pd.DataFrame({"doc": docs_out, "hs": hs_out})

    # k minhash permutations as (a_i·h + b_i) mod 2^64 multiply-shift
    # with odd a_i, then per-band FNV compression — all one broadcasted
    # numpy expression per doc. Deterministic: fixed RandomState seed,
    # uint64 wraparound is well-defined.
    k = bands * rows_per_band
    rng = np.random.RandomState(42)
    A = (rng.randint(1, 2**62, size=k, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    Bc = rng.randint(0, 2**63, size=k, dtype=np.uint64)
    FNV = np.uint64(1099511628211)

    def to_bands(batches):
        for pdf in batches:
            docs_out, band_idx_out, band_hash_out = [], [], []
            for doc, hs in zip(pdf["doc"], pdf["hs"]):
                h = np.asarray(hs, dtype=np.int64).view(np.uint64)
                sig = (A[:, None] * h[None, :] + Bc[:, None]).min(axis=1)
                bh = np.full(bands, np.uint64(14695981039346656037), dtype=np.uint64)
                for r in range(rows_per_band):
                    bh = (bh * FNV) ^ sig[r::rows_per_band][:bands]
                docs_out.extend([doc] * bands)
                band_idx_out.extend(range(bands))
                band_hash_out.extend(bh.view(np.int64))
            yield pd.DataFrame(
                {"doc": docs_out, "band_idx": band_idx_out, "band_hash": band_hash_out}
            )

    hashed = (
        df.select(F.col(id_col).cast("long").alias("doc"), F.col(text_col).alias("text"))
        .mapInPandas(shingle_hash, "doc long, hs array<long>")
        .persist()
    )
    # Only (doc, band_idx, band_hash) triples shuffle through the band
    # join — the heavy hash arrays stay out of the candidate phase and
    # are re-joined once per *surviving* pair side below. Persisted:
    # the self-join reads banded on BOTH sides and the aliased selects
    # sit below the exchange, so without this the k-permutation
    # signature pass runs twice per invocation.
    banded = hashed.mapInPandas(
        to_bands, "doc long, band_idx int, band_hash long"
    ).persist()
    pairs = band_pairs(banded, "doc", ["band_idx", "band_hash"])
    hs_a = hashed.select(F.col("doc").alias("id_a"), F.col("hs").alias("hs_a"))
    hs_b = hashed.select(F.col("doc").alias("id_b"), F.col("hs").alias("hs_b"))
    return pairs.join(hs_a, "id_a").join(hs_b, "id_b").select(
        "id_a", "id_b", "hs_a", "hs_b"
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float,
    shingle_n: int = 3,
    bands: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates → exact Jaccard.

    Output: (id_a, id_b, jaccard) with id_a < id_b, J ≥ threshold.
    Jaccard is computed on the distinct shingle-HASH sets — an exact
    rational, identical to shingle-set Jaccard unless blake2b-64
    collides within one pair's union (~n²/2⁶⁴ ≈ 1e-15 for 100-shingle
    docs) — so it hash-matches an exact SQL oracle over the shingle
    sets themselves.
    """
    cand = minhash_candidate_pairs(df, id_col, text_col, shingle_n, bands, rows_per_band)
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size(F.array_union("hs_a", "hs_b"))
    return (
        cand.select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def srp_band_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int = 64,
    rows_per_band: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Long-form ``(vid, band_idx, band_hash)`` SRP band signatures.

    The hyperplane matrix is regenerated inside every task from the
    fixed seed (legacy RandomState stream — stable across numpy
    versions and workers), so nothing but the seed is captured in the
    closure; for d=64, planes=1024 that is a 512 KB local matrix and
    one BLAS matmul per batch.
    """
    import numpy as np
    import pandas as pd

    planes = bands * rows_per_band
    pow2 = (2 ** np.arange(rows_per_band, dtype=np.uint64)).astype(np.uint64)

    def to_bands(batches):
        R = None
        for pdf in batches:
            vids_out, band_idx_out, band_hash_out = [], [], []
            if len(pdf):
                V = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
                if R is None:
                    rng = np.random.RandomState(seed)
                    R = rng.standard_normal((V.shape[1], planes))
                bits = (V @ R) >= 0.0  # (n, planes) — sign bits
                packed = (
                    bits.reshape(len(pdf), bands, rows_per_band).astype(np.uint64)
                    @ pow2
                )  # (n, bands) — int band hashes
                vids = pdf["vid"].to_numpy()
                vids_out = np.repeat(vids, bands)
                band_idx_out = np.tile(np.arange(bands, dtype=np.int32), len(pdf))
                band_hash_out = packed.reshape(-1).view(np.int64)
            yield pd.DataFrame(
                {"vid": vids_out, "band_idx": band_idx_out, "band_hash": band_hash_out}
            )

    base = df.select(
        F.col(id_col).cast("long").alias("vid"),
        as_double_array(F.col(vec_col)).alias("vec"),
    )
    return base.mapInPandas(to_bands, "vid long, band_idx int, band_hash long")


def srp_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bands: int = 64,
    rows_per_band: int = 16,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Verified near-dup pairs ``(id_a < id_b, cos ≥ threshold)``.

    SRP band join proposes candidates; exact cosine (rounded to
    ``round_to`` BEFORE the threshold compare, the repo-wide
    determinism rule) verifies them. The three O(d) folds per
    candidate run JVM-side — candidates are ~linear at τ ≥ 0.9, so
    no Arrow stage is needed in the verify.
    """
    # Persisted for the same reason as minhash_candidate_pairs' bands:
    # the band self-join reads them on BOTH sides below the exchange,
    # so without staging the Arrow signature pass runs twice. The
    # (vid, band_idx, band_hash) triples are 3 longs/row — far smaller
    # than the vectors; released by the caller's clearCache.
    banded = srp_band_signatures(
        df, id_col, vec_col, bands, rows_per_band, seed
    ).persist()
    cand = band_pairs(banded, "vid", ["band_idx", "band_hash"])
    vecs = df.select(
        F.col(id_col).cast("long").alias("vid"),
        as_double_array(F.col(vec_col)).alias("vec"),
    )
    va = vecs.select(F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = vecs.select(F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"))
    cos = cosine("vec_a", "vec_b") / F.sqrt(
        sq_norm("vec_a") * sq_norm("vec_b")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cos, round_to).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
