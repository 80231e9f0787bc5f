"""Distributed vector-similarity operators (SURVEY.md §2B, LLM-pipeline).

Two physical strategies, chosen by threshold regime:

- ``cosine_pairs`` — EXACT all-pairs ≥ τ via *block-matrix* self-join:
  vectors are bucketed, every bucket-pair (i ≤ j) becomes one task, and
  each task computes its cosine sub-matrix with a single float64 BLAS
  matmul inside ``applyInPandas``. Work is inherently O(n²) for an
  exact low-τ search, but it is evenly distributed (B·(B+1)/2 tasks),
  memory-bounded (each task holds 2·n/B vectors), Arrow-batched, and
  ~100× faster per pair than per-row JVM expression folds. Replication
  factor is B+1 per vector — pick B ≈ sqrt(#cores·k) so tasks fit.
- For production near-duplicate thresholds (τ ≥ 0.9) the LSH band
  join in ``operators/lsh.py`` (MinHash for set similarity, sign
  random projections for vectors) is the sublinear scale path; exact block-matmul remains the verifier for candidates.

``cosine_topk`` — brute-force top-k against one query vector: a
broadcast of the single query row + one JVM-side fold per vector, then
``TakeOrderedAndProject``. No shuffle except the final top-k.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

PAIR_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("cos", DoubleType()),
    ]
)


# Single source of truth for the vector expression trees (a zero-norm
# or cast-policy fix must reach every consumer at once). Note unit()
# is O(d^2) in interpreted HOF evaluation — fine on a single broadcast
# query row, never used per-row of a big table here (normalization of
# the bulk side happens in numpy inside the Arrow tasks, and the top-k
# path divides one fold by another instead of normalizing per element).
from ..functions.vectors import as_double_array, cosine as _cosine, sq_norm, unit as _unit  # noqa: E402,E501


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    buckets: int = 8,
) -> DataFrame:
    """Exact pairs (id_a < id_b, cos ≥ threshold) via block-matmul.

    Each unordered vector pair {x, y} with buckets (bx, by) is covered
    by exactly one task — (min(bx,by), max(bx,by)) — so no distinct()
    pass is needed afterwards. Diagonal tasks emit only id_a < id_b.
    """
    B = buckets
    # bucket by hashed id: pmod(id, B) would collapse strided/sharded
    # id spaces (e.g. all ids multiples of B) into one task holding the
    # entire dataset — hashing is content-robust at the same cost.
    # Vectors travel as raw double arrays; L2 normalization happens in
    # numpy inside each task (per-element JVM normalization would pay
    # an interpreted O(d^2) fold per row).
    base = df.select(
        F.col(id_col).cast("long").alias("vid"),
        as_double_array(F.col(vec_col)).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("bk"),
    )
    # Left copy joins every task (bk, j) for j >= bk; right copy every
    # task (i, bk) for i <= bk. task_id = i*B + j with i <= j.
    left = base.select(
        "vid",
        "vec",
        F.lit("L").alias("side"),
        F.explode(F.sequence(F.col("bk") * B + F.col("bk"), F.col("bk") * B + (B - 1))).alias(
            "task_id"
        ),
    )
    right = base.select(
        "vid",
        "vec",
        F.lit("R").alias("side"),
        F.explode(
            F.sequence(F.col("bk"), F.col("bk") * B + F.col("bk"), F.lit(B))
        ).alias("task_id"),
    )

    tau = float(threshold)

    def one_task(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        task_id = key[0]
        diagonal = (task_id // B) == (task_id % B)
        lhs = pdf[pdf.side == "L"]
        rhs = pdf[pdf.side == "R"]
        if lhs.empty or rhs.empty:
            return pd.DataFrame(columns=["id_a", "id_b", "cos"])
        lm = np.vstack(lhs.vec.to_numpy())
        rm = np.vstack(rhs.vec.to_numpy())
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = lm @ rm.T  # float64 BLAS — the whole task in one matmul
        li = lhs.vid.to_numpy()
        ri = rhs.vid.to_numpy()
        # threshold on the ROUNDED value: the oracle sums in a different
        # order, so a pair within last-ulp of tau must not flake the
        # declared membership (same round-before-compare rule as top-k).
        # Half-AWAY-from-zero to match DuckDB's ROUND — np.round is
        # banker's half-to-even, which flips exact .5e-6 midpoints
        # (same fix as cosine_batch_topk)
        sims = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
        ai, bi = np.nonzero(sims >= tau)
        ia, ib = li[ai], ri[bi]
        if diagonal:
            # every unordered pair appears twice (and ia==ib once)
            keep = ia < ib
            ia, ib, cs = ia[keep], ib[keep], sims[ai, bi][keep]
        else:
            # cross-bucket: each unordered pair appears exactly once —
            # reorient so id_a < id_b, never drop
            cs = sims[ai, bi]
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": ia, "id_b": ib, "cos": cs})

    return (
        left.unionByName(right)
        .groupBy("task_id")
        .applyInPandas(one_task, PAIR_SCHEMA)
    )


def cosine_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    round_to: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k against a single-row query DataFrame.

    The query row is broadcast; the fold over the 64-dim arrays runs
    JVM-side inside codegen. Output is rounded *before* ordering so
    last-ulp float noise cannot flip the tie-break between engines.
    """
    q = F.broadcast(query_df.select(_unit(F.col(vec_col)).alias("qunit")))
    v = as_double_array(F.col(vec_col))
    # two O(d) folds per row (dot with the pre-normalized query, own
    # norm) instead of per-element normalization (O(d^2) interpreted)
    scored = df.crossJoin(q).select(
        F.col(id_col),
        F.round(
            _cosine(v, F.col("qunit")) / F.sqrt(sq_norm(F.col(vec_col))),
            round_to,
        ).alias("cos"),
    )
    return scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


BATCH_TOPK_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cos", DoubleType()),
    ]
)


def cosine_batch_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int,
    round_to: int = 6,
) -> DataFrame:
    """Top-k cosine neighbors for a whole QUERY BATCH in one corpus
    pass (retrieval-eval shape: score a probe set, not one vector).

    Physical strategy: the query batch is genuinely small (an eval
    probe set — KBs), so it collects once on the driver and ships to
    every task inside the mapInPandas closure, pre-normalized as one
    float64 matrix. Each Arrow batch of corpus vectors then scores ALL
    queries with a single BLAS matmul (batch×d @ d×q) and emits only
    its LOCAL top-k rows per query — the Python→JVM transfer is
    bounded by O(batches · q · k), independent of corpus size — and a
    query_id-partitioned window takes the global top-k from those
    survivors. Self-matches (corpus id == query id) are excluded.

    Local and global ordering use the same (cos desc, id asc) rule on
    values rounded to ``round_to`` BEFORE ranking, so the batch-local
    prune can never evict a row the global rank needed, and last-ulp
    float noise cannot flip a tie against an oracle engine.

    vs. cosine_topk (single query, JVM fold): the fold costs O(q·d)
    interpreted work per corpus row when batched — at q=40 that is
    ~2.5× slower than this Arrow path; at q≥1000 use the block-matmul
    ``cosine_pairs`` machinery instead (bucket the queries too).
    """
    import numpy as np

    from pyspark.sql import Window

    qrows = query_df.select(id_col, vec_col).collect()  # bounded: probe set
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    Qt = Q.T.copy()
    kk = int(k)
    rt = int(round_to)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            S = X @ Qt  # (n, q) — one BLAS call per batch
            # round half-AWAY-from-zero to match the oracle's ROUND and
            # the repo decimal policy (np.round is banker's half-to-even:
            # a cosine landing exactly on a 0.5e-6 midpoint would round
            # differently across engines and perturb the k-boundary rank)
            scale = 10.0**rt
            S = np.sign(S) * np.floor(np.abs(S) * scale + 0.5) / scale
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids)):
                col = S[:, j]
                mask = ids != qids[j]  # drop self-match
                cand_ids, cand = ids[mask], col[mask]
                if cand.size == 0:
                    continue
                top = min(kk, cand.size)
                # partial-select then exact (cos desc, id asc) order —
                # the same rule the global window applies
                part = np.argpartition(-cand, top - 1)[:top] if cand.size > top else np.arange(cand.size)
                order = part[np.lexsort((cand_ids[part], -cand[part]))][:top]
                out_q.append(np.full(top, qids[j]))
                out_n.append(cand_ids[order])
                out_c.append(cand[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cos": np.concatenate(out_c),
                    }
                )

    survivors = df.select(id_col, vec_col).mapInPandas(score, BATCH_TOPK_SCHEMA)
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        survivors.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= kk)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


MMR_SCHEMA = StructType(
    [
        StructField("rank", LongType()),
        StructField("vec_id", LongType()),
        StructField("relevance", DoubleType()),
        StructField("mmr_score", DoubleType()),
    ]
)


def mmr_rerank(
    cand_df: DataFrame,
    id_col: str,
    vec_col: str,
    rel_col: str,
    k: int,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank of a BOUNDED candidate set:
    greedily pick argmax of λ·relevance − (1−λ)·max-sim-to-selected.

    MMR is inherently sequential in k, so it does not distribute along
    k — but it never needs to: the candidate set is the output of a
    distributed top-N retrieval (tens to hundreds of rows), and the
    whole greedy loop runs in ONE Arrow task over that set (k·N cosine
    evaluations on an N×N float64 gram matrix computed with one BLAS
    call). The distributed work is upstream (scoring the corpus); this
    operator is the driver-adjacent tail, same bounded-task argument
    as the IVF coarse probe. Ties break on the smaller id at every
    step, so the selection is deterministic run-to-run."""
    import numpy as np

    kk, ll = int(k), float(lam)

    def one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=["rank", "vec_id", "relevance", "mmr_score"])
        order0 = np.lexsort((pdf[id_col].to_numpy(), -pdf[rel_col].to_numpy()))
        pdf = pdf.iloc[order0].reset_index(drop=True)
        X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        S = X @ X.T  # N×N gram, one BLAS call
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        n = len(pdf)
        selected, scores = [], []
        remaining = np.ones(n, dtype=bool)
        for _ in range(min(kk, n)):
            if selected:
                div = S[:, selected].max(axis=1)
            else:
                div = np.zeros(n)
            mmr = ll * rel - (1.0 - ll) * div
            # round (half-away) BEFORE the argmax: the repo-wide
            # round-before-ordering rule — a near-tie must not depend
            # on ulp-level accumulation order
            mmr = np.sign(mmr) * np.floor(np.abs(mmr) * 1e6 + 0.5) / 1e6
            mmr_masked = np.where(remaining, mmr, -np.inf)
            # argmax with deterministic (score desc, id asc) tie-break
            best = np.lexsort((ids, -mmr_masked))[0]
            selected.append(best)
            scores.append(mmr_masked[best])
            remaining[best] = False
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(selected) + 1, dtype=np.int64),
                "vec_id": ids[selected],
                "relevance": np.sign(rel[selected])
                * np.floor(np.abs(rel[selected]) * 1e6 + 0.5)
                / 1e6,
                "mmr_score": np.asarray(scores),  # already rounded above
            }
        )

    return (
        cand_df.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(one, MMR_SCHEMA)
    )
