"""Declared PCA via integer-exact power iteration.

Float eigendecomposition can't be SQL-mirrored, so this module makes
the principal directions HASH-VERIFIABLE by rebuilding the whole
pipeline in exact integer arithmetic (q_emb_pca_power pins the PC1
trajectory; q_emb_pca — declared as of r10 — adds an integer-deflated
second direction and the corpus projections):

  1. quantize embedding components to milli (floor(x*1e3) BIGINT),
  2. center per dimension with an integer-division mean,
  3. Gram/covariance matrix by a per-vector position self-join —
     combinable SUM per (i, j) cell, damped by a constant //1024
     integer division so every later product stays inside int64,
  4. three unrolled power-iteration rounds, renormalizing the iterate
     to max-abs 512 by integer division each round.

Signed integer division is the portability crux: covariance entries
go negative, and a floor-vs-truncate disagreement shifts cells by one
(measured: exactly that off-by-one before this was pinned). DuckDB
`//` and Spark `div` both TRUNCATE toward zero on integers, so the
native operators pair exactly — do NOT "fix" either side with a
floor identity.

Scale: the Gram build is the textbook distributed O(n*d^2) combinable
aggregate (d=64 -> 4096 cells); every later stage runs on the
BOUNDED 4096-cell matrix / 64-row iterate, broadcast to the executors.
Output is the full 3-round trajectory (v1, v2, v3 per dimension), so
the hash pins not just the answer but the convergence path.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load, snapshot, write_parquet

PP_DIM = 64
PP_Q = 1000  # milli quantization of components
PP_DAMP = 1024  # constant floor-div damping of Gram cells
PP_VSCALE = 512  # iterate renormalized to max-abs this each round
PP_ROUNDS = 3


def pca_with_body() -> str:
    """The WITH-clause body (vals → means → cent → cells → v0 →
    w{r}/m{r}/v{r} rounds) shared by the q_emb_pca_power oracle and
    downstream consumers (q_emb_pca_topk projects onto v{PP_ROUNDS})."""
    rounds = []
    prev = "v0"
    for r in range(1, PP_ROUNDS + 1):
        rounds.append(f"""w{r} AS (
          SELECT c.i AS i, CAST(SUM(c.m * v.v) AS BIGINT) AS w
          FROM cells c JOIN {prev} v ON v.i = c.j
          GROUP BY c.i
        ), m{r} AS (SELECT MAX(ABS(w)) AS ma FROM w{r}),
        v{r} AS (
          SELECT i, CAST((w * {PP_VSCALE}) // ma AS BIGINT) AS v
          FROM w{r}, m{r}
        )""")
        prev = f"v{r}"
    return f"""vals AS (
          SELECT vec_id, i,
                 CAST(floor(CAST(embedding[i] AS DOUBLE) * {PP_Q})
                      AS BIGINT) AS q
          FROM embeddings,
               LATERAL (SELECT unnest(generate_series(1, {PP_DIM})) AS i)
        ),
        means AS (
          SELECT i, CAST(SUM(q) AS BIGINT) AS s, COUNT(*) AS n
          FROM vals GROUP BY i
        ),
        cent AS (
          SELECT v.vec_id, v.i,
                 v.q - CAST(m.s // m.n AS BIGINT) AS c
          FROM vals v JOIN means m ON m.i = v.i
        ),
        cells AS (
          SELECT a.i AS i, b.i AS j,
                 CAST(SUM(a.c * b.c) // {PP_DAMP} AS BIGINT) AS m
          FROM cent a JOIN cent b ON a.vec_id = b.vec_id
          GROUP BY a.i, b.i
        ),
        v0 AS (
          SELECT unnest(generate_series(1, {PP_DIM})) AS i,
                 CAST({PP_VSCALE} AS BIGINT) AS v
        ),
        {", ".join(rounds)}"""


def _pca_oracle() -> str:
    vcols = ", ".join(
        f"v{r}.v AS v{r}" for r in range(1, PP_ROUNDS + 1)
    )
    vjoins = " ".join(
        f"JOIN v{r} ON v{r}.i = v1.i" for r in range(2, PP_ROUNDS + 1)
    )
    return f"""
        WITH {pca_with_body()}
        SELECT v1.i AS dim, {vcols}
        FROM v1 {vjoins}
        ORDER BY dim
    """


def _idiv(a, b):
    """Truncating integer division — Spark `div` == DuckDB `//`."""
    return F.expr(f"{a} div {b}")


# The O(n·d²) Gram build is the expensive stage and is shared by
# q_emb_pca_power and q_emb_pca_topk — snapshot the fit so the second
# consumer pays a file re-read instead of a recompute.


def power_fit(spark, d):
    """Shared integer-exact power-iteration fit: returns
    ``(cent, cells, iterates)`` where ``cent`` is the centered
    quantized (vec_id, i, c) relation, ``cells`` the damped 4096-cell
    Gram matrix, and ``iterates`` the list of renormalized 64-row
    iterate DataFrames. Snapshotted (block comment above).
    q_emb_pca_power emits the trajectory; q_emb_pca_topk projects the
    corpus onto the final iterate; q_emb_pca deflates against it for
    PC2."""
    names = ["cent", "cells", *(f"v{r}" for r in range(1, PP_ROUNDS + 1))]

    def write(path):
        cent, cells, iterates = _power_fit_live(spark, d)
        for name, df in zip(names, [cent, cells, *iterates]):
            write_parquet(df, os.path.join(path, name))

    path = snapshot(spark, d, "pca_fit", write)
    cent, cells, *iterates = (
        spark.read.parquet(os.path.join(path, name)) for name in names
    )
    return cent, cells, iterates


def _power_fit_live(spark, d):
    emb = load(spark, d, "embeddings")
    vals = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(embedding,"
                f" x -> cast(floor(cast(x as double) * {PP_Q}) as bigint))"
            )
        ).alias("i0", "q"),
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "q")
    means = vals.groupBy("i").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cent = (
        vals.join(F.broadcast(means), "i")
        .select(
            "vec_id",
            "i",
            (F.col("q") - _idiv("s", "n")).alias("c"),
        )
    )
    a = cent.select("vec_id", F.col("i").alias("i"), F.col("c").alias("ca"))
    b = cent.select(
        "vec_id", F.col("i").alias("j"), F.col("c").alias("cb")
    )
    cells = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("s"))
        .select("i", "j", _idiv("s", str(PP_DAMP)).alias("m"))
        .persist()
    )
    v = spark.range(1, PP_DIM + 1).select(
        F.col("id").alias("i"), F.lit(PP_VSCALE).cast("long").alias("v")
    )
    iterates = []
    for _ in range(PP_ROUNDS):
        w = (
            cells.join(
                F.broadcast(v.select(F.col("i").alias("j"), "v")), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.col("m") * F.col("v")).alias("w"))
        )
        ma = w.agg(F.max(F.abs(F.col("w"))).alias("ma"))
        v = (
            w.crossJoin(F.broadcast(ma))
            .select(
                "i",
                _idiv(f"(w * {PP_VSCALE})", "ma").alias("v"),
            )
            .localCheckpoint()
        )
        iterates.append(v)
    return cent, cells, iterates


@query("q_emb_pca_power", oracle=_pca_oracle())
def q_emb_pca_power(spark, d):
    """Leading principal direction by integer-exact power iteration —
    the DECLARED twin of rows-only q_emb_pca (see module docstring
    for the quantize / center / damped-Gram / renormalize
    construction and why signed `div` semantics are the portability
    crux).
    Plan: posexplode -> per-dim mean (combinable) -> per-vector
    position self-join into the 4096-cell Gram agg (the one
    data-sized shuffle, O(n*d^2) map-side combinable) -> three
    matvec+renorm rounds over the bounded matrix with the 64-row
    iterate broadcast. Output = the full iterate trajectory."""
    _, _, iterates = power_fit(spark, d)
    out = iterates[0].select("i", F.col("v").alias("v1"))
    for r, it in enumerate(iterates[1:], start=2):
        out = out.join(it.select("i", F.col("v").alias(f"v{r}")), "i")
    return out.select(F.col("i").alias("dim"), "v1", "v2", "v3").orderBy(
        "dim"
    )


# --------------------------------------------------------------------------
# DECLARED q_emb_pca: top-2 projections via deflated power iteration
# --------------------------------------------------------------------------
#
# PC2 comes from the same machinery with integer Gram-Schmidt
# deflation: every matvec result is orthogonalized against the fitted
# PC1 iterate before renormalizing —
#     t   = (w · v1) div (v1 · v1)      (truncating long division)
#     o_i = w_i − t · v1_i
# The start vector deflates the all-{vs} vector the same way, then
# renormalizes to max-abs {vs} so the first matvec's operand has the
# same magnitude envelope as every later round (keeps w · v1 far
# inside int64 even at the 5× probe). All stages run on the BOUNDED
# 4096-cell matrix / 64-row iterates; the corpus-sized work is the
# one shared Gram build (memoized parquet snapshot) plus one
# projection agg at the end.

PCA_PROJ_MOD = 10  # declared-output slice: vec_id % 10 = 0


def _pc2_with_body() -> str:
    """PC2 CTE chain appended after pca_with_body(): sc1 → pu0r/pm0/
    pu0 (deflated + renormalized start) → pw{r}/pt{r}/po{r}/pm{r}/
    pu{r} rounds."""
    vs = PP_VSCALE
    fin = f"v{PP_ROUNDS}"
    parts = [f"""sc1 AS (
          SELECT CAST(SUM(v) AS BIGINT) AS s1,
                 CAST(SUM(v * v) AS BIGINT) AS n1
          FROM {fin}
        ),
        pu0r AS (
          SELECT v.i,
                 CAST({vs} - (({vs} * s.s1) // s.n1) * v.v AS BIGINT) AS o
          FROM {fin} v, sc1 s
        ),
        pm0 AS (SELECT MAX(ABS(o)) AS ma FROM pu0r),
        pu0 AS (
          SELECT i, CAST((o * {vs}) // ma AS BIGINT) AS u
          FROM pu0r, pm0
        )"""]
    prev = "pu0"
    for r in range(1, PP_ROUNDS + 1):
        parts.append(f"""pw{r} AS (
          SELECT c.i, CAST(SUM(c.m * u.u) AS BIGINT) AS w
          FROM cells c JOIN {prev} u ON u.i = c.j
          GROUP BY c.i
        ),
        pt{r} AS (
          SELECT CAST((SELECT SUM(w.w * v.v)
                       FROM pw{r} w JOIN {fin} v ON v.i = w.i)
                      // s.n1 AS BIGINT) AS t
          FROM sc1 s
        ),
        po{r} AS (
          SELECT w.i, CAST(w.w - t.t * v.v AS BIGINT) AS o
          FROM pw{r} w JOIN {fin} v ON v.i = w.i, pt{r} t
        ),
        pm{r} AS (SELECT MAX(ABS(o)) AS ma FROM po{r}),
        pu{r} AS (
          SELECT i, CAST((o * {vs}) // ma AS BIGINT) AS u
          FROM po{r}, pm{r}
        )""")
        prev = f"pu{r}"
    return ",\n        ".join(parts)


def _pca_proj_oracle() -> str:
    fin = f"v{PP_ROUNDS}"
    # The PC2 chain references cells/cent/v3 many times; without
    # AS MATERIALIZED DuckDB re-inlines the whole embeddings->Gram
    # tree per reference (measured: 'Too many open files' at sf0.01).
    body = pca_with_body()
    for cte in ("cent", "cells", fin):
        body = body.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
    return f"""
        WITH {body},
        {_pc2_with_body()},
        proj AS (
          SELECT c.vec_id,
                 CAST(SUM(c.c * v.v) AS BIGINT) AS p1_q,
                 CAST(SUM(c.c * u.u) AS BIGINT) AS p2_q
          FROM cent c
          JOIN {fin} v ON v.i = c.i
          JOIN pu{PP_ROUNDS} u ON u.i = c.i
          WHERE c.vec_id % {PCA_PROJ_MOD} = 0
          GROUP BY c.vec_id
        )
        SELECT vec_id, p1_q, p2_q FROM proj ORDER BY vec_id
    """


# PC2 deflation fit snapshot (r17): the deflated power rounds run on
# 64-row relations, but each round is a localCheckpoint + several
# eager aggregates — ~14 scheduled jobs of pure round-trip latency
# per execution. Like the lr_fit/li_ols_moments snapshots it holds
# the FIT (the final 64-row u iterate), not any corpus-sized relation.


def pc2_fit(spark, d):
    """The fitted PC2 iterate (i, u): integer Gram-Schmidt deflation
    against PC1 through PP_ROUNDS matvec rounds (block comment above
    for the construction), snapshotted as 64 rows of parquet."""

    def write(path):
        _, cells, iterates = power_fit(spark, d)
        vs = PP_VSCALE
        v1 = iterates[-1]  # (i, v) — the fitted PC1 iterate
        sc1 = v1.agg(
            F.sum("v").alias("s1"),
            F.sum(F.col("v") * F.col("v")).alias("n1"),
        )
        u0r = v1.crossJoin(F.broadcast(sc1)).select(
            "i",
            F.expr(f"{vs}L - (({vs} * s1) div n1) * v").alias("o"),
        )
        pm0 = u0r.agg(F.max(F.abs(F.col("o"))).alias("ma"))
        u = u0r.crossJoin(F.broadcast(pm0)).select(
            "i", _idiv(f"(o * {vs})", "ma").alias("u")
        )
        for _ in range(PP_ROUNDS):
            w = (
                cells.join(
                    F.broadcast(u.select(F.col("i").alias("j"), "u")), "j"
                )
                .groupBy("i")
                .agg(F.sum(F.col("m") * F.col("u")).alias("w"))
            )
            tnum = (
                w.join(v1, "i")
                .agg(F.sum(F.col("w") * F.col("v")).alias("wn"))
                .crossJoin(F.broadcast(sc1))
                .select(F.expr("wn div n1").alias("t"))
            )
            o = (
                w.join(v1, "i")
                .crossJoin(F.broadcast(tnum))
                .select(
                    "i", (F.col("w") - F.col("t") * F.col("v")).alias("o")
                )
            )
            ma = o.agg(F.max(F.abs(F.col("o"))).alias("ma"))
            u = (
                o.crossJoin(F.broadcast(ma))
                .select("i", _idiv(f"(o * {vs})", "ma").alias("u"))
                .localCheckpoint()
            )
        write_parquet(u, path)

    return spark.read.parquet(snapshot(spark, d, f"pca_u{PP_ROUNDS}", write))


@query("q_emb_pca", oracle=_pca_proj_oracle())
def q_emb_pca(spark, d):
    """PCA projection of the embedding corpus onto its top-2 fitted
    directions — DECLARED as of round 10 (formerly the oldest
    rows-only key): direction 1 is the shared integer power-iteration
    fit, direction 2 its integer-deflated companion, and each
    vector's two scores are exact BIGINT dot products of the centered
    milli-quantized components against the broadcast 64-row iterates,
    so a DuckDB oracle replays fit AND projection bit-for-bit. With a
    spectral gap the pair converges to PC1/PC2; on the synthetic
    near-isotropic fixture the contract is the same as
    q_emb_pca_power's — the deterministic 3-round trajectory, pinned
    by tests/test_properties' full numpy integer replay. Plan: the
    memoized Gram/iterate fit + the memoized PC2 deflation fit (r17:
    the three bounded matvec/orthogonalize rounds are ~14 eager
    driver-scheduled jobs on 64-row relations — snapshot the final
    iterate like every other shared fit, so only the first execution
    pays the round-trip latency) + ONE corpus projection agg
    (combinable, two sums in one pass) on the %{mod} declared
    slice."""
    cent, _, iterates = power_fit(spark, d)
    v1 = iterates[-1]  # (i, v) — the fitted PC1 iterate
    u = pc2_fit(spark, d)
    return (
        cent.filter(F.col("vec_id") % PCA_PROJ_MOD == 0)
        .join(F.broadcast(v1), "i")
        .join(F.broadcast(u), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("c") * F.col("v")).alias("p1_q"),
            F.sum(F.col("c") * F.col("u")).alias("p2_q"),
        )
        .orderBy("vec_id")
    )
