"""Round-9 batch C: binaryFile source roundtrip, partition modularity,
and embedding whitening audit.

New keys (SURVEY.md §2B):
- q_source_binaryfile — spark.read.format('binaryFile') end-to-end,
  DECLARED against a SQL rebuild of the file contents
- q_graph_modularity  — Newman modularity of the dup-component
  partition on the shingle near-dup graph
- q_emb_whiten        — per-dimension whitening audit (mean/var from
  integer sums, z-score checksums via correctly-rounded sqrt)

All declared; r8 output policy. sqrt is IEEE-754 correctly rounded on
both engines (unlike ln/exp it is exact), so z-scores of
identical-operand expressions are bit-identical.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load, snapshot
from ._helpers import h56, sql_h56
from .bigrams import degrees
from .shingles import DUP_COMPONENTS_CTES, dup_components, dup_pairs

# --------------------------------------------------------------------------
# binaryFile source roundtrip
# --------------------------------------------------------------------------
#
# The sources-matrix row for opaque binary ingestion (the first step
# of any multimodal pipeline): one file per source is materialized
# from the documents table (texts joined by \n in doc_id order,
# UTF-8), read back through spark.read.format('binaryFile'), and the
# (name, byte length, md5-head of content) triple is DECLARED against
# a pure-SQL rebuild — any drift in file writing, the binaryFile
# reader, or bytes<->string handling breaks the hash. Files and
# per-file work are |sources|-bounded; the content build is one
# string_agg-style shuffle.

_BINFILE_ORACLE = f"""
    WITH contents AS (
      SELECT source,
             string_agg(text, chr(10) ORDER BY doc_id) AS content
      FROM documents
      GROUP BY source
    )
    SELECT source,
           CAST(strlen(content) AS BIGINT) AS n_bytes,
           {sql_h56("content")} AS content_h56
    FROM contents
    ORDER BY source
"""

@query("q_source_binaryfile", oracle=_BINFILE_ORACLE)
def q_source_binaryfile(spark, d):
    """binaryFile source roundtrip (module comment): materialize one
    file per source executor-side, read back via the binaryFile
    format, hash the bytes. The write is a foreachPartition over the
    |sources|-bounded content relation; the read is a real
    spark.read.format('binaryFile') scan."""

    def write(out_dir):
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir, exist_ok=True)
        docs = load(spark, d, "documents")
        contents = (
            docs.select("source", "doc_id", "text")
            .groupBy("source")
            .agg(
                F.array_join(
                    F.expr(
                        "transform(array_sort(collect_list("
                        "struct(doc_id, text))), s -> s.text)"
                    ),
                    "\n",
                ).alias("content")
            )
        )

        def write_files(rows):
            for r in rows:
                with open(
                    os.path.join(out_dir, f"{r['source']}.bin"), "wb"
                ) as fh:
                    fh.write(r["content"].encode("utf-8"))

        contents.foreachPartition(write_files)

    out_dir = snapshot(spark, d, "binfiles", write)
    bin_df = spark.read.format("binaryFile").load(out_dir)
    return (
        bin_df.select(
            F.regexp_replace(
                F.element_at(F.split(F.col("path"), "/"), -1),
                r"\.bin$",
                "",
            ).alias("source"),
            F.col("length").cast("long").alias("n_bytes"),
            h56("cast(content as string)").alias("content_h56"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Modularity of the dup-component partition
# --------------------------------------------------------------------------
#
# Newman modularity Q = Σ_c [ e_c/m − (d_c/(2m))² ] of the connected-
# component partition on the shingle near-dup graph. For a partition
# into EXACT components every edge is intra-cluster (Σ e_c = m), so Q
# measures how much of the degree mass concentrates in clusters —
# the health metric for "is the dup graph a few dense blobs or a
# hairball". All sums are exact integers over the memoized component
# assignment + the LSH edge set; one closing identical-operand
# division per term, summed via DECIMAL quantization.


_MODULARITY_ORACLE = f"""
        WITH RECURSIVE {DUP_COMPONENTS_CTES}, deg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dg FROM (
            SELECT src AS doc_id FROM pairs
            UNION ALL SELECT dst FROM pairs
          ) GROUP BY doc_id
        ), m_tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs
        ), intra AS (
          SELECT ca.cluster_id, CAST(COUNT(*) AS BIGINT) AS e_c
          FROM pairs p
          JOIN comp ca ON ca.doc_id = p.src
          JOIN comp cb ON cb.doc_id = p.dst
                       AND cb.cluster_id = ca.cluster_id
          GROUP BY ca.cluster_id
        ), dmass AS (
          SELECT c.cluster_id, CAST(SUM(d.dg) AS BIGINT) AS d_c
          FROM comp c JOIN deg d ON d.doc_id = c.doc_id
          GROUP BY c.cluster_id
        ), terms AS (
          SELECT dm.cluster_id,
                 CAST(COALESCE(i.e_c, 0) AS DOUBLE) / mt.m
                 - (CAST(dm.d_c AS DOUBLE) / (2 * mt.m))
                   * (CAST(dm.d_c AS DOUBLE) / (2 * mt.m)) AS t
          FROM dmass dm
          LEFT JOIN intra i ON i.cluster_id = dm.cluster_id
          CROSS JOIN m_tot mt
        )
        SELECT (SELECT m FROM m_tot) AS m,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(floor(CAST(SUM(CAST(t AS DECIMAL(30,10)))
                               AS DOUBLE) * 1000000.0) AS BIGINT)
                   AS modularity_micro
        FROM terms
"""


@query("q_graph_modularity", oracle=_MODULARITY_ORACLE)
def q_graph_modularity(spark, d):
    """Modularity of the dup-component partition (module comment):
    rides the memoized dup_components snapshot + the LSH edge set;
    integer degree/edge sums per cluster, decimal-quantized term sum."""
    pairs = dup_pairs(spark, d)
    comp = dup_components(spark, d)
    deg = degrees(pairs, "src", "dst")
    m_tot = pairs.agg(F.count(F.lit(1)).alias("m"))
    ca = comp.select(F.col("doc_id").alias("src"), F.col("cluster_id").alias("cid_a"))
    cb = comp.select(F.col("doc_id").alias("dst"), F.col("cluster_id").alias("cid_b"))
    intra = (
        pairs.join(ca, "src")
        .join(cb, "dst")
        .filter(F.col("cid_a") == F.col("cid_b"))
        .groupBy(F.col("cid_a").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    dmass = (
        comp.join(deg, "doc_id")
        .groupBy("cluster_id")
        .agg(F.sum("dg").alias("d_c"))
    )
    terms = (
        dmass.join(intra, "cluster_id", "left")
        .crossJoin(F.broadcast(m_tot))
        .selectExpr(
            "cast(coalesce(e_c, 0L) as double) / m"
            " - (cast(d_c as double) / (2 * m))"
            " * (cast(d_c as double) / (2 * m)) AS t",
            "m",
        )
    )
    return terms.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.floor(
            F.sum(F.col("t").cast("decimal(30,10)")).cast("double")
            * 1000000.0
        )
        .cast("long")
        .alias("modularity_micro"),
    ).select("m", "n_clusters", "modularity_micro")


# --------------------------------------------------------------------------
# Embedding whitening audit
# --------------------------------------------------------------------------
#
# The standardization step before any isotropic-distance retrieval:
# per-dimension mean/variance from exact integer sums over the milli-
# quantized components, then per-value z-scores
# z = (q − s/n) / sqrt(s2/n − (s/n)²) — every operand identical on
# both engines and sqrt correctly rounded, so floor(z·1000) sums are
# hash-exact. Output per dim: the moment integers + z-checksums
# (Σ floor(z·1000) and Σ |floor(z·1000)|) — a drifted scaler breaks
# the checksum column that names the dimension.

_WHITEN_ORACLE = """
    WITH vals AS (
      SELECT vec_id, i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
                  AS BIGINT) AS q
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    mom AS (
      SELECT i,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS s,
             CAST(SUM(q * q) AS BIGINT) AS s2
      FROM vals GROUP BY i
    ),
    z AS (
      SELECT v.i, m.n, m.s, m.s2,
             CAST(floor(((CAST(v.q AS DOUBLE) - CAST(m.s AS DOUBLE) / m.n)
                         / sqrt(CAST(m.s2 AS DOUBLE) / m.n
                                - (CAST(m.s AS DOUBLE) / m.n)
                                  * (CAST(m.s AS DOUBLE) / m.n)))
                        * 1000.0) AS BIGINT) AS zm
      FROM vals v JOIN mom m ON m.i = v.i
    )
    SELECT CAST(i AS BIGINT) AS dim, n, s, s2,
           CAST(SUM(zm) AS BIGINT) AS zsum_milli,
           CAST(SUM(ABS(zm)) AS BIGINT) AS zabs_milli
    FROM z
    GROUP BY i, n, s, s2
    ORDER BY dim
"""


@query("q_emb_whiten", oracle=_WHITEN_ORACLE)
def q_emb_whiten(spark, d):
    """Per-dimension whitening audit (module comment): one posexplode
    into a combinable per-dim moment agg, a broadcast-back join for
    the z-scores, and a second combinable checksum agg — two corpus
    passes, everything else 64-row relations."""
    emb = load(spark, d, "embeddings")
    vals = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                "transform(embedding,"
                " x -> cast(floor(cast(x as double) * 1000) as bigint))"
            )
        ).alias("i0", "q"),
    ).select((F.col("i0") + 1).alias("i"), "q")
    mom = vals.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    z = vals.join(F.broadcast(mom), "i").selectExpr(
        "i",
        "n",
        "s",
        "s2",
        "cast(floor(((cast(q as double) - cast(s as double) / n)"
        " / sqrt(cast(s2 as double) / n"
        " - (cast(s as double) / n) * (cast(s as double) / n)))"
        " * 1000.0d) as bigint) AS zm",
    )
    return (
        z.groupBy("i", "n", "s", "s2")
        .agg(
            F.sum("zm").cast("long").alias("zsum_milli"),
            F.sum(F.abs(F.col("zm"))).cast("long").alias("zabs_milli"),
        )
        .select(
            F.col("i").cast("long").alias("dim"),
            "n",
            "s",
            "s2",
            "zsum_milli",
            "zabs_milli",
        )
        .orderBy("dim")
    )
