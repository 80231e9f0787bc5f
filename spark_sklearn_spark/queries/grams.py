"""Word n-gram postings and the document-frequency cap, on both engines.

Most of the text tier (decontamination, repetition, boilerplate, the
bigram and MinHash near-dup graphs, SimHash signatures, the n-gram
count table) starts from the same relation: the word n-grams of each
document. This module is the one home of its two sides, which must
agree row for row:

- postings: ``word_grams`` / ``word_grams_sql``, one ``(keys..., g)``
  row per n-gram of each document's space-split words, its words
  joined by ``sep``; ``distinct`` keeps each gram once per key tuple,
  otherwise every occurrence is a row. A document with fewer than
  ``n`` words has no grams;
- the DF cap: ``df_capped`` / ``df_capped_sql``, the postings whose
  gram is in at most ``cap`` rows (documents, when the postings are
  distinct per doc), optionally keeping that count as ``df``.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F


def word_grams(docs, n, keys=("doc_id",), sep=" ", distinct=True):
    """(keys..., g) word n-gram postings of ``docs`` (keys + text).

    Two Spark traps shape the build. Tokenize ONCE into a column:
    higher-order functions are interpreted with no CSE, so a split()
    embedded in the gram lambda would re-tokenize the document per
    element (O(len²) per doc). And explode_outer plus a null-drop, not
    explode: plain explode makes the optimizer push a
    ``size(arr) > 0`` pruning filter into the scan, which re-evaluates
    the whole interpreted gram transform per row (5× q_decontaminate's
    wall when it was measured). The size filter also keeps
    ``sequence(1, size - n + 1)`` from descending on short docs."""
    w = docs.select(*keys, F.split("text", " ").alias("__w")).filter(
        F.size("__w") >= n
    )
    # concat with separator literals, not concat_ws: the lambda runs
    # interpreted per element and no word is null, so concat_ws's
    # null-skipping path is pure cost (q_text_ngram_counts 0.74 s vs
    # 0.63 s, same-session A/B at sf0.1)
    arr = F.transform(
        F.sequence(F.lit(1), F.size("__w") - (n - 1)),
        lambda i: F.concat(
            *[
                x
                for j in range(n)
                for x in (F.lit(sep), F.element_at("__w", i + j))
            ][1:]
        ),
    )
    if distinct:
        arr = F.array_distinct(arr)
    return w.select(*keys, F.explode_outer(arr).alias("g")).filter(
        F.col("g").isNotNull()
    )


def word_grams_sql(docs, n, keys=("doc_id",), sep=" ", distinct=True):
    """DuckDB mirror of :func:`word_grams`: a SELECT over the relation
    named ``docs``, for the body of a CTE."""
    k = ", ".join(keys)
    g = f" || '{sep}' || ".join(
        "w[i]" if j == 0 else f"w[i + {j}]" for j in range(n)
    )
    return f"""SELECT {"DISTINCT " if distinct else ""}{k}, {g} AS g
          FROM (SELECT {k}, w,
                       unnest(generate_series(1, len(w) - {n - 1})) AS i
                FROM (SELECT {k}, string_split(text, ' ') AS w
                      FROM {docs}))"""


def df_capped(grams, cap, with_df=False):
    """The postings of ``grams`` whose gram has at most ``cap`` rows.
    A window count on g keeps the cap at one shuffle on g (an agg
    joined back would be two); ``with_df=True`` keeps the count as
    ``df`` for consumers that weight by it."""
    capped = grams.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("g"))
    ).filter(F.col("df") <= cap)
    return capped if with_df else capped.drop("df")


def df_capped_sql(grams, cap, with_df=False):
    """DuckDB mirror of :func:`df_capped` over the relation named
    ``grams``, for the body of a CTE."""
    cols = "*" if with_df else "* EXCLUDE (df)"
    return f"""SELECT {cols}
          FROM (SELECT *, COUNT(*) OVER (PARTITION BY g) AS df
                FROM {grams})
          WHERE df <= {cap}"""
