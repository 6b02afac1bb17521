"""BM25 scoring (pinned spec: k1=1.2, b=0.75, Lucene-style idf).

The reference's base similarity is Lucene 4.8 default TF-IDF (no
custom Similarity is configured anywhere — see
Services/Lucene/LuceneIndexService.cs:134-139); our engine pins BM25
per BASELINE.json's north rule. Formula (identical in the Spark
expressions, the DuckDB oracle SQL, and the pandas oracle):

    idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn(t, d) = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score     = sum over query terms of idf * tfn

Determinism: contributions are float64 end-to-end; the per-doc sum is
accumulated in ascending term order everywhere rank-identity is
asserted, and ties in top-k break by ascending doc id.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def idf(df_col: Column, n_docs: float) -> Column:
    return F.log(1.0 + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5))


def tf_norm(tf_col: Column, dl_col: Column, avgdl: float) -> Column:
    tf = tf_col.cast("double")
    return (tf * (K1 + 1.0)) / (
        tf + K1 * (1.0 - B + B * dl_col.cast("double") / F.lit(float(avgdl)))
    )


def bm25_contrib(
    tf_col: Column, df_col: Column, dl_col: Column, n_docs: float, avgdl: float
) -> Column:
    """Per-(term, doc) BM25 contribution as a JVM-side expression."""
    return idf(df_col, n_docs) * tf_norm(tf_col, dl_col, avgdl)


# --- python-side (oracle / WAND) versions -------------------------------

def idf_py(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def contrib_py(tf: float, df: int, dl: float, n_docs: int, avgdl: float) -> float:
    return idf_py(df, n_docs) * (
        tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
    )


BM25_SQL_DOC = """
-- ANSI-SQL twin of the formula, for DuckDB oracles:
-- ln(1 + (N - df + 0.5) / (df + 0.5))
--   * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
"""
