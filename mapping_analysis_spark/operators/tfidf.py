"""TF-IDF over a text column.

Re-creates tfidf/TfIdfComputer.java:42-70 (+ UniqueWordExtractor.java:43-64
and IdfValueCalculator.java:12-14): distinct words per document, document
frequency per word, idf = log10(N / df). The reference crosses every word
with a 1-row total via ``crossWithTiny`` (TfIdfComputer.java:66-69); here N
is a literal (driver-side count) or a scalar subquery — no cross join.

Also provides the stop-word pruning used by LSH blocking: top-k most
frequent words (lowest idf) dropped before trigram extraction
(TrigramsPerVertexCreatorWithIdfOptimization.java:38-62).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_STOP_DEFAULT = 20  # TrigramsPerVertexCreatorWithIdfOptimization.java:43-46


def doc_words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Distinct (doc, word) pairs from whitespace-split lowercased text
    (UniqueWordExtractor.java:43-64)."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .dropDuplicates(["doc_id", "word"])
    )


def idf(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(word, df_count, idf) with idf = log10(N/df)."""
    n_docs = df.count()
    return (
        doc_words(df, text_col, id_col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .withColumn("idf", F.log10(F.lit(float(n_docs)) / F.col("df_count")))
    )


def stop_words(df: DataFrame, text_col: str, id_col: str, k: int = _STOP_DEFAULT) -> DataFrame:
    """Top-k most frequent words (ascending idf) — the LSH pre-filter
    (TrigramsPerVertexCreatorWithIdfOptimization.java:43-46). The global
    sort is over the word dictionary (small), not the corpus."""
    return idf(df, text_col, id_col).orderBy(F.asc("idf"), F.asc("word")).limit(k)
