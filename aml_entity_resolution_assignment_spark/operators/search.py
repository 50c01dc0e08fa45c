"""Full-text search over the corpus: inverted postings + BM25 ranking.

A training-data pipeline needs keyword search for decontamination
audits, targeted-domain mining, and eval-set mining. This provides the
two classic layers:

- ``build_postings``  (term, doc_id, tf) inverted-index rows — written
                      bucketed by term at scale (sources/io.py
                      write_bucketed) so a query's term lookups are a
                      zero-shuffle bucket-pruned scan.
- ``bm25_scores``     Okapi BM25 (Lucene's non-negative idf variant:
                      ln(1 + (N - df + 0.5)/(df + 0.5))) for a fixed
                      query-term list. The term filter is applied
                      BEFORE any aggregation, so only query-term
                      postings ever reach a shuffle; corpus-wide stats
                      (N, avgdl) are two scalar aggregates.

Tokenization is the engine's standard whitespace split (functions/
text.py token semantics) — swap in functions/bpe.py upstream when
subword postings are wanted.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tokens(text_col: str):
    return F.split(F.lower(F.col(text_col)), r"\s+")


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score) for every doc containing >= 1 query term.

    score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    dl = whitespace token count of the doc, avgdl its corpus mean,
    idf the Lucene BM25 form. All plain DataFrame aggregations; the
    only rows shuffled are the query-term postings.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]

    base = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(text_col).alias("toks")
    ).withColumn(
        "dl", F.size(F.filter("toks", lambda t: t != "")).cast("double")
    )
    base = base.persist()
    stats = base.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n, avgdl = stats["n"], stats["avgdl"]

    hits = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(terms))  # pushed below the aggregation
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = hits.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    # idf is a driver-side map over <= |query| rows — aggregate-sized
    idf = {
        r["term"]: math.log(1.0 + (n - r["df"] + 0.5) / (r["df"] + 0.5))
        for r in df_.collect()
    }
    idf_col = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in idf.items() for x in kv]
        ),
        F.col("term"),
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    contrib = idf_col * F.col("tf") * (k1 + 1.0) / denom
    out = (
        hits.select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("score"))
    )
    out = out.localCheckpoint(eager=True)
    base.unpersist()
    return out


def build_positional_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, doc_id, pos) positional inverted-index rows (pos is the
    0-based token position; empty terms dropped).  The phrase-query
    layer on top of ``build_postings``'s tf rows — written bucketed by
    term at scale like the tf index."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(_tokens(text_col)).alias("pos", "term"),
        )
        .where(F.col("term") != "")
    )


def phrase_search(
    postings: DataFrame, phrase: Sequence[str] | str
) -> DataFrame:
    """Exact-phrase hits from POSITIONAL postings: (doc_id, n_hits)
    for every document containing the phrase's terms at consecutive
    positions — the classic positional-index phrase query, computed
    from the index (never a corpus rescan).

    Join order is RAREST-FIRST: per-term document frequencies are
    counted once (aggregate-sized: one row per phrase term), the
    rarest term anchors the join, and every subsequent join can only
    shrink the row set — the standard phrase-query optimization, here
    expressed so Catalyst executes m-1 hash joins keyed on
    (doc_id, pos) with the anchor's offset arithmetic pushed into the
    join keys.  All shuffles carry query-term postings only.
    """
    terms = phrase.split() if isinstance(phrase, str) else list(phrase)
    terms = [t.lower() for t in terms if t]
    if not terms:
        raise ValueError("empty phrase")
    sub = postings.where(F.col("term").isin(terms))
    df_counts = {
        r["term"]: r["n"]
        for r in sub.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    if len(df_counts) < len(set(terms)):
        # a phrase term absent from the corpus: no hits anywhere
        spark = postings.sparkSession
        return spark.createDataFrame([], "doc_id long, n_hits long")
    order = sorted(range(len(terms)), key=lambda i: (df_counts[terms[i]], i))
    anchor = order[0]
    base = sub.where(F.col("term") == terms[anchor]).select(
        "doc_id", (F.col("pos") - anchor).alias("_start")
    )
    for i in order[1:]:
        nxt = sub.where(F.col("term") == terms[i]).select(
            F.col("doc_id").alias("_d"), (F.col("pos") - i).alias("_s")
        )
        base = base.join(
            nxt,
            (base.doc_id == nxt._d) & (base._start == nxt._s),
        ).select("doc_id", "_start")
    return base.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))
