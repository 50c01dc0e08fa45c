"""Inverted postings + BM25 vs an independent pure-Python scorer."""
import math

import pytest

from aml_entity_resolution_assignment_spark.operators.search import (
    bm25_scores,
)

DOCS = [
    (1, "spark join window spark"),
    (2, "join the   window"),  # multiple spaces collapse
    (3, "nothing relevant here"),
    (4, "spark spark spark spark join"),
    (5, "window"),
]


def _py_bm25(docs, terms, k1=1.2, b=0.75):
    toks = {i: t.lower().split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {
        t: sum(1 for v in toks.values() if t in v) for t in terms
    }
    out = {}
    for i, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if tf == 0 or df[t] == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if s > 0:
            out[i] = s
    return out


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_bm25_matches_python(spark):
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(_df(spark), ["spark", "window"]).collect()
    }
    expected = _py_bm25(DOCS, ["spark", "window"])
    assert set(got) == set(expected)
    for i in expected:
        assert got[i] == pytest.approx(expected[i], rel=1e-12)


def test_bm25_ranking_properties(spark):
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(_df(spark), ["spark"]).collect()
    }
    assert 3 not in got and 2 not in got and 5 not in got
    assert got[4] > got[1]  # higher tf, similar length -> higher score
    assert all(v > 0 for v in got.values())


def test_bm25_case_insensitive_query(spark):
    a = {r["doc_id"]: r["score"] for r in bm25_scores(_df(spark), ["SPARK"]).collect()}
    b = {r["doc_id"]: r["score"] for r in bm25_scores(_df(spark), ["spark"]).collect()}
    assert a == b


def test_bm25_absent_term_contributes_nothing(spark):
    a = {r["doc_id"]: r["score"] for r in bm25_scores(_df(spark), ["spark", "zzz"]).collect()}
    b = {r["doc_id"]: r["score"] for r in bm25_scores(_df(spark), ["spark"]).collect()}
    assert a == b


def test_bm25_rejects_empty_query(spark):
    with pytest.raises(ValueError):
        bm25_scores(_df(spark), [])


class TestPhraseSearch:
    def _run(self, spark, texts, phrase):
        from aml_entity_resolution_assignment_spark.operators.search import (
            build_positional_postings,
            phrase_search,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        return {
            r["doc_id"]: r["n_hits"]
            for r in phrase_search(
                build_positional_postings(df), phrase
            ).collect()
        }

    def test_exact_phrase_and_counts(self, spark):
        texts = [
            "the quick brown fox and the quick brown cat",  # 2 hits
            "quick the brown fox",                          # terms, wrong order
            "nothing relevant here",
            "prefix words the quick brown suffix",          # 1 hit
        ]
        got = self._run(spark, texts, "the quick brown")
        assert got == {0: 2, 3: 1}

    def test_repeated_term_phrase(self, spark):
        texts = [
            "a table table b",          # 1 hit
            "table table table",        # 2 overlapping hits
            "table a table",            # none
        ]
        got = self._run(spark, texts, "table table")
        assert got == {0: 1, 1: 2}

    def test_absent_term_short_circuits(self, spark):
        got = self._run(spark, ["some words here"], "words notintheindex")
        assert got == {}

    def test_case_insensitive(self, spark):
        got = self._run(spark, ["The Quick brown"], "the quick")
        assert got == {0: 1}

    def test_empty_phrase_raises(self, spark):
        import pytest as _pytest

        from aml_entity_resolution_assignment_spark.operators.search import (
            build_positional_postings,
            phrase_search,
        )

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            phrase_search(build_positional_postings(df), "   ")
