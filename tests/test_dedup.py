"""Dedup operator tests against python oracles."""

import pytest
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    # 30 distinct tokens: one-token change -> jaccard 29/31 ~= 0.94,
    # LSH (b=16, r=8) recall at 0.94 is ~1-7e-7 (deterministic enough)
    base = " ".join(f"word{i:02d}" for i in range(30))
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("word17", "word17x")),  # near dup of 1
        (4, "  " + base.upper() + "  "),  # normalized-exact dup of 1
        (5, " ".join(f"other{i}" for i in range(30))),
        (6, "completely different text about spark catalyst and tungsten"),
        (7, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_minhash_near_dup_pairs(docs):
    pairs = D.minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.7)
    got = {(int(r["id_a"]), int(r["id_b"])) for r in pairs.collect()}
    # 1,2,4 identical; 3 near-dup of all of them. 5/6/7 unrelated.
    assert (1, 2) in got and (1, 4) in got and (2, 4) in got
    assert (1, 3) in got
    assert all(a not in (5, 6, 7) and b not in (5, 6, 7) for a, b in got)


def test_ngram_jaccard_pairs_matches_python_oracle(docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3).collect()
    }

    rows = {r["doc_id"]: r["text"] for r in docs.collect()}

    def grams(t, n=3):
        toks = t.lower().strip().split()
        if not toks:
            return set()
        if len(toks) <= n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    expect = {}
    ids = sorted(rows)
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            gi, gj = grams(rows[i]), grams(rows[j])
            if not gi or not gj:
                continue
            inter = len(gi & gj)
            if inter == 0:
                continue
            jac = inter / (len(gi) + len(gj) - inter)
            if jac >= 0.3:
                expect[(i, j)] = jac
    assert set(got) == set(expect)
    for k in expect:
        assert got[k] == pytest.approx(expect[k])


def test_dedup_keep_min_transitive(docs, spark):
    pairs = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("5", "6")], "id_a string, id_b string"
    )
    kept = {r["doc_id"] for r in D.dedup_keep_min(docs, pairs, "doc_id").collect()}
    assert kept == {1, 4, 5, 7}


def test_dedup_keep_best_keeps_highest_score(docs, spark):
    pairs = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("5", "6")], "id_a string, id_b string"
    )
    score = {1: 0.1, 2: 0.5, 3: 0.5, 4: 0.0, 5: 0.9, 6: 0.2, 7: 0.3}
    scored = docs.join(
        spark.createDataFrame(list(score.items()), "doc_id long, quality double"),
        "doc_id",
    )
    kept = D.dedup_keep_best(scored, pairs, "doc_id", "quality")
    assert kept.columns == scored.columns
    # {1,2,3}: 2 and 3 tie on quality, the min id wins; {5,6}: 5;
    # singletons 4 and 7 keep themselves
    assert {r["doc_id"] for r in kept.collect()} == {2, 4, 5, 7}


def test_ngram_max_df_drops_stop_shingles(spark):
    # one hot 2-gram ("click here") shared by ALL docs; without the cap
    # every pair joins, with max_df=2 the hot gram is dropped entirely
    rows = [
        (1, "click here alpha beta gamma"),
        (2, "click here delta epsilon zeta"),
        (3, "click here eta theta iota"),
        (4, "click here alpha beta gamma"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.01)
    assert uncapped.count() == 6  # all pairs share 'click here'
    capped = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=2, threshold=0.01, max_df=2
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    # only the true duplicate pair survives; its grams are all shared
    assert set(got) == {(1, 4)}
    assert got[(1, 4)] == pytest.approx(1.0)


def test_minhash_recall_forced_banding(docs):
    # bands=32, rows=4 makes banding recall ~1 at threshold 0.9, so the
    # verified output equals exact all-pairs token jaccard >= 0.9
    out = D.minhash_near_dup_pairs(
        docs, "doc_id", "text", threshold=0.9, bands=32, rows=4
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(1, 2), (1, 4), (2, 4), (1, 3), (2, 3), (3, 4)}


# ----------------------------------------------- prefix-filter jaccard


def test_prefix_jaccard_exact_vs_brute(spark):
    from aml_entity_resolution_assignment_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumps over a lazy dog",   # near-dup of 1
        3: "the quick brown fox leaps over the lazy dog",  # near-dup of 1
        4: "completely different content about spark joins",
        5: "the quick brown fox jumps over the lazy dog",  # exact dup of 1
        6: "spark joins about content different completely",  # set-eq of 4
        7: "the a over",  # tiny doc of only hot tokens
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def jac(a, b):
        sa, sb = set(texts[a].split()), set(texts[b].split())
        return len(sa & sb) / len(sa | sb)

    for t in (0.6, 0.8, 0.95, 1.0):
        want = {
            (a, b): jac(a, b)
            for a in texts
            for b in texts
            if a < b and jac(a, b) >= t
        }
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in prefix_jaccard_pairs(df, "doc_id", "text", t).collect()
        }
        assert set(got) == set(want), t
        for p, j in want.items():
            assert abs(got[p] - j) < 1e-9


def test_prefix_jaccard_partitioning_invariant(spark):
    from aml_entity_resolution_assignment_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    rows = [
        (i, f"alpha beta gamma delta tok{i % 4} tok{i % 7} epsilon")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in prefix_jaccard_pairs(
            df.repartition(1), "doc_id", "text", 0.7
        ).collect()
    }
    b = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in prefix_jaccard_pairs(
            df.repartition(8), "doc_id", "text", 0.7
        ).collect()
    }
    assert a == b and len(a) > 0


class TestWinnowFingerprints:
    @staticmethod
    def _reference(text, k, w):
        """Independent winnowing reference (hashlib md5, explicit
        rightmost-min windows)."""
        import hashlib
        import re

        s = re.sub(r"[^a-z0-9]", "", text.lower())
        if len(s) < k:
            return set()
        hl = [
            hashlib.md5(s[i : i + k].encode()).hexdigest()
            for i in range(len(s) - k + 1)
        ]
        out = set()
        n = len(hl)
        for j in range(max(n - w + 1, 1)):
            sl = hl[j : j + w]
            m = min(sl)
            # rightmost occurrence of the min
            pos = j + max(i for i, v in enumerate(sl) if v == m)
            out.add((pos + 1, m))  # 1-based like the operator
        return out

    def _run(self, spark, texts, k=5, w=4):
        from aml_entity_resolution_assignment_spark.operators.dedup import (
            winnow_fingerprints,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        rows = winnow_fingerprints(df, k=k, window=w).collect()
        got = {}
        for r in rows:
            got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
        return got

    def test_matches_reference(self, spark):
        texts = [
            "A do run run run, a do run run",
            "the quick brown fox jumps over the lazy dog",
            "aaaaaaaaaaaa",  # degenerate: all grams identical
        ]
        got = self._run(spark, texts, k=3, w=4)
        for i, t in enumerate(texts):
            assert got.get(i, set()) == self._reference(t, 3, 4), i

    def test_shared_substring_guarantee(self, spark):
        # any common substring of length >= w + k - 1 must share a
        # fingerprint HASH between the two docs (winnowing guarantee)
        core = "xyzqrstuvw123"  # 13 chars >= 4 + 5 - 1 = 8
        got = self._run(
            spark, ["aaa " + core + " bbb", "ccc ddd " + core + " e"]
        )
        fps0 = {f for _, f in got[0]}
        fps1 = {f for _, f in got[1]}
        assert fps0 & fps1, "no shared fingerprint for a shared substring"

    def test_short_docs(self, spark):
        got = self._run(spark, ["ab", "abcde", ""], k=5, w=4)
        assert 0 not in got and 2 not in got  # under k canonical chars
        assert len(got[1]) == 1  # one gram -> one fingerprint


class TestWinnowMatches:
    def _run(self, spark, texts, **kw):
        from aml_entity_resolution_assignment_spark.operators.dedup import (
            winnow_matches,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        return {
            (r["id_a"], r["id_b"]): r["n_shared"]
            for r in winnow_matches(df, **kw).collect()
        }

    def test_copied_passage_detected(self, spark):
        core = "the quick brown fox jumps over the lazy dog repeatedly"
        texts = [
            "intro one. " + core + " outro alpha.",
            "different opening text here; " + core + " and more words",
            "totally unrelated content about spark query planning",
        ]
        got = self._run(spark, texts, k=5, window=4, min_shared=2)
        assert (0, 1) in got and got[(0, 1)] >= 2
        assert not any(2 in pair for pair in got)

    def test_df_cap_drops_boilerplate(self, spark):
        # the same phrase in ALL docs carries no copy signal at
        # max_df=2: every fingerprint is in 3 docs -> all filtered
        t = "identical boilerplate sentence everywhere"
        got = self._run(spark, [t, t, t], k=5, window=4, max_df=2)
        assert got == {}

    def test_min_shared_threshold(self, spark):
        core = "shared fragment alpha beta gamma delta"
        texts = ["xx " + core, "yy " + core]
        loose = self._run(spark, texts, k=5, window=4, min_shared=1)
        strict = self._run(
            spark, texts, k=5, window=4, min_shared=10**6
        )
        assert loose and not strict
