"""Text-analysis functions for large-scale training-data pipelines.

Beyond the reference's ER operators, a 100 TB web-text pipeline needs
per-document text analytics: language ID, quality scoring, token
counting, fingerprinting. Everything here is a pure column expression
(JVM-side, codegen'd) except the rolling-hash fingerprint, which is a
vectorized pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# Tiny per-language stopword lists for the n-gram/stopword-vote heuristic.
# Deliberately small and disjoint so the vote is stable and the same
# lists can be inlined into an ANSI-SQL oracle.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "ein", "mit"],
    "es": ["que", "los", "las", "una", "por", "para", "con", "del"],
    "pl": ["nie", "jest", "czy", "ale", "jak", "tak", "przez", "dla"],
}


def _tokens(c: Column) -> Column:
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(c: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(_tokens(c))).cast("long")


def word_token_count(c: Column) -> Column:
    """BPE-ish subword proxy: count word chunks + standalone
    punctuation, the usual cheap token estimator for LLM data work."""
    arr = F.regexp_extract_all(F.lower(c), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)
    return F.size(arr).cast("long")


def lang_score(c: Column, lang: str) -> Column:
    """Stopword hits for one language over the token array."""
    toks = _tokens(c)
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(toks, words)).cast("long")


def lang_id(c: Column) -> Column:
    """Argmax of per-language stopword votes; 'und' (undetermined) when
    all votes are zero. Ties break by language-code order (en<de<es<pl
    as listed), matching the SQL oracle's CASE ordering."""
    scores = {lang: lang_score(c, lang) for lang in STOPWORDS}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build reversed so earlier langs win ties
    for lang in reversed(list(STOPWORDS)):
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def quality_features(c: Column) -> dict[str, Column]:
    """Cheap quality signals: length, token stats, punctuation/digit/
    uppercase ratios, stopword ratio, mean word length."""
    n_chars = F.length(c).cast("long")
    toks = token_count(c)
    n_punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"]", "")).cast("long")
    n_digit = F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("long")
    n_upper = F.length(F.regexp_replace(c, r"[^A-Z]", "")).cast("long")
    stop_hits = sum(lang_score(c, lang) for lang in STOPWORDS)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_toks = F.greatest(toks, F.lit(1)).cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": toks,
        "punct_ratio": (n_punct / safe_chars),
        "digit_ratio": (n_digit / safe_chars),
        "upper_ratio": (n_upper / safe_chars),
        "stopword_ratio": (stop_hits.cast("double") / safe_toks),
        "mean_word_len": (
            (n_chars - (toks - F.lit(1)).cast("long")) / safe_toks
        ),
    }


def quality_score(c: Column) -> Column:
    """Composite 0-1 quality score: rewards stopword presence and sane
    word length, penalizes digit/punct-heavy text. Deterministic linear
    blend — a placeholder for a trained classifier, SQL-reproducible."""
    q = quality_features(c)
    raw = (
        F.least(q["stopword_ratio"] * 2.0, F.lit(1.0)) * 0.5
        + F.when((q["mean_word_len"] >= 3) & (q["mean_word_len"] <= 10), 0.3).otherwise(0.0)
        - F.least(q["digit_ratio"] * 2.0, F.lit(0.3))
        - F.least(q["punct_ratio"] * 2.0, F.lit(0.2))
        + F.lit(0.2)
    )
    return F.round(F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0)), 6)


# ---------------------------------------------------------------------------
# Document fingerprint (rolling polynomial hash) — pandas UDF
# ---------------------------------------------------------------------------

_FP_BASE = 1000003
_FP_MOD = (1 << 61) - 1


def fingerprint(text: str | None, token_hash: str = "fast") -> int | None:
    """Rolling polynomial hash over whitespace tokens mod 2^61-1 — a
    cheap order-sensitive content fingerprint stable under leading/
    trailing/repeated whitespace. h = (h*B + hash64(tok)) mod M.
    token_hash='md5' pins the DuckDB-reproducible token hash for the
    SQL oracle; 'fast' (default) is the vectorized production hash
    (functions/minhash._token_hash_array)."""
    if text is None:
        return None
    toks = text.split()
    if not toks:
        return 0
    from .minhash import _token_hash_array

    hashes = _token_hash_array(np.array(toks, dtype=object), token_hash)
    h = 0
    for x in hashes:
        h = (h * _FP_BASE + int(x)) % _FP_MOD
    return int(h)


def batch_fingerprint(s: pd.Series, token_hash: str = "fast") -> pd.Series:
    """Batch fingerprint: the token hash runs once per DISTINCT token in
    the batch (token frequency is Zipf; vectorized SipHash by default,
    'md5' for the SQL oracle twin); the rolling fold is per row over
    precomputed hashes (inherently sequential — the 61-bit modular state
    carries across tokens)."""
    from .minhash import _token_hash_array

    out: list[int | None] = [None] * len(s)
    tok_lists: list[list[str] | None] = [
        None if t is None or (isinstance(t, float) and pd.isna(t)) else str(t).split()
        for t in s
    ]
    uniq = sorted({t for toks in tok_lists if toks for t in toks})
    if uniq:
        hashes = _token_hash_array(np.array(uniq, dtype=object), token_hash)
        cache = {t: int(x) for t, x in zip(uniq, hashes)}
    else:
        cache = {}
    for i, toks in enumerate(tok_lists):
        if toks is None:
            continue
        h = 0
        for t in toks:
            h = (h * _FP_BASE + cache[t]) % _FP_MOD
        out[i] = h
    return pd.Series(out, index=s.index, dtype="object").astype("Int64")


def fingerprint_udf(token_hash: str = "fast") -> Column:
    def _f(s: pd.Series) -> pd.Series:
        return batch_fingerprint(s, token_hash=token_hash)

    return F.pandas_udf(_f, LongType())


# sentence boundary: terminal punctuation run, optional closing
# quotes/brackets, then whitespace. Deliberately lookaround-free so
# the SAME pattern runs under Java regex (Spark) and RE2 (DuckDB) --
# abbreviation protection needs lookbehind and is out of contract.
SENT_BOUNDARY = r"""([.!?]+["')\]]*)[ \t\r\n]+"""
_RS = "\u001e"  # record separator inserted at each boundary


def sentence_split(c: Column) -> Column:
    """Array of sentences from a text column -- pure JVM expressions:
    one regexp_replace inserts a record separator (U+001E) at every
    boundary, one split cuts on it, transform trims. The fixed rule is
    deterministic and engine-portable (the sentences oracle row
    replays it in SQL); empty segments (e.g. after trailing
    punctuation) are filtered."""
    from pyspark.sql import functions as F

    marked = F.regexp_replace(c, SENT_BOUNDARY, "$1" + _RS)
    return F.filter(
        F.transform(F.split(marked, _RS), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def sentences_table(
    docs, id_col: str = "doc_id", text_col: str = "text"
):
    """(id, sent_idx, sentence, n_chars) -- the sentence-granularity
    view used for sentence-level dedup and packing. posexplode keeps
    the in-document order as an explicit column so downstream
    re-assembly never depends on row order."""
    from pyspark.sql import functions as F

    return docs.select(
        F.col(id_col),
        F.posexplode(sentence_split(F.col(text_col))).alias(
            "sent_idx", "sentence"
        ),
    ).select(
        id_col, "sent_idx", "sentence", F.length("sentence").alias("n_chars")
    )


# Unicode-script profiling (the mC4 / CCNet script filter): per-script
# character counts via \p{Is<Script>} character classes (Java regex;
# the DuckDB/RE2 twin spells the same property \p{<Script>}), dominant
# script by argmax with fixed tie order.
SCRIPTS = (
    "Latin",
    "Cyrillic",
    "Greek",
    "Arabic",
    "Hebrew",
    "Han",
    "Hangul",
    "Devanagari",
)


def script_counts(c: Column) -> dict[str, Column]:
    """Per-script character counts: count of chars in each Unicode
    script = length(text) - length(text with that script removed).
    One codegen'd projection, no UDF."""
    out = {}
    for s in SCRIPTS:
        stripped = F.regexp_replace(c, rf"\p{{Is{s}}}", "")
        out[s] = (F.length(c) - F.length(stripped)).cast("long")
    return out


def dominant_script(c: Column) -> Column:
    """Argmax of script_counts; 'Zzzz' (unknown, the ISO 15924 code)
    when no scripted character occurs. Ties break by SCRIPTS order,
    matching the SQL oracle's CASE ordering."""
    counts = script_counts(c)
    best = F.greatest(*counts.values())
    expr = F.lit("Zzzz")
    for s in reversed(SCRIPTS):
        expr = F.when((best > 0) & (counts[s] == best), F.lit(s)).otherwise(
            expr
        )
    return expr
