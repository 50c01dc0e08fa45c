"""Pair classification: rule cascade + logistic model + veto.

Reference: decide_match_status + classify_pairs
(/root/reference/src/matching.py:408-570) — a per-row pandas apply.
Here the whole cascade is ONE when()/otherwise() expression tree, so
Catalyst whole-stage-codegens it into generated Java; explanations are
built with concat_ws over conditional array elements (C11).

Rule structure mirrors the reference 1:1 (C3-C10), transposed to the
graft features (host = strong identifier, title = name, body-text
similarity = corroboration):

  R1 matching.py:426-429  same host + strong title           -> match >=0.95
  R2 matching.py:434-439  strong url/host + title + content   -> match >=0.90
     (the reference's R2 is an OR of two STRONG identifiers — email
      score or phone exact-match; the graft pairs url_score with
      host_match, NOT lang_match: same-language is a weak prior and
      as a substitute signal it mass-matches same-language pages)
  R3 matching.py:443-446  strong title + content overlap      -> match >=0.85
  R4 matching.py:450-453  near-identical url + host           -> match >=0.85
  R5 matching.py:458-471  ml_prob > 0.8                       -> match
  R6 matching.py:476-479  title + lang + very high content    -> match >=0.95
  Review rules matching.py:488-510; model veto matching.py:516-523.

The confidence score folds as max(ml_prob, floors of fired rules) —
greatest() over conditionals (C11).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RuleThresholds:
    """All cascade thresholds in one tunable, versioned object."""

    r1_host_title: tuple[float, float] = (0.90, 0.85)  # host_score, title_avg
    r2_url: float = 0.95
    r2_title: float = 0.80
    r2_corroborate_jaccard: float = 0.5
    r2_corroborate_minhash: float = 0.6
    r2_corroborate_simhash: float = 0.9
    r3_title: float = 0.85
    r3_jaccard: float = 0.60
    r4_title: float = 0.90
    r4_url: float = 0.80
    r5_ml: float = 0.80
    r6_title: float = 0.75
    r6_jaccard: float = 0.80
    r6_host: float = 0.80
    review_title_lang: float = 0.93
    review_ml: float = 0.20
    review_host: float = 0.85
    review_title: float = 0.90
    veto_ml: float = 0.10
    veto_host_guard: float = 0.90
    veto_url_guard: float = 0.90


DEFAULT_THRESHOLDS = RuleThresholds()


def _rules(t: RuleThresholds) -> dict[str, tuple[Column, str, float | None]]:
    """(condition, explanation, score-floor) per rule."""
    title_avg = F.col("title_score")  # single title field in graft
    ml = F.col("ml_prob")
    return {
        "r1": (
            (F.col("host_score") >= t.r1_host_title[0])
            & (title_avg > t.r1_host_title[1]),
            "Rule 1: Strong Host & Title Match",
            0.95,
        ),
        "r2": (
            ((F.col("url_score") > t.r2_url) | (F.col("host_match") == 1))
            & (title_avg > t.r2_title)
            & (
                (F.col("jaccard_score") > t.r2_corroborate_jaccard)
                | (F.col("minhash_sim") > t.r2_corroborate_minhash)
                | (F.col("simhash_sim") > t.r2_corroborate_simhash)
            ),
            "Rule 2: Strong Contact & Title Match (Verified)",
            0.90,
        ),
        "r3": (
            (title_avg > t.r3_title) & (F.col("jaccard_score") > t.r3_jaccard),
            "Rule 3: Content Overlap & Strong Title Match",
            0.85,
        ),
        "r4": (
            (title_avg > t.r4_title) & (F.col("url_score") > t.r4_url),
            "Rule 4: URL & Strong Title Match",
            0.85,
        ),
        "r5": (ml > t.r5_ml, "Rule 5: High ML Probability", None),
        "r6": (
            (title_avg > t.r6_title)
            & (F.col("jaccard_score") > t.r6_jaccard)
            & (F.col("host_score") > t.r6_host),
            "Rule 6: Strong Host + Content Match",
            0.95,
        ),
    }


def _reviews(t: RuleThresholds) -> dict[str, tuple[Column, str, float | None]]:
    title_avg = F.col("title_score")
    return {
        "review_title_lang": (
            (title_avg > t.review_title_lang) & (F.col("lang_match") == 1),
            "Very Strong Title & Lang Match (Doppelganger Risk)",
            0.75,
        ),
        "review_ml": (F.col("ml_prob") > t.review_ml, "Moderate ML Probability", None),
        "review_host": (
            F.col("host_score") >= t.review_host,
            "Strong Host but Weak Title Match",
            0.60,
        ),
        "review_title": (title_avg > t.review_title, "Strong Title Match Only", 0.50),
        "review_url": (F.col("url_score") == 1.0, "Exact URL Match Only", 0.55),
    }


def classify(features: DataFrame, thresholds: RuleThresholds | None = None) -> DataFrame:
    """features (+ ml_prob column; filled with 0.0 if absent) ->
    + match_type / confidence_score / explanation / is_match."""
    t = thresholds or DEFAULT_THRESHOLDS
    df = features
    if "ml_prob" not in df.columns:
        df = df.withColumn("ml_prob", F.lit(0.0))

    rules = _rules(t)
    reviews = _reviews(t)

    is_match = None
    for cond, _, _ in rules.values():
        is_match = cond if is_match is None else (is_match | cond)

    is_review_raw = None
    for cond, _, _ in reviews.values():
        is_review_raw = cond if is_review_raw is None else (is_review_raw | cond)

    # model veto (C10): review demoted to no_match when the model is
    # confident-negative and no strong identifier contradicts it
    veto = (
        is_review_raw
        & (F.col("ml_prob") < t.veto_ml)
        & (F.col("host_score") < t.veto_host_guard)
        & (F.col("url_score") < t.veto_url_guard)
    )
    is_review = is_review_raw & ~veto

    match_type = (
        F.when(is_match, "match").when(is_review, "review").otherwise("no_match")
    )

    # confidence fold (C11): max(ml_prob, floors of fired rules);
    # no_match (incl. veto) keeps the raw model probability
    score_match = F.greatest(F.col("ml_prob"), *[
        F.when(cond, F.lit(floor)).otherwise(F.lit(0.0))
        for cond, _, floor in rules.values()
        if floor is not None
    ])
    score_review = F.greatest(F.col("ml_prob"), *[
        F.when(cond, F.lit(floor)).otherwise(F.lit(0.0))
        for cond, _, floor in reviews.values()
        if floor is not None
    ])
    confidence = (
        F.when(is_match, score_match)
        .when(is_review, score_review)
        .otherwise(F.col("ml_prob"))
    )

    # explanation (C11): fired-rule reasons in cascade order
    match_reasons = [
        F.when(cond, F.lit(reason)) for cond, reason, _ in rules.values()
    ]
    review_reasons = [
        F.when(cond, F.lit(reason)) for cond, reason, _ in reviews.values()
    ]
    explanation = (
        F.when(
            is_match,
            F.concat_ws("; ", F.array_compact(F.array(*match_reasons))),
        )
        .when(
            veto,
            F.concat_ws(
                "; ",
                F.array_compact(
                    F.array(*review_reasons, F.lit("Model Veto: Low ML Probability"))
                ),
            ),
        )
        .when(
            is_review,
            F.concat_ws("; ", F.array_compact(F.array(*review_reasons))),
        )
        .otherwise(F.lit("No strong matching signals found"))
    )

    out = df.select(
        "*",
        match_type.alias("match_type"),
        confidence.alias("confidence_score"),
        explanation.alias("explanation"),
    )
    return out.withColumn(
        "is_match", (F.col("match_type") == "match").cast("int")
    )


# every match_type value classify() and classify_fs() emit; the
# pipeline observes one count per value (C12 status counts,
# matching.py:565-568)
MATCH_TYPES = ("match", "review", "no_match")


# ---------------------------------------------------------------------------
# Unsupervised alternative: Fellegi-Sunter EM over binarized features
# ---------------------------------------------------------------------------

# Grouped agreement signals for the F-S gamma. The binary-independence
# model requires (approximately) conditionally independent comparisons,
# and the raw feature set violates that in two correlated families —
# host_score/url_score/host_match all say "same site" and
# jaccard/minhash/simhash all say "same body text". The standard F-S
# practice is to COLLAPSE each correlated family into one comparison
# (any strong signal fires the group); EM then learns the worth of the
# four roughly independent signals: site, body, title, language.
# Thresholds sit at the cascade's own strong-evidence levels.
FS_SIGNALS = {
    "g_site": (
        ("host_score", 0.90),
        ("url_score", 0.90),
        ("host_match", 1.0),
    ),
    "g_body": (
        ("jaccard_score", 0.50),
        ("minhash_sim", 0.60),
        ("simhash_sim", 0.90),
    ),
    "g_title": (("title_score", 0.85),),
    "g_lang": (("lang_match", 1.0),),
}


def _fs_binarize(df: DataFrame) -> tuple[DataFrame, list]:
    gcols = []
    for g, members in FS_SIGNALS.items():
        have = [(c, t) for c, t in members if c in df.columns]
        if not have:
            continue
        cond = None
        for c, t in have:
            this = F.col(c) >= F.lit(t)
            cond = this if cond is None else (cond | this)
        df = df.withColumn(g, cond.cast("int"))
        gcols.append(g)
    return df, gcols


def classify_fs(
    features: DataFrame,
    iters: int = 30,
    match_posterior: float = 0.85,
    review_posterior: float = 0.4,
) -> DataFrame:
    """Unsupervised F-S classifier: collapse the feature columns into
    the grouped agreement vector (FS_SIGNALS), fit m/u/lambda by EM
    (operators/fellegi.py — one groupBy + driver EM + broadcast score
    join), and cut on the fitted posterior. Output schema matches
    classify(): match_type / confidence_score / is_match, so the
    clustering and evaluation stages compose unchanged.

    EM runs FREE (both classes fitted on the candidate pairs): the
    grouped gamma keeps the two latent classes aligned with true
    match/non-match — with the raw correlated fields instead, the
    triple site-disagreement of legitimate cross-host matches outvotes
    their body agreement and free EM locks onto the wrong modes (and
    anchoring u to random-pair estimates overshoots the other way:
    EVERY blocked candidate is unlike a random pair, so lambda -> 1;
    see fellegi.fs_em(fix_u=...) for when that anchor is the right
    tool — match-poor, loosely blocked pair pools).

    No labels, no hand-tuned rule weights: the only domain inputs are
    WHICH comparisons exist and where "agreement" starts. The e2e test
    pins pairwise F1 >= 0.99 on the synthetic corpus — the same gate
    the rule cascade passes (north_rule metric).
    """
    from .fellegi import fellegi_sunter

    df, gcols = _fs_binarize(features)
    if not gcols:
        raise ValueError("no known feature columns to binarize")

    scored = fellegi_sunter(df, gcols, iters=iters)
    out = scored.withColumn(
        "match_type",
        F.when(F.col("posterior") >= match_posterior, F.lit("match"))
        .when(F.col("posterior") >= review_posterior, F.lit("review"))
        .otherwise(F.lit("no_match")),
    ).withColumn("confidence_score", F.col("posterior"))
    return out.withColumn(
        "is_match", (F.col("match_type") == "match").cast("int")
    ).drop(*gcols)
