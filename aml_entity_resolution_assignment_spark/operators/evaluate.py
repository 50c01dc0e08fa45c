"""Pairwise evaluation: precision / recall / F1, label-invariant.

Reference: evaluate_results (/root/reference/src/matching.py:598-679).
Pairs-from-clusters (E2) is the within-label self-join. The TP/FP/FN
counts (E3) come from group sizes instead of pair sets: one aggregate
action over the (predicted, true) contingency table sums C(n, 2) per
predicted cluster, per true cluster and per cell. The FN/FP pair
tables are returned as lazy left_anti joins of the E2 pairs, run only
by a caller that reads them. Review credit (E4) intersects FN with
review pairs using least/greatest orientation normalization instead of
the reference's dual-insert (matching.py:628-635).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pairs_from_clusters(labeled: DataFrame, id_col: str, label_col: str) -> DataFrame:
    """E2: all sorted intra-cluster pairs for a labeling."""
    a = labeled.select(F.col(id_col).alias("id_a"), F.col(label_col).alias("_l"))
    b = labeled.select(F.col(id_col).alias("id_b"), F.col(label_col).alias("_l"))
    return (
        a.join(b, "_l")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def review_credit(
    true_pairs: DataFrame, match_pairs: DataFrame, review_pairs: DataFrame
) -> DataFrame:
    """E4 (matching.py:628-651): of the true pairs MISSED by the match
    decision (FN), how many landed in the review queue (caught — a
    human reviewer still sees them) vs truly missed. Pure semi/anti
    joins; pair orientation is normalized with least/greatest instead
    of the reference's dual-insert. Single-row DataFrame."""
    norm = lambda df: df.select(  # noqa: E731
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    ).distinct()
    t, m, r = norm(true_pairs), norm(match_pairs), norm(review_pairs)
    fn = t.join(m, ["id_a", "id_b"], "left_anti")
    # one aggregation pass: caught as a left-join flag, not a second
    # count (two 1-row aggs cross-joined would plan a nested-loop join)
    flagged = fn.join(r.withColumn("_rev", F.lit(1)), ["id_a", "id_b"], "left")
    return flagged.agg(
        F.count("*").alias("n_fn"),
        F.coalesce(F.sum("_rev"), F.lit(0)).alias("caught_in_review"),
    ).select(
        "n_fn",
        "caught_in_review",
        (F.col("n_fn") - F.col("caught_in_review")).alias("truly_missed"),
    )


@dataclass
class PairwiseMetrics:
    true_pairs: int
    pred_pairs: int
    tp: int
    fp: int
    fn: int
    caught_in_review: int
    truly_missed: int
    precision: float
    recall: float
    f1: float


def evaluate_clusters(
    predictions: DataFrame,
    truth: DataFrame,
    classified: DataFrame | None = None,
    id_col: str = "url",
) -> tuple[PairwiseMetrics, DataFrame, DataFrame]:
    """E1-E6: returns (metrics, missed_pairs_df, false_pairs_df).

    predictions: (id_col, predicted_entity_id); truth: (id_col,
    entity_id); classified (optional): pair table with match_type for
    review credit.

    The counts are one Spark action: per joined id, then a cube over
    (predicted, true) labels — true_pairs = Σ C(n_t, 2), pred_pairs =
    Σ C(n_p, 2), tp = Σ C(n_pt, 2); a null label forms no pairs. An id
    that appears more than once after the join raises ValueError. The
    returned pair frames are lazy.
    """
    merged = predictions.join(truth, id_col)
    by_id = merged.groupBy(id_col).agg(
        F.count("*").alias("_n_id"),
        F.first("predicted_entity_id").alias("_p"),
        F.first("entity_id").alias("_t"),
    )
    # grouping_id: 0 = (p, t) cell, 1 = per p, 2 = per t, 3 = total
    cells = by_id.cube("_p", "_t").agg(
        F.grouping_id().alias("_g"),
        F.count("*").alias("_n"),
        F.max("_n_id").alias("_max_n_id"),
    )
    n_pairs = F.expr("_n * (_n - 1) div 2")
    g = F.col("_g")
    p_ok, t_ok = F.col("_p").isNotNull(), F.col("_t").isNotNull()
    row = cells.agg(
        F.sum(F.when((g == 2) & t_ok, n_pairs)).alias("true_pairs"),
        F.sum(F.when((g == 1) & p_ok, n_pairs)).alias("pred_pairs"),
        F.sum(F.when((g == 0) & p_ok & t_ok, n_pairs)).alias("tp"),
        F.max("_max_n_id").alias("max_rows_per_id"),
    ).collect()[0]
    if (row["max_rows_per_id"] or 0) > 1:
        raise ValueError(
            f"evaluate_clusters: a {id_col} value appears "
            f"{row['max_rows_per_id']} times after the predictions/truth "
            "join; each id needs exactly one predicted and one true label"
        )
    n_true = row["true_pairs"] or 0
    n_pred = row["pred_pairs"] or 0
    n_tp = row["tp"] or 0
    n_fp = n_pred - n_tp
    n_fn = n_true - n_tp

    true_pairs = pairs_from_clusters(merged, id_col, "entity_id")
    pred_pairs = pairs_from_clusters(merged, id_col, "predicted_entity_id")
    fp_pairs = pred_pairs.join(true_pairs, ["id_a", "id_b"], "left_anti")
    fn_pairs = true_pairs.join(pred_pairs, ["id_a", "id_b"], "left_anti")

    caught = 0
    if classified is not None:
        review_pairs = (
            classified.where(F.col("match_type") == "review")
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
        )
        caught = fn_pairs.join(review_pairs, ["id_a", "id_b"], "left_semi").count()

    precision = n_tp / (n_tp + n_fp) if (n_tp + n_fp) else 0.0
    recall = n_tp / (n_tp + n_fn) if (n_tp + n_fn) else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if (precision + recall)
        else 0.0
    )
    metrics = PairwiseMetrics(
        true_pairs=n_true,
        pred_pairs=n_pred,
        tp=n_tp,
        fp=n_fp,
        fn=n_fn,
        caught_in_review=caught,
        truly_missed=n_fn - caught,
        precision=precision,
        recall=recall,
        f1=f1,
    )
    return metrics, fn_pairs, fp_pairs


def evaluate_labeled_pairs(
    classified: DataFrame, truth: DataFrame, id_col: str = "url"
) -> PairwiseMetrics:
    """BASELINE.json gate: pairwise F1 on LABELED PAIRS AT THE BLOCKING
    KEYS — candidate pairs labeled from truth (train_model.py:43-49
    construction), predicted positive = match_type == 'match'."""
    t_a = truth.select(
        F.col(id_col).alias("id_a"), F.col("entity_id").alias("ent_a")
    )
    t_b = truth.select(
        F.col(id_col).alias("id_b"), F.col("entity_id").alias("ent_b")
    )
    labeled = (
        classified.join(t_a, "id_a")
        .join(t_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("ent_a") == F.col("ent_b")).cast("int").alias("label"),
            "is_match",
            "match_type",
        )
    )
    agg = labeled.agg(
        F.sum(((F.col("label") == 1) & (F.col("is_match") == 1)).cast("int")).alias("tp"),
        F.sum(((F.col("label") == 0) & (F.col("is_match") == 1)).cast("int")).alias("fp"),
        F.sum(((F.col("label") == 1) & (F.col("is_match") == 0)).cast("int")).alias("fn"),
        F.sum(
            (
                (F.col("label") == 1)
                & (F.col("is_match") == 0)
                & (F.col("match_type") == "review")
            ).cast("int")
        ).alias("caught"),
        F.sum(F.col("label")).alias("n_true"),
        F.sum("is_match").alias("n_pred"),
    ).collect()[0]
    tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
    precision = tp / (tp + fp) if (tp + fp) else 0.0
    recall = tp / (tp + fn) if (tp + fn) else 0.0
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    return PairwiseMetrics(
        true_pairs=int(agg["n_true"] or 0),
        pred_pairs=int(agg["n_pred"] or 0),
        tp=int(tp),
        fp=int(fp),
        fn=int(fn),
        caught_in_review=int(agg["caught"] or 0),
        truly_missed=int(fn - (agg["caught"] or 0)),
        precision=precision,
        recall=recall,
        f1=f1,
    )


def bcubed(
    predicted: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "predicted_entity_id",
    true_col: str = "entity_id",
) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) — the
    standard CLUSTER-level ER metric, complementing the pairwise P/R/F1
    gate: per record r, precision = |C(r) ∩ L(r)| / |C(r)| and recall =
    |C(r) ∩ L(r)| / |L(r)| (C = predicted cluster, L = true cluster),
    averaged over records. Unlike pairwise F1 it is not dominated by
    the largest clusters and it scores singletons sensibly.

    Distributed form: one equi-join on id, then three aggregations —
    per (pred, true) intersection sizes, per-pred sizes, per-true
    sizes; every sum is then
        precision = Σ_{p,t} n_pt² / n_p / N
        recall    = Σ_{p,t} n_pt² / n_t / N
    (each record in an intersection cell contributes n_pt/n_p resp.
    n_pt/n_t). Three shuffles total, all key-grouped — no per-record
    state, no cluster materialization; scale-safe at 10^12 records.

    Returns one row: (n_records, b3_precision, b3_recall, b3_f1)."""
    joined = (
        predicted.select(
            F.col(id_col).alias("_id"), F.col(pred_col).alias("_p")
        )
        .join(
            truth.select(F.col(id_col).alias("_id"), F.col(true_col).alias("_t")),
            "_id",
        )
    )
    cells = joined.groupBy("_p", "_t").agg(F.count("*").alias("n_pt"))
    psize = cells.groupBy("_p").agg(F.sum("n_pt").alias("n_p"))
    tsize = cells.groupBy("_t").agg(F.sum("n_pt").alias("n_t"))
    agg = (
        cells.join(psize, "_p")
        .join(tsize, "_t")
        .agg(
            F.sum("n_pt").alias("n"),
            F.sum(F.col("n_pt") * F.col("n_pt") / F.col("n_p")).alias("sp"),
            F.sum(F.col("n_pt") * F.col("n_pt") / F.col("n_t")).alias("sr"),
        )
    )
    return agg.select(
        F.col("n").alias("n_records"),
        (F.col("sp") / F.col("n")).alias("b3_precision"),
        (F.col("sr") / F.col("n")).alias("b3_recall"),
        (
            2 * (F.col("sp") / F.col("n")) * (F.col("sr") / F.col("n"))
            / ((F.col("sp") / F.col("n")) + (F.col("sr") / F.col("n")))
        ).alias("b3_f1"),
    )


def clustering_agreement(
    predicted: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    pred_col: str = "predicted_entity_id",
    true_col: str = "entity_id",
) -> DataFrame:
    """Rand index, adjusted Rand index (Hubert & Arabie 1985), and
    normalized mutual information between two clusterings — the
    pair-counting and information-theoretic complements to bcubed().

    Everything derives from the contingency table: one equi-join on id
    then three groupBys (cell sizes n_pt, row sums n_p, column sums
    n_t). With comb(x) = x*(x-1)/2:

        ARI = (Σ comb(n_pt) - E) / (½(Σ comb(n_p) + Σ comb(n_t)) - E),
              E = Σ comb(n_p) * Σ comb(n_t) / comb(N)
        RI  = 1 - (Σ comb(n_p) + Σ comb(n_t) - 2 Σ comb(n_pt)) / comb(N)
        NMI = I(P;T) / sqrt(H(P) * H(T))   (log base e, 0/0 -> 1 when
              both clusterings are single-cluster trivial)

    All aggregations are key-grouped sums — no cluster materialization,
    scale-safe at 10^12 records. Returns one row:
    (n_records, rand_index, adjusted_rand, nmi).
    """
    joined = (
        predicted.select(F.col(id_col).alias("_id"), F.col(pred_col).alias("_p"))
        .join(
            truth.select(F.col(id_col).alias("_id"), F.col(true_col).alias("_t")),
            "_id",
        )
    )
    cells = joined.groupBy("_p", "_t").agg(F.count("*").alias("n_pt"))
    comb = lambda c: (F.col(c) * (F.col(c) - 1) / 2.0)  # noqa: E731

    cell_stats = cells.agg(
        F.sum(comb("n_pt")).alias("s_cells"),
        F.sum(F.col("n_pt") * F.log("n_pt")).alias("nlogn_cells"),
        F.sum("n_pt").alias("n"),
    )
    row_stats = (
        cells.groupBy("_p")
        .agg(F.sum("n_pt").alias("n_p"))
        .agg(
            F.sum(comb("n_p")).alias("s_rows"),
            F.sum(F.col("n_p") * F.log("n_p")).alias("nlogn_rows"),
        )
    )
    col_stats = (
        cells.groupBy("_t")
        .agg(F.sum("n_pt").alias("n_t"))
        .agg(
            F.sum(comb("n_t")).alias("s_cols"),
            F.sum(F.col("n_t") * F.log("n_t")).alias("nlogn_cols"),
        )
    )
    s = (
        cell_stats.crossJoin(F.broadcast(row_stats))
        .crossJoin(F.broadcast(col_stats))
    )
    n = F.col("n")
    comb_n = n * (n - 1) / 2.0
    expected = F.col("s_rows") * F.col("s_cols") / comb_n
    max_idx = (F.col("s_rows") + F.col("s_cols")) / 2.0
    # entropies via the n*log(n) sums: H(P) = log N - (1/N) Σ n_p log n_p
    h_p = F.log(n) - F.col("nlogn_rows") / n
    h_t = F.log(n) - F.col("nlogn_cols") / n
    # I(P;T) = (1/N) Σ n_pt log(N n_pt / (n_p n_t))
    #        = log N + (1/N)(Σ n_pt log n_pt - Σ n_p log n_p - Σ n_t log n_t)
    mi = (
        F.log(n)
        + (F.col("nlogn_cells") - F.col("nlogn_rows") - F.col("nlogn_cols")) / n
    )
    nmi = F.when(
        (h_p > 1e-12) & (h_t > 1e-12), mi / F.sqrt(h_p * h_t)
    ).otherwise(
        # degenerate: one (or both) clustering is a single cluster —
        # identical trivial clusterings agree perfectly
        F.when((h_p <= 1e-12) & (h_t <= 1e-12), F.lit(1.0)).otherwise(F.lit(0.0))
    )
    ari = F.when(
        F.abs(max_idx - expected) > 1e-12,
        (F.col("s_cells") - expected) / (max_idx - expected),
    ).otherwise(F.lit(1.0))
    ri = F.when(
        comb_n > 0,
        1.0
        - (F.col("s_rows") + F.col("s_cols") - 2 * F.col("s_cells")) / comb_n,
    ).otherwise(F.lit(1.0))
    return s.select(
        n.cast("long").alias("n_records"),
        ri.alias("rand_index"),
        ari.alias("adjusted_rand"),
        nmi.alias("nmi"),
    )


def blocking_quality(
    candidate_pairs: DataFrame,
    true_pairs: DataFrame,
    n_records: int,
) -> DataFrame:
    """The standard blocking-evaluation trio (Christen 2012) given
    ground truth:

      pairs_completeness = |cand ∩ true| / |true|   (blocking recall —
          matches the blocking scheme still has a chance to find)
      pairs_quality      = |cand ∩ true| / |cand|   (match density of
          the candidate set the scorer must pay for)
      reduction_ratio    = 1 - |cand| / C(n,2)      (how much of the
          quadratic space blocking eliminated)

    Complements blocking_health (E7: sizes only, no truth). Both pair
    inputs are (id_a, id_b) with the same canonical ordering; all
    three counts come from ONE fused job — a tagged union's
    (id_a, id_b) groupBy carries each side's multiplicity, and the
    global aggregate folds n_cand / n_true / overlap together (was
    three driver actions, two of which re-executed the candidate
    lineage; guide §1.2/§2.4 — the same fusion as capture_recapture).
    Semantics preserved exactly, duplicate rows included: overlap
    counts candidate ROWS whose pair appears in `true_pairs`, like
    the former semi-join count. Returns one row."""
    tagged = candidate_pairs.select(
        "id_a", "id_b", F.lit(1).alias("_c"), F.lit(0).alias("_t")
    ).unionByName(
        true_pairs.select(
            "id_a", "id_b", F.lit(0).alias("_c"), F.lit(1).alias("_t")
        )
    )
    row = (
        tagged.groupBy("id_a", "id_b")
        .agg(F.sum("_c").alias("_nc"), F.sum("_t").alias("_nt"))
        .agg(
            F.coalesce(F.sum("_nc"), F.lit(0)).alias("n_cand"),
            F.coalesce(F.sum("_nt"), F.lit(0)).alias("n_true"),
            F.coalesce(
                F.sum(F.when(F.col("_nt") > 0, F.col("_nc")).otherwise(0)),
                F.lit(0),
            ).alias("tp"),
        )
        .collect()[0]
    )
    n_cand, n_true, tp = row["n_cand"], row["n_true"], row["tp"]
    total = n_records * (n_records - 1) / 2.0
    spark = candidate_pairs.sparkSession
    return spark.createDataFrame(
        [(
            int(n_cand),
            int(n_true),
            int(tp),
            (tp / n_true) if n_true else 0.0,
            (tp / n_cand) if n_cand else 0.0,
            (1.0 - n_cand / total) if total else 0.0,
        )],
        "n_candidates long, n_true long, n_overlap long, "
        "pairs_completeness double, pairs_quality double, "
        "reduction_ratio double",
    )


def pr_curve(
    scored: DataFrame,
    score_col: str = "posterior",
    truth_col: str = "is_match",
    decimals: int = 6,
    weight_col: str | None = None,
) -> DataFrame:
    """Precision/recall/F1 at every distinct score threshold (the
    operating-characteristic sweep behind threshold selection — the
    reference picks its cascade thresholds by hand; this measures what
    each choice would buy).

    Scale shape: ONE distributed groupBy reduces N scored pairs
    (10^12-scale) to the distinct rounded score values — for a
    pattern-based scorer such as Fellegi-Sunter that is at most 2^k
    rows, and `decimals` bounds it for continuous scorers. The
    cumulative windows then run on that aggregate-sized table; the
    single-partition Exchange they imply moves only the tiny
    aggregate, never pair-scale rows (same policy as the EM collect,
    fellegi.py).

    Rows ordered by threshold descending, one per distinct score:
    predicting MATCH for score >= threshold yields the reported
    (pred_pairs, tp, precision, recall, f1).

    `weight_col`: `scored` is already an aggregate — each row stands
    for `weight_col` identically-scored pairs (e.g. the F-S pattern
    table, fellegi.py:scored_pattern_counts). The integer sums are
    bit-identical to running the per-pair form on the expanded table,
    so pattern-based scorers can skip materializing per-pair scores
    (guide §2.3). A NULL weight fails the query rather than silently
    dropping its pairs (the check rides the same select, no extra pass).
    """
    from pyspark.sql import Window

    weight = []
    if weight_col:
        w = F.col(weight_col).cast("long")
        ok = F.assert_true(w.isNotNull(), f"pr_curve: NULL {weight_col}")
        weight = [F.coalesce(ok, w).alias("_w")]  # ok is NULL or raises
    sel = scored.select(
        F.round(F.col(score_col), decimals).alias("threshold"),
        F.col(truth_col).cast("int").alias("_t"),
        *weight,
    )
    agg = sel.groupBy("threshold").agg(
        (F.sum("_w") if weight_col else F.count("*")).alias("_n"),
        F.sum(
            (F.col("_w") * F.col("_t")) if weight_col else F.col("_t")
        ).alias("_tp"),
    )
    cum = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    out = agg.select(
        "threshold",
        F.sum("_n").over(cum).alias("pred_pairs"),
        F.sum("_tp").over(cum).alias("tp"),
        F.sum("_tp").over(tot).alias("_pos"),
    )
    p = F.col("tp") / F.col("pred_pairs")
    r = F.when(F.col("_pos") > 0, F.col("tp") / F.col("_pos")).otherwise(
        F.lit(0.0)
    )
    return out.select(
        "threshold",
        "pred_pairs",
        "tp",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(
            F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0)), 6
        ).alias("f1"),
    )


def calibration_bins(
    scored: DataFrame,
    score_col: str = "posterior",
    truth_col: str = "is_match",
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error: equal-width
    score bins, each reporting mean predicted probability vs empirical
    match rate; `ece` (constant across rows) is the bin-size-weighted
    mean absolute gap. A probability-calibrated classifier has
    frac_true ~= avg_score per bin — the check that decides whether
    F-S posteriors (or ML probabilities) can be thresholded AS
    probabilities or only ranked.

    One groupBy to `bins` rows; the ECE window runs on that
    aggregate-sized table (same single-partition-of-a-tiny-aggregate
    policy as pr_curve)."""
    from pyspark.sql import Window

    b = F.least(
        F.floor(F.col(score_col) * bins).cast("int"), F.lit(bins - 1)
    ).alias("bin")
    agg = (
        scored.select(
            b,
            F.col(score_col).alias("_s"),
            F.col(truth_col).cast("int").alias("_t"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.avg("_s").alias("_avg_s"),
            F.avg("_t").alias("_frac"),
        )
    )
    tot = Window.partitionBy()
    gap = F.abs(F.col("_avg_s") - F.col("_frac"))
    out = agg.withColumn(
        "_ece",
        F.sum(gap * F.col("n")).over(tot) / F.sum("n").over(tot),
    )
    return out.select(
        "bin",
        "n",
        F.round("_avg_s", 6).alias("avg_score"),
        F.round("_frac", 6).alias("frac_true"),
        F.round(gap, 6).alias("gap"),
        F.round("_ece", 6).alias("ece"),
    )


def capture_recapture(
    pairs_a: DataFrame, pairs_b: DataFrame
) -> DataFrame:
    """Chapman capture-recapture estimate of the TOTAL duplicate-pair
    population from two independent blocking schemes — the standard
    trick for estimating blocking recall when no exhaustive ground
    truth exists (run two unrelated schemes, treat each as a 'capture'
    of the underlying dup population):

        N_hat = (n1 + 1)(n2 + 1) / (m + 1) - 1

    with m = pairs caught by BOTH. Implied recall of each scheme =
    n / N_hat. Orientation-normalized; ONE fused job — the tagged
    union's (id_a, id_b) groupBy dedupes each side AND marks the
    overlap, and a global aggregate folds n1/n2/m into one row
    (was three driver actions: two counts + a semi-join count, each
    re-executing its side's upstream pair-generation lineage;
    guide §1.2/§2.4). Nothing driver-side but the scalars."""
    norm = lambda df, t: df.select(  # noqa: E731
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        F.lit(t).alias("_t"),
    )
    row = (
        norm(pairs_a, 0)
        .unionByName(norm(pairs_b, 1))
        .groupBy("id_a", "id_b")
        .agg(F.min("_t").alias("_mn"), F.max("_t").alias("_mx"))
        .agg(
            F.coalesce(
                F.sum((F.col("_mn") == 0).cast("long")), F.lit(0)
            ).alias("n1"),
            F.coalesce(
                F.sum((F.col("_mx") == 1).cast("long")), F.lit(0)
            ).alias("n2"),
            F.coalesce(
                F.sum(
                    ((F.col("_mn") == 0) & (F.col("_mx") == 1)).cast("long")
                ),
                F.lit(0),
            ).alias("m"),
        )
        .collect()[0]
    )
    n1, n2, m = row["n1"], row["n2"], row["m"]
    est = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    spark = pairs_a.sparkSession
    return spark.createDataFrame(
        [(
            int(n1),
            int(n2),
            int(m),
            round(est, 6),
            round(n1 / est, 6) if est > 0 else 0.0,
            round(n2 / est, 6) if est > 0 else 0.0,
        )],
        "n1 long, n2 long, overlap long, est_total double, "
        "recall_a double, recall_b double",
    )


def transitivity_report(
    pairs: DataFrame,
    labels: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    decision_col: str = "is_match",
    id_col: str = "doc_id",
    label_col: str = "cluster",
) -> DataFrame:
    """Where the clustering overrode the pairwise classifier — the
    standard post-clustering audit (Splink's "edges vs clusters"
    view). CC forces every intra-component pair to co-resolve even
    when the classifier said non-match; non-transitive clusterers
    (pivot_clusters, star_clusters) CUT classified matches at weak
    bridges. This report names each evaluated pair's fate:

      kept_match      classifier match,     same cluster
      cut_match       classifier match,     different clusters
      forced_merge    classifier non-match, same cluster
      true_negative   classifier non-match, different clusters

    One hash join per endpoint against the label table (broadcast-able
    when labels are small; shuffle hash otherwise) — no windows, no
    self-joins. A pair endpoint absent from `labels` counts as its own
    singleton cluster (it can never share one).

    Returns (id_a, id_b, is_match, cluster_a, cluster_b, fate).
    """
    p = pairs.select(
        F.col(id_a).cast("string").alias("id_a"),
        F.col(id_b).cast("string").alias("id_b"),
        F.col(decision_col).cast("boolean").alias("is_match"),
    )
    lab = labels.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(label_col).cast("string").alias("_c"),
    )
    out = (
        p.join(lab.withColumnRenamed("_id", "id_a"), "id_a", "left")
        .withColumnRenamed("_c", "cluster_a")
        .join(lab.withColumnRenamed("_id", "id_b"), "id_b", "left")
        .withColumnRenamed("_c", "cluster_b")
        .withColumn("cluster_a", F.coalesce("cluster_a", F.col("id_a")))
        .withColumn("cluster_b", F.coalesce("cluster_b", F.col("id_b")))
    )
    same = F.col("cluster_a") == F.col("cluster_b")
    fate = (
        F.when(F.col("is_match") & same, F.lit("kept_match"))
        .when(F.col("is_match") & ~same, F.lit("cut_match"))
        .when(~F.col("is_match") & same, F.lit("forced_merge"))
        .otherwise(F.lit("true_negative"))
    )
    return out.select(
        "id_a", "id_b", "is_match", "cluster_a", "cluster_b",
        fate.alias("fate"),
    )
