"""Fellegi-Sunter probabilistic record linkage with EM parameter fitting.

The classical statistical model behind the reference's heuristic rule
cascade (reference: src/matching.py classify thresholds — the cascade
IS a hand-tuned decision rule over the same agreement evidence; F-S
replaces the hand-tuning with maximum-likelihood m/u probabilities, the
approach production linkers such as Splink use on Spark).

Model (Fellegi & Sunter 1969, binary independent comparison fields):
for each candidate pair, a k-bit agreement vector gamma; two latent
classes M (match) and U (non-match) with

    P(gamma | M) = prod_k m_k^g_k (1-m_k)^(1-g_k)
    P(gamma | U) = prod_k u_k^g_k (1-u_k)^(1-g_k)

EM estimates (lambda, m, u) from UNLABELED pairs.  The scale shape is
the whole point of this implementation:

  * ONE distributed pass — groupBy over the agreement columns — reduces
    N pairs (10^12-scale) to at most 2^k pattern rows with counts.
    Map-side combine applies; the shuffle moves <= 2^k rows per task.
  * EM then iterates on that <= 2^k-row table DRIVER-SIDE in closed
    form (the same aggregate-sized-collect policy as class weights,
    ml/model.py).  No per-iteration cluster job, no driver loop over
    big data — iteration cost is O(2^k * iters) scalar math.
  * Scoring joins the fitted per-pattern weights back by a broadcast
    join on the pattern key — the big pair table shuffles zero times
    beyond the one groupBy.

Determinism: EM starts from fixed inits and every M-step rounds the
parameters to PARAM_DECIMALS decimals, pinning the float trajectory so
an external twin (the DuckDB oracle unrolls the same iterations as
chained CTEs) reproduces it bit-for-bit after round(, 6) on outputs.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-iteration parameter rounding (both here and in any SQL twin):
# 10 decimals is far below any statistical meaning but pins the
# trajectory against summation-order float drift.
PARAM_DECIMALS = 10

DEFAULT_INIT = {"lam": 0.1, "m": 0.9, "u": 0.1}


def pattern_counts(pairs: DataFrame, fields: Sequence[str]) -> DataFrame:
    """Aggregate pairs to agreement-pattern counts (the one big pass).

    `fields` are 0/1 (or boolean) columns on `pairs`.  Output: one row
    per observed pattern with its count `n` — at most 2^k rows.
    """
    cols = [F.col(f).cast("int").alias(f) for f in fields]
    return pairs.select(*cols).groupBy(*fields).agg(F.count("*").alias("n"))


def fs_em(
    patterns: list[tuple[tuple[int, ...], int]],
    k: int,
    iters: int = 10,
    init: dict | None = None,
    fix_u: list[float] | None = None,
) -> tuple[float, list[float], list[float]]:
    """Closed-form EM over pattern counts (driver-side, <= 2^k rows).

    patterns: [(gamma_tuple, count), ...].  Returns (lambda, m[k], u[k])
    after `iters` iterations, each M-step rounded to PARAM_DECIMALS.

    fix_u: hold the u-probabilities at these externally estimated
    values and update only (lambda, m). This is the standard guard
    (Splink's fix-u EM) against the match-rich-candidates degeneracy:
    blocked candidate sets are mostly matches, so free EM can lock the
    "non-match" class onto the partial-agreement MATCH modes; u
    estimated from random record pairs (almost all true non-matches)
    keeps the classes anchored.
    """
    ini = init or DEFAULT_INIT
    lam = float(ini["lam"])
    m = [float(ini["m"])] * k
    u = list(fix_u) if fix_u is not None else [float(ini["u"])] * k
    # clamp guards: keep probabilities in (eps, 1-eps) so log-weights
    # stay finite when a field agrees on every pair (degenerate data)
    eps = 1e-9

    for _ in range(iters):
        sw = 0.0  # sum n*w
        sn = 0.0  # sum n
        swg = [0.0] * k  # sum n*w*g_k
        svg = [0.0] * k  # sum n*(1-w)*g_k
        for g, n in patterns:
            pm, pu = lam, 1.0 - lam
            for j in range(k):
                pm *= m[j] if g[j] else (1.0 - m[j])
                pu *= u[j] if g[j] else (1.0 - u[j])
            w = pm / (pm + pu) if (pm + pu) > 0 else 0.0
            sw += n * w
            sn += n
            for j in range(k):
                if g[j]:
                    swg[j] += n * w
                    svg[j] += n * (1.0 - w)
        lam = round(min(max(sw / sn, eps), 1 - eps), PARAM_DECIMALS)
        for j in range(k):
            m[j] = round(min(max(swg[j] / sw, eps), 1 - eps), PARAM_DECIMALS)
            if fix_u is None:
                u[j] = round(
                    min(max(svg[j] / (sn - sw), eps), 1 - eps),
                    PARAM_DECIMALS,
                )
    return lam, m, u


def _collect_patterns(
    pairs: DataFrame, fields: Sequence[str]
) -> list[tuple[tuple[int, ...], int]]:
    """Run the one pattern-count pass and collect it driver-side
    (<= 2^k rows — an aggregate-sized collect): [(gamma, n), ...]."""
    rows = pattern_counts(pairs, fields).collect()
    return [(tuple(int(r[f]) for f in fields), int(r["n"])) for r in rows]


def _score_patterns(
    pats: list[tuple[tuple[int, ...], int]],
    lam: float,
    m: list[float],
    u: list[float],
) -> list[tuple[tuple[int, ...], float, float]]:
    """Per pattern (gamma, log2 match weight, posterior) under fitted
    (lam, m, u) — the one scoring arithmetic behind both fellegi_sunter
    and scored_pattern_counts, so the two agree by construction."""
    out = []
    for g, _n in pats:
        wlog = 0.0
        pm, pu = lam, 1.0 - lam
        for j in range(len(g)):
            if g[j]:
                wlog += math.log2(m[j] / u[j])
                pm *= m[j]
                pu *= u[j]
            else:
                wlog += math.log2((1.0 - m[j]) / (1.0 - u[j]))
                pm *= 1.0 - m[j]
                pu *= 1.0 - u[j]
        out.append((g, float(wlog), float(pm / (pm + pu))))
    return out


def fit_params(
    pairs: DataFrame,
    fields: Sequence[str],
    iters: int = 10,
    init: dict | None = None,
) -> tuple[float, list[float], list[float]]:
    """Run the one distributed pattern-count pass + driver EM and
    return the fitted (lambda, m, u)."""
    pats = _collect_patterns(pairs, fields)
    return fs_em(pats, len(fields), iters=iters, init=init)


def scored_pattern_counts(
    pairs: DataFrame,
    fields: Sequence[str],
    iters: int = 10,
    init: dict | None = None,
    fix_u: list[float] | None = None,
) -> DataFrame:
    """The pattern-level view of fellegi_sunter: ONE distributed
    pattern-count pass + driver EM, returning the <= 2^k OBSERVED
    patterns with their counts and the fitted per-pattern
    match_weight/posterior — the same Python scoring arithmetic
    fellegi_sunter broadcasts, with `n` attached.

    For consumers whose output is a pure aggregate of the scored pairs
    (a PR sweep, threshold counts), this skips the per-pair broadcast
    score join and its re-aggregation entirely: the pair table is
    traversed once instead of twice, and everything downstream runs on
    an aggregate-sized table (guide §2.3: aggregate before you
    shuffle). Integer-count aggregates over this table are
    bit-identical to aggregating the per-pair scored output."""
    pats = _collect_patterns(pairs, fields)
    lam, m, u = fs_em(pats, len(fields), iters=iters, init=init, fix_u=fix_u)
    weights = _score_patterns(pats, lam, m, u)
    scored = [g + (n, w, p) for (g, w, p), (_, n) in zip(weights, pats)]
    schema = (
        ", ".join(f"{f} int" for f in fields)
        + ", n long, match_weight double, posterior double"
    )
    return pairs.sparkSession.createDataFrame(scored, schema)


def fellegi_sunter(
    pairs: DataFrame,
    fields: Sequence[str],
    iters: int = 10,
    init: dict | None = None,
    fix_u: list[float] | None = None,
    params: tuple[float, list[float], list[float]] | None = None,
) -> DataFrame:
    """Fit F-S by EM and score every pair.

    Adds `match_weight` (sum over fields of log2(m/u) when the field
    agrees, log2((1-m)/(1-u)) when it disagrees) and `posterior`
    (P(M | gamma) under the fitted model).  One groupBy + one broadcast
    join; see module docstring for the scale argument.  fix_u: see
    fs_em.

    `params`: pre-fitted (lambda, m, u) from fit_params — skips the
    pattern-count pass entirely (a caller that needs the parameters
    AND the scored pairs otherwise aggregates the pair table twice)
    and scores all 2^k patterns instead of the observed subset; the
    unobserved rows simply never join, so output is identical.
    """
    import itertools

    k = len(fields)
    if params is not None:
        lam, m, u = params
        pats = [(g, 0) for g in itertools.product((0, 1), repeat=k)]
    else:
        pats = _collect_patterns(pairs, fields)
        lam, m, u = fs_em(pats, k, iters=iters, init=init, fix_u=fix_u)

    # score each observed pattern once, broadcast-join back by pattern
    scored = [g + (w, p) for g, w, p in _score_patterns(pats, lam, m, u)]
    spark = pairs.sparkSession
    schema = (
        ", ".join(f"{f} int" for f in fields)
        + ", match_weight double, posterior double"
    )
    weights = spark.createDataFrame(scored, schema)

    keyed = pairs.select(
        "*", *[F.col(f).cast("int").alias(f"_g_{f}") for f in fields]
    )
    w = weights.select(
        *[F.col(f).alias(f"_g_{f}") for f in fields],
        "match_weight",
        "posterior",
    )
    return keyed.join(
        F.broadcast(w), [f"_g_{f}" for f in fields], "left"
    ).drop(*[f"_g_{f}" for f in fields])


def fs_oracle_cte(
    fields: Sequence[str],
    pairs_cte: str,
    iters: int = 10,
    init: dict | None = None,
) -> str:
    """Emit the DuckDB twin of pattern_counts + fs_em + scoring as SQL.

    `pairs_cte` must be the name of an in-scope CTE/view with the 0/1
    agreement columns.  The EM loop is unrolled: each iteration is one
    weights CTE + one single-row params CTE over the <= 2^k pattern
    rows (MATERIALIZED, per the DuckDB-iteration-twin convention), with
    the identical PARAM_DECIMALS rounding.  Returns SQL whose final
    SELECT yields (fields..., match_weight, posterior) per pattern —
    join it back to pairs in the caller for per-pair output.
    """
    ini = init or DEFAULT_INIT
    k = len(fields)
    gl = ", ".join(fields)
    parts = [
        f"pats as materialized (select {gl}, count(*)::double as n "
        f"from {pairs_cte} group by {gl})"
    ]
    m0 = ", ".join(
        f"{ini['m']}::double as m{j}, {ini['u']}::double as u{j}"
        for j in range(k)
    )
    parts.append(
        f"par0 as materialized (select {ini['lam']}::double as lam, {m0})"
    )
    for i in range(1, iters + 1):
        p = f"par{i - 1}"
        pm = " * ".join(
            f"(case when {fields[j]} = 1 then {p}.m{j} else 1 - {p}.m{j} end)"
            for j in range(k)
        )
        pu = " * ".join(
            f"(case when {fields[j]} = 1 then {p}.u{j} else 1 - {p}.u{j} end)"
            for j in range(k)
        )
        parts.append(
            f"e{i} as materialized (select pats.*, "
            f"{p}.lam * {pm} as pm, (1 - {p}.lam) * {pu} as pu "
            f"from pats, {p})"
        )
        parts.append(
            f"w{i} as materialized (select *, "
            f"case when pm + pu > 0 then pm / (pm + pu) else 0 end as w "
            f"from e{i})"
        )
        upd = ", ".join(
            f"round(least(greatest("
            f"sum(n * w * {fields[j]}) / sum(n * w), 1e-9), 1 - 1e-9), "
            f"{PARAM_DECIMALS}) as m{j}, "
            f"round(least(greatest("
            f"sum(n * (1 - w) * {fields[j]}) / sum(n * (1 - w)), 1e-9), "
            f"1 - 1e-9), {PARAM_DECIMALS}) as u{j}"
            for j in range(k)
        )
        parts.append(
            f"par{i} as materialized (select "
            f"round(least(greatest(sum(n * w) / sum(n), 1e-9), 1 - 1e-9), "
            f"{PARAM_DECIMALS}) as lam, {upd} from w{i})"
        )
    p = f"par{iters}"
    wsum = " + ".join(
        f"(case when {fields[j]} = 1 then log2({p}.m{j} / {p}.u{j}) "
        f"else log2((1 - {p}.m{j}) / (1 - {p}.u{j})) end)"
        for j in range(k)
    )
    pm = " * ".join(
        f"(case when {fields[j]} = 1 then {p}.m{j} else 1 - {p}.m{j} end)"
        for j in range(k)
    )
    pu = " * ".join(
        f"(case when {fields[j]} = 1 then {p}.u{j} else 1 - {p}.u{j} end)"
        for j in range(k)
    )
    parts.append(
        f"fs_scores as materialized (select {gl}, "
        f"{wsum} as match_weight, "
        f"({p}.lam * {pm}) / ({p}.lam * {pm} + (1 - {p}.lam) * {pu}) "
        f"as posterior from pats, {p})"
    )
    return ",\n".join(parts)


def tf_adjusted_weights(
    scored: DataFrame,
    records: DataFrame,
    id_col: str,
    value_col: str,
    g_col: str,
    u_global: float,
    min_u: float = 1e-9,
) -> DataFrame:
    """Term-frequency adjustment for an exact-agreement field (the
    Splink refinement of F-S): the fitted u is an AVERAGE collision
    probability, but agreeing on a common value ('gmail.com') is far
    weaker evidence than agreeing on a rare one. For the value v the
    pair agrees on, the value-specific collision probability is v's
    share of records, so the agreement weight shifts by

        tf_adj = log2(u_global / u_v),   u_v = freq(v) / N

    (positive for rare values, negative for stop-value collisions);
    disagreeing pairs are untouched.

    Plan: one groupBy(value) frequency table + scalar total (broadcast
    crossJoin), one hydration join of the pair's side-a value (equal to
    side-b whenever the flag is 1, so one side suffices), one equi-join
    on value. All shuffle keys are the value or the pair id — no new
    skew beyond the value distribution itself, which is exactly what
    the adjustment measures.

    Adds: tf_adj, match_weight_tf = match_weight + tf_adj.
    """
    freq = records.groupBy(value_col).agg(F.count("*").alias("_vcnt"))
    tot = records.agg(F.count("*").alias("_vtot"))
    share = (
        freq.crossJoin(F.broadcast(tot))
        .select(
            F.col(value_col).alias("_val_a"),
            (F.col("_vcnt") / F.col("_vtot")).alias("_u_v"),
        )
    )
    a_val = records.select(
        F.col(id_col).alias("id_a"), F.col(value_col).alias("_val_a")
    )
    out = scored.join(a_val, "id_a").join(share, "_val_a", "left")
    adj = F.when(
        F.col(g_col) == 1,
        F.log2(F.lit(u_global) / F.coalesce(F.col("_u_v"), F.lit(min_u))),
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("tf_adj", adj)
        .withColumn("match_weight_tf", F.col("match_weight") + F.col("tf_adj"))
        .drop("_val_a", "_u_v")
    )


def review_queue(
    scored: DataFrame,
    k: int = 100,
    posterior_col: str = "posterior",
) -> DataFrame:
    """Clerical-review prioritization by uncertainty sampling: the k
    pairs whose posterior sits closest to 0.5 — reviewing these buys
    the most model improvement per human label (the active-learning
    step of every production linkage loop). orderBy + limit compiles
    to TakeOrderedAndProject: per-partition top-k then a k-row merge,
    never a global sort. Ties (patterns share posteriors — there are
    at most 2^k distinct values) break on (id_a, id_b)."""
    unc = F.round(F.abs(F.col(posterior_col) - 0.5), 6).alias("uncertainty")
    return (
        scored.select("*", unc)
        .orderBy(F.col("uncertainty").asc(), "id_a", "id_b")
        .limit(k)
    )


def explain_weights(
    pairs: DataFrame,
    fields: Sequence[str],
    m: Sequence[float],
    u: Sequence[float],
) -> DataFrame:
    """Per-field match-weight waterfall (the explainability view
    production linkers expose per pair — Splink's waterfall chart):
    each field contributes log2(m/u) when it agrees and
    log2((1-m)/(1-u)) when it disagrees; the total is the pair's
    match_weight. The fitted (m, u) arrive as plain floats (from
    fit_params), so this compiles to a pure literal-branch projection
    — zero shuffles, whole-stage codegen, no join at all (the <=2^k
    broadcast in fellegi_sunter exists to attach posteriors; a
    waterfall needs only the per-field terms)."""
    cols = []
    total = F.lit(0.0)
    for j, f in enumerate(fields):
        wa = math.log2(m[j] / u[j])
        wd = math.log2((1.0 - m[j]) / (1.0 - u[j]))
        term = F.when(F.col(f).cast("int") == 1, F.lit(wa)).otherwise(
            F.lit(wd)
        )
        cols.append(F.round(term, 6).alias(f"w_{f}"))
        total = total + term
    return pairs.select(
        "*", *cols, F.round(total, 6).alias("match_weight_sum")
    )


# ---------------------------------------------------------------------------
# Multi-level gamma F-S with missing-data handling (the Splink model)
# ---------------------------------------------------------------------------
#
# Production linkers compare fields at CATEGORICAL levels (exact /
# close / disagree ...) rather than binary agree/disagree, and treat a
# NULL comparison (field not collected on either side) as NO EVIDENCE:
# the pair's likelihood simply omits that field, and the field's
# m/u estimation normalizes over observed pairs only. Same scale shape
# as the binary model: one groupBy reduces N pairs to at most
# prod(levels_j + 1) pattern rows (missing is one extra symbol), EM
# iterates driver-side in closed form, scoring is a broadcast join.

MISSING = -1


def multilevel_init(levels: int) -> tuple[list[float], list[float]]:
    """Deterministic symmetry-breaking init for one field: m puts
    geometric mass on HIGH (more-agreeing) levels, u the mirror image
    — m_l ~ 2^l, u_l ~ 2^(L-1-l), each normalized and rounded to
    PARAM_DECIMALS so a SQL twin can interpolate the exact literals."""
    wm = [2.0 ** l for l in range(levels)]
    s = sum(wm)
    m = [round(x / s, PARAM_DECIMALS) for x in wm]
    return m, list(reversed(m))


def fs_em_multilevel(
    patterns: list[tuple[tuple[int, ...], int]],
    levels: Sequence[int],
    iters: int = 10,
    lam0: float = 0.1,
) -> tuple[float, list[list[float]], list[list[float]]]:
    """Closed-form EM over multi-level pattern counts (driver-side).

    patterns: [(gamma_tuple, count)] with gamma_j in {MISSING, 0, ...,
    levels[j]-1}.  Returns (lambda, m[j][l], u[j][l]); missing entries
    contribute neither to the E-step likelihood nor to the field's
    M-step normalizer.  Every M-step rounds to PARAM_DECIMALS (same
    trajectory-pinning contract as fs_em).
    """
    k = len(levels)
    inits = [multilevel_init(levels_j) for levels_j in levels]
    m = [list(mi) for mi, _ in inits]
    u = [list(ui) for _, ui in inits]
    lam = float(lam0)
    eps = 1e-9

    for _ in range(iters):
        sw = 0.0
        sn = 0.0
        smg = [[0.0] * levels[j] for j in range(k)]
        sug = [[0.0] * levels[j] for j in range(k)]
        obs_m = [0.0] * k  # sum n*w over patterns with field observed
        obs_u = [0.0] * k
        for g, n in patterns:
            pm, pu = lam, 1.0 - lam
            for j in range(k):
                if g[j] != MISSING:
                    pm *= m[j][g[j]]
                    pu *= u[j][g[j]]
            w = pm / (pm + pu) if (pm + pu) > 0 else 0.0
            sw += n * w
            sn += n
            for j in range(k):
                if g[j] != MISSING:
                    smg[j][g[j]] += n * w
                    sug[j][g[j]] += n * (1.0 - w)
                    obs_m[j] += n * w
                    obs_u[j] += n * (1.0 - w)
        lam = round(min(max(sw / sn, eps), 1 - eps), PARAM_DECIMALS)
        for j in range(k):
            for lv in range(levels[j]):
                m[j][lv] = round(
                    min(max(smg[j][lv] / obs_m[j], eps), 1 - eps),
                    PARAM_DECIMALS,
                )
                u[j][lv] = round(
                    min(max(sug[j][lv] / obs_u[j], eps), 1 - eps),
                    PARAM_DECIMALS,
                )
    return lam, m, u


def fellegi_sunter_multilevel(
    pairs: DataFrame,
    fields: Sequence[str],
    levels: Sequence[int],
    iters: int = 10,
    lam0: float = 0.1,
) -> DataFrame:
    """Fit the multi-level missing-aware F-S model by EM and score
    every pair: adds `match_weight` (sum over OBSERVED fields of
    log2(m_l/u_l); missing fields add 0) and `posterior`.  NULL field
    values mark the comparison as missing.  One groupBy + one
    broadcast join, exactly like the binary fellegi_sunter."""
    k = len(fields)
    key = [
        F.coalesce(F.col(f).cast("int"), F.lit(MISSING)).alias(f)
        for f in fields
    ]
    pat_df = pairs.select(*key).groupBy(*fields).agg(
        F.count("*").alias("n")
    )
    rows = pat_df.collect()  # <= prod(levels+1) rows
    pats = [
        (tuple(int(r[f]) for f in fields), int(r["n"])) for r in rows
    ]
    lam, m, u = fs_em_multilevel(pats, levels, iters=iters, lam0=lam0)

    scored = []
    for g, _n in pats:
        wlog = 0.0
        pm, pu = lam, 1.0 - lam
        for j in range(k):
            if g[j] != MISSING:
                wlog += math.log2(m[j][g[j]] / u[j][g[j]])
                pm *= m[j][g[j]]
                pu *= u[j][g[j]]
        scored.append(tuple(g) + (float(wlog), float(pm / (pm + pu))))
    spark = pairs.sparkSession
    schema = (
        ", ".join(f"{f} int" for f in fields)
        + ", match_weight double, posterior double"
    )
    weights = spark.createDataFrame(scored, schema)

    keyed = pairs.select(
        "*",
        *[
            F.coalesce(F.col(f).cast("int"), F.lit(MISSING)).alias(
                f"_g_{f}"
            )
            for f in fields
        ],
    )
    w = weights.select(
        *[F.col(f).alias(f"_g_{f}") for f in fields],
        "match_weight",
        "posterior",
    )
    return keyed.join(
        F.broadcast(w), [f"_g_{f}" for f in fields], "left"
    ).drop(*[f"_g_{f}" for f in fields])


def fs_ml_oracle_cte(
    fields: Sequence[str],
    levels: Sequence[int],
    pairs_cte: str,
    iters: int = 10,
    lam0: float = 0.1,
) -> str:
    """DuckDB twin of the multi-level EM + scoring, unrolled like
    fs_oracle_cte: gamma columns of `pairs_cte` may be NULL (missing);
    pats coalesces to -1; each iteration is one weights CTE + one
    params CTE with per-(field, level) m{j}_{l}/u{j}_{l} columns and
    the identical PARAM_DECIMALS rounding; final fs_scores yields
    (fields..., match_weight, posterior) per pattern."""
    k = len(fields)
    gl = ", ".join(f"coalesce({f}, -1) as {f}" for f in fields)
    names = ", ".join(fields)
    parts = [
        f"pats as materialized (select {gl}, count(*)::double as n "
        f"from {pairs_cte} group by all)"
    ]
    init_cols = []
    for j in range(k):
        mi, ui = multilevel_init(levels[j])
        for lv in range(levels[j]):
            init_cols.append(f"{mi[lv]!r}::double as m{j}_{lv}")
            init_cols.append(f"{ui[lv]!r}::double as u{j}_{lv}")
    parts.append(
        f"par0 as materialized (select {lam0!r}::double as lam, "
        + ", ".join(init_cols)
        + ")"
    )

    def _prob(p: str, which: str) -> str:
        terms = []
        for j, f in enumerate(fields):
            case = " ".join(
                f"when {lv} then {p}.{which}{j}_{lv}"
                for lv in range(levels[j])
            )
            terms.append(f"(case {f} {case} else 1.0 end)")
        return " * ".join(terms)

    for i in range(1, iters + 1):
        p = f"par{i - 1}"
        parts.append(
            f"e{i} as materialized (select pats.*, "
            f"{p}.lam * {_prob(p, 'm')} as pm, "
            f"(1 - {p}.lam) * {_prob(p, 'u')} as pu from pats, {p})"
        )
        parts.append(
            f"w{i} as materialized (select *, "
            f"case when pm + pu > 0 then pm / (pm + pu) else 0 end as w "
            f"from e{i})"
        )
        upd = []
        for j, f in enumerate(fields):
            for lv in range(levels[j]):
                upd.append(
                    f"round(least(greatest("
                    f"sum(n * w * ({f} = {lv})::int) "
                    f"/ sum(n * w * ({f} >= 0)::int), 1e-9), 1 - 1e-9), "
                    f"{PARAM_DECIMALS}) as m{j}_{lv}"
                )
                upd.append(
                    f"round(least(greatest("
                    f"sum(n * (1 - w) * ({f} = {lv})::int) "
                    f"/ sum(n * (1 - w) * ({f} >= 0)::int), 1e-9), "
                    f"1 - 1e-9), {PARAM_DECIMALS}) as u{j}_{lv}"
                )
        parts.append(
            f"par{i} as materialized (select "
            f"round(least(greatest(sum(n * w) / sum(n), 1e-9), 1 - 1e-9), "
            f"{PARAM_DECIMALS}) as lam, " + ", ".join(upd) + f" from w{i})"
        )
    p = f"par{iters}"
    wsum = []
    for j, f in enumerate(fields):
        case = " ".join(
            f"when {lv} then log2({p}.m{j}_{lv} / {p}.u{j}_{lv})"
            for lv in range(levels[j])
        )
        wsum.append(f"(case {f} {case} else 0.0 end)")
    parts.append(
        f"fs_scores as materialized (select {names}, "
        + " + ".join(wsum)
        + f" as match_weight, ({p}.lam * {_prob(p, 'm')}) / "
        f"({p}.lam * {_prob(p, 'm')} + (1 - {p}.lam) * {_prob(p, 'u')}) "
        f"as posterior from pats, {p})"
    )
    return ",\n".join(parts)
