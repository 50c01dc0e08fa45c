"""String-similarity kernels pinned to jellyfish semantics.

The reference scores candidate pairs with jellyfish
(/root/reference/src/matching.py:263-293): Jaro-Winkler for
emails/names, plain Levenshtein for addresses, Damerau-Levenshtein (full,
with transpositions) for national ids. jellyfish is not available here,
so the kernels are reimplemented from the published algorithm
definitions and verified in tests against DuckDB's implementations
(which agree with jellyfish on the boost-threshold and empty-string
conventions):

  * empty vs anything   -> 0.0 (both empty included)
  * Winkler prefix boost (p=0.1, max prefix 4) applied only when the
    Jaro score exceeds 0.7
  * Damerau-Levenshtein is the unrestricted variant (a transposition
    costs 1 and may be followed by further edits)

These are scalar Python kernels invoked from Arrow-batched pandas UDFs
(`batch_*` wrappers below) — each UDF call scores thousands of pairs per
Arrow batch, so the per-call Python overhead is amortized; strings on
the hot path (hostnames, titles, url slugs) are short. Spark's built-in
``F.levenshtein`` is used where plain Levenshtein suffices (it matches
this module; see tests), keeping that feature fully JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def jaro_similarity(s1: str, s2: str) -> float:
    """Jaro similarity; 0.0 if either string is empty."""
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0

    search_range = max(len1, len2) // 2 - 1
    if search_range < 0:
        search_range = 0

    flags1 = [False] * len1
    flags2 = [False] * len2

    common = 0
    for i, ch in enumerate(s1):
        lo = i - search_range
        if lo < 0:
            lo = 0
        hi = i + search_range
        if hi > len2 - 1:
            hi = len2 - 1
        for j in range(lo, hi + 1):
            if not flags2[j] and s2[j] == ch:
                flags1[i] = True
                flags2[j] = True
                common += 1
                break
    if common == 0:
        return 0.0

    # transpositions: compare matched chars in order
    trans = 0
    k = 0
    for i in range(len1):
        if flags1[i]:
            j = k
            while not flags2[j]:
                j += 1
            k = j + 1
            if s1[i] != s2[j]:
                trans += 1
    trans //= 2

    c = float(common)
    return (c / len1 + c / len2 + (c - trans) / c) / 3.0


def jaro_winkler_similarity(s1: str, s2: str) -> float:
    """Jaro-Winkler with p=0.1, prefix<=4, boost only when jaro > 0.7."""
    w = jaro_similarity(s1, s2)
    if w > 0.7:
        max_prefix = min(len(s1), len(s2), 4)
        prefix = 0
        while prefix < max_prefix and s1[prefix] == s2[prefix]:
            prefix += 1
        if prefix:
            w += prefix * 0.1 * (1.0 - w)
    return w


def levenshtein_distance(s1: str, s2: str) -> int:
    """Plain Levenshtein (insert/delete/substitute, unit costs)."""
    if s1 == s2:
        return 0
    len1, len2 = len(s1), len(s2)
    if len1 == 0:
        return len2
    if len2 == 0:
        return len1
    if len1 < len2:  # iterate over the longer string, row = shorter
        s1, s2, len1, len2 = s2, s1, len2, len1
    prev = list(range(len2 + 1))
    cur = [0] * (len2 + 1)
    for i in range(1, len1 + 1):
        cur[0] = i
        c1 = s1[i - 1]
        for j in range(1, len2 + 1):
            cost = 0 if c1 == s2[j - 1] else 1
            a = prev[j] + 1
            b = cur[j - 1] + 1
            c = prev[j - 1] + cost
            if b < a:
                a = b
            if c < a:
                a = c
            cur[j] = a
        prev, cur = cur, prev
    return prev[len2]


def damerau_levenshtein_distance(s1: str, s2: str) -> int:
    """Unrestricted Damerau-Levenshtein (true transposition edits).

    Matches jellyfish.damerau_levenshtein_distance and DuckDB
    damerau_levenshtein — NOT the restricted OSA variant (e.g.
    'a cat' -> 'a abct' is distance 2 here, 3 under OSA).
    """
    if s1 == s2:
        return 0
    len1, len2 = len(s1), len(s2)
    if len1 == 0:
        return len2
    if len2 == 0:
        return len1

    infinite = len1 + len2
    da: dict[str, int] = {}
    score = [[0] * (len2 + 2) for _ in range(len1 + 2)]
    score[0][0] = infinite
    for i in range(len1 + 1):
        score[i + 1][0] = infinite
        score[i + 1][1] = i
    for j in range(len2 + 1):
        score[0][j + 1] = infinite
        score[1][j + 1] = j

    for i in range(1, len1 + 1):
        db = 0
        row = score[i + 1]
        for j in range(1, len2 + 1):
            i1 = da.get(s2[j - 1], 0)
            j1 = db
            if s1[i - 1] == s2[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            row[j + 1] = min(
                score[i][j] + cost,
                row[j] + 1,
                score[i][j + 1] + 1,
                score[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),
            )
        da[s1[i - 1]] = i
    return score[len1 + 1][len2 + 1]


# ---------------------------------------------------------------------------
# Normalized 0-1 scores, reference conventions
# (/root/reference/src/matching.py:263-293)
# ---------------------------------------------------------------------------


def normalized_edit_score(s1: str, s2: str, damerau: bool = False) -> float:
    """1 - dist/max_len; 0.0 when either side is empty."""
    if not s1 or not s2:
        return 0.0
    dist = (
        damerau_levenshtein_distance(s1, s2)
        if damerau
        else levenshtein_distance(s1, s2)
    )
    if dist == 0:
        return 1.0
    max_len = max(len(s1), len(s2))
    return 1.0 - dist / max_len


def token_jaccard(s1: str, s2: str) -> float:
    """Jaccard similarity of whitespace-token sets; 0.0 if either empty."""
    t1 = set(s1.split())
    t2 = set(s2.split())
    if not t1 or not t2:
        return 0.0
    inter = len(t1 & t2)
    if inter == 0:
        return 0.0
    return inter / (len(t1) + len(t2) - inter)


# ---------------------------------------------------------------------------
# Arrow-batched wrappers: pd.Series -> pd.Series, used inside pandas UDFs.
# ---------------------------------------------------------------------------


def _as_str(s: pd.Series) -> pd.Series:
    return s.fillna("").astype(str)


# Above this (len1+1)*(len2+1) product a pair is scored by the scalar
# kernel instead of joining the batch code-point matrix — keeps one
# pathological long string from inflating the whole batch's matrices.
_JW_VEC_CELL_CAP = 65536


def _codepoints(strs: np.ndarray, width: int) -> np.ndarray:
    """(n,) unicode array -> (n, width) uint32 code-point matrix,
    zero-padded (0 is not a valid char in these normalized fields)."""
    n = len(strs)
    if width == 0:
        return np.zeros((n, 1), dtype=np.uint32)
    return (
        strs.astype(f"U{width}")
        .view(np.uint32)
        .reshape(n, width)
    )


def _ranks_within_rows(r: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """r = row ids of nonzero cells in row-major order; counts = number
    of nonzero cells per row. Returns each cell's rank within its row
    (0,1,2,... restarting per row) without an (n, L) cumsum."""
    offsets = np.cumsum(counts) - counts
    return np.arange(r.size, dtype=np.int64) - np.repeat(offsets, counts)


def _jaro_winkler_block(sa: np.ndarray, sb: np.ndarray) -> np.ndarray:
    """Vectorized Jaro-Winkler over two (n,) unicode arrays — the whole
    batch advances through the match/transposition passes together; no
    per-pair Python function calls (input_hint: no per-row Python).
    Bit-exact vs jaro_winkler_similarity (tests/test_similarity.py).

    Strategy: rows sorted by len1 desc so step i touches only the
    prefix slice of still-active pairs; each step builds one
    (active, l2m) eligibility mask (char equality ∧ window ∧ not yet
    matched) and takes its argmax — the greedy 'first unflagged j'.
    ASCII batches compare as uint8 (4x less bandwidth)."""
    n = len(sa)
    len1 = np.char.str_len(sa).astype(np.int64)
    len2 = np.char.str_len(sb).astype(np.int64)
    out = np.zeros(n, dtype=np.float64)
    valid = (len1 > 0) & (len2 > 0)
    if not valid.any():
        return out

    # sort by len1 desc: at step i the active pairs are a prefix slice
    order = np.argsort(-len1, kind="stable")
    len1 = len1[order]
    len2 = len2[order]
    valid_s = valid[order]

    l1m = int(len1.max())
    l2m = max(int(len2.max()), 1)
    A = _codepoints(sa[order], l1m)
    B = _codepoints(sb[order], l2m)
    if A.max(initial=0) < 256 and B.max(initial=0) < 256:
        # pure-ASCII/Latin-1 batch: compare single bytes
        A_cmp = A.astype(np.uint8)
        B_cmp = B.astype(np.uint8)
    else:
        A_cmp, B_cmp = A, B

    search = np.maximum(np.maximum(len1, len2) // 2 - 1, 0)
    i_idx = np.arange(max(l1m, 1), dtype=np.int64)
    j_idx = np.arange(l2m, dtype=np.int64)

    flags1 = np.zeros((n, max(l1m, 1)), dtype=bool)
    avail = np.ones((n, l2m), dtype=bool)  # s2 chars not yet matched
    avail &= j_idx[None, :] < len2[:, None]
    common = np.zeros(n, dtype=np.int64)
    # number of active pairs per step (len1 sorted desc): side="left"
    # counts strictly len1 > i — a pair with len1 == i has no char at
    # index i, only zero padding, and a literal NUL in the other string
    # could match that padding and inflate `common` past len1
    n_active = np.searchsorted(-len1, -i_idx, side="left")
    lo_all = i_idx[None, :] - search[:, None]  # (n, l1m) window lows
    arange_n = np.arange(n)

    for i in range(l1m):
        k = int(n_active[i])
        if k == 0:
            break
        elig = np.equal(B_cmp[:k], A_cmp[:k, i, None])
        elig &= avail[:k]
        lo = lo_all[:k, i]
        elig &= j_idx[None, :] >= lo[:, None]
        elig &= j_idx[None, :] <= (lo + 2 * search[:k])[:, None]
        first = elig.argmax(axis=1)
        rows = np.nonzero(elig[arange_n[:k], first])[0]
        if rows.size:
            flags1[rows, i] = True
            avail[rows, first[rows]] = False
            common[rows] += 1
    flags2 = (j_idx[None, :] < len2[:, None]) & ~avail

    # transpositions: compact matched chars of each side in order
    trans = np.zeros(n, dtype=np.int64)
    mc = int(common.max()) if n else 0
    if mc > 0:
        mat_a = np.zeros((n, mc), dtype=np.uint32)
        mat_b = np.zeros((n, mc), dtype=np.uint32)
        r, c = np.nonzero(flags1)
        mat_a[r, _ranks_within_rows(r, common)] = A[r, c]
        r, c = np.nonzero(flags2)
        mat_b[r, _ranks_within_rows(r, common)] = B[r, c]
        pos = np.arange(mc)[None, :]
        trans = (
            ((mat_a != mat_b) & (pos < common[:, None])).sum(axis=1) // 2
        )

    has = common > 0
    cf = common.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (cf / len1 + cf / len2 + (cf - trans) / cf) / 3.0
    out_s = np.zeros(n, dtype=np.float64)
    out_s[has] = jaro[has]
    out_s[~valid_s] = 0.0
    # Winkler boost happens in sorted space; un-sort at the end
    out_s = _winkler_boost(out_s, A, B, len1, len2, l1m, l2m)
    out[order] = out_s
    return out


def _winkler_boost(
    jaro: np.ndarray,
    A: np.ndarray,
    B: np.ndarray,
    len1: np.ndarray,
    len2: np.ndarray,
    l1m: int,
    l2m: int,
) -> np.ndarray:
    boost = jaro > 0.7
    if not boost.any():
        return jaro
    A4 = A[:, :4] if l1m >= 4 else np.pad(A, ((0, 0), (0, 4 - l1m)))
    B4 = B[:, :4] if l2m >= 4 else np.pad(B, ((0, 0), (0, 4 - l2m)))
    max_pref = np.minimum(np.minimum(len1, len2), 4)
    lead = np.cumprod(A4 == B4, axis=1).astype(bool)
    prefix = (lead & (np.arange(4)[None, :] < max_pref[:, None])).sum(axis=1)
    return np.where(boost, jaro + prefix * 0.1 * (1.0 - jaro), jaro)


def batch_jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    a = _as_str(a)
    b = _as_str(b)
    sa = a.to_numpy(dtype=object)
    sb = b.to_numpy(dtype=object)
    n = len(sa)
    la = np.fromiter((len(x) for x in sa), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in sb), dtype=np.int64, count=n)
    out = np.zeros(n, dtype=np.float64)
    # fast paths: empty side -> 0.0; identical strings -> 1.0 (candidate
    # batches are full of exact-equal fields inside a block)
    equal = np.equal(sa, sb) & (la > 0)
    out[equal] = 1.0
    todo = ~equal & (la > 0) & (lb > 0)
    # numpy U-dtype cannot represent TRAILING NULs (indistinguishable
    # from padding), so NUL-bearing strings take the scalar kernel
    has_nul = np.fromiter(
        (("\x00" in x) or ("\x00" in y) for x, y in zip(sa, sb)),
        dtype=bool,
        count=n,
    )
    long_mask = todo & (((la + 1) * (lb + 1) > _JW_VEC_CELL_CAP) | has_nul)
    vec_mask = todo & ~long_mask
    if vec_mask.any():
        out[vec_mask] = _jaro_winkler_block(
            np.asarray(sa[vec_mask], dtype=np.str_),
            np.asarray(sb[vec_mask], dtype=np.str_),
        )
    if long_mask.any():  # rare outliers: scalar kernel, same semantics
        idx = np.nonzero(long_mask)[0]
        for i in idx:
            out[i] = jaro_winkler_similarity(sa[i], sb[i])
    return pd.Series(out, index=a.index, dtype="float64")


# Above this (len1+1)*(len2+1) product a pair falls back to the scalar
# DP (keeps one pathological long string from inflating the whole
# batch's DP tensor); vectorized pairs process in chunks of _EDIT_CHUNK
# rows so the (n, L1+2, L2+2) Damerau score tensor stays ~tens of MB.
_EDIT_VEC_CELL_CAP = 4096
_EDIT_CHUNK = 2048


def _edit_distance_block(
    sa: np.ndarray, sb: np.ndarray, damerau: bool
) -> np.ndarray:
    """Vectorized (Damerau-)Levenshtein distances over two (n,) unicode
    arrays: the whole batch advances through the Wagner-Fischer DP
    together — the (i, j) loops are over STRING POSITIONS (bounded by
    _EDIT_VEC_CELL_CAP), every cell update is a numpy op over all n
    pairs at once; no per-pair Python. Bit-exact vs
    levenshtein_distance / damerau_levenshtein_distance (unrestricted
    variant — tests/test_similarity.py parity suite).

    State for the unrestricted-DL transposition term mirrors the scalar
    kernel: i1_row[:, j] is da[s2[j]] (last row where A matched B's
    char j, updated AFTER each row), db is the in-row last-match column
    (updated after each cell)."""
    n = len(sa)
    len1 = np.char.str_len(sa).astype(np.int64)
    len2 = np.char.str_len(sb).astype(np.int64)
    L1 = max(int(len1.max()), 1)
    L2 = max(int(len2.max()), 1)
    A = _codepoints(sa, L1)
    B = _codepoints(sb, L2)
    rng = np.arange(n)

    if not damerau:
        prev = np.tile(np.arange(L2 + 1, dtype=np.int32), (n, 1))
        cur = np.empty_like(prev)
        res = np.zeros(n, dtype=np.int32)
        res[len1 == 0] = len2[len1 == 0].astype(np.int32)
        for i in range(1, L1 + 1):
            cur[:, 0] = i
            ai = A[:, i - 1]
            for j in range(1, L2 + 1):
                cost = (B[:, j - 1] != ai).astype(np.int32)
                cur[:, j] = np.minimum(
                    np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1),
                    prev[:, j - 1] + cost,
                )
            done = len1 == i
            if done.any():
                res[done] = cur[done, len2[done]]
            prev, cur = cur, prev
        return res

    INF = np.int32(L1 + L2 + 10)
    score = np.empty((n, L1 + 2, L2 + 2), dtype=np.int32)
    score[:, 0, :] = INF
    score[:, :, 0] = INF
    score[:, 1, 1:] = np.arange(L2 + 1, dtype=np.int32)[None, :]
    score[:, 1:, 1] = np.arange(L1 + 1, dtype=np.int32)[None, :]
    i1_row = np.zeros((n, L2), dtype=np.int64)  # da[B char at column j]
    for i in range(1, L1 + 1):
        ai = A[:, i - 1]
        eq_row = B == ai[:, None]  # (n, L2)
        db = np.zeros(n, dtype=np.int64)
        for j in range(1, L2 + 1):
            eq = eq_row[:, j - 1]
            cost = (~eq).astype(np.int32)
            best = np.minimum(
                score[:, i, j] + cost,
                np.minimum(score[:, i + 1, j] + 1, score[:, i, j + 1] + 1),
            )
            i1 = i1_row[:, j - 1]
            trans = (
                score[rng, i1, db]
                + (i - i1 - 1)
                + 1
                + (j - db - 1)
            ).astype(np.int32)
            score[:, i + 1, j + 1] = np.minimum(best, trans)
            db = np.where(eq, j, db)
        i1_row = np.where(eq_row, i, i1_row)
    return score[rng, len1 + 1, len2 + 1]


def batch_edit_score(a: pd.Series, b: pd.Series, damerau: bool = False) -> pd.Series:
    """Normalized edit score (1 - dist/max_len) over Arrow batches —
    vectorized DP for the whole batch (see _edit_distance_block), with
    the same fast paths and outlier fallback as batch_jaro_winkler."""
    a = _as_str(a)
    b = _as_str(b)
    sa = a.to_numpy(dtype=object)
    sb = b.to_numpy(dtype=object)
    n = len(sa)
    la = np.fromiter((len(x) for x in sa), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in sb), dtype=np.int64, count=n)
    out = np.zeros(n, dtype=np.float64)
    equal = np.equal(sa, sb) & (la > 0)
    out[equal] = 1.0
    todo = ~equal & (la > 0) & (lb > 0)
    has_nul = np.fromiter(
        (("\x00" in x) or ("\x00" in y) for x, y in zip(sa, sb)),
        dtype=bool,
        count=n,
    )
    long_mask = todo & (((la + 1) * (lb + 1) > _EDIT_VEC_CELL_CAP) | has_nul)
    vec_idx = np.nonzero(todo & ~long_mask)[0]
    # order by DP size so each chunk's (L1max, L2max) tracks its own
    # pairs: short pairs stop paying for the batch's longest string
    vec_idx = vec_idx[np.argsort(la[vec_idx] * lb[vec_idx], kind="stable")]
    for s in range(0, vec_idx.size, _EDIT_CHUNK):
        idx = vec_idx[s : s + _EDIT_CHUNK]
        dist = _edit_distance_block(
            np.asarray(sa[idx], dtype=np.str_),
            np.asarray(sb[idx], dtype=np.str_),
            damerau,
        )
        out[idx] = 1.0 - dist / np.maximum(la[idx], lb[idx])
    for i in np.nonzero(long_mask)[0]:
        out[i] = normalized_edit_score(sa[i], sb[i], damerau=damerau)
    return pd.Series(out, index=a.index, dtype="float64")


def batch_hashset_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact Jaccard of two uint32-LE-packed sorted hash sets
    (functions/minhash.py:batch_token_hashset) — the shuffle-compact
    form of batch_token_jaccard.

    Vectorized batch-wide: every (row, value) is tagged row_id<<32|value
    (values are uint32 by construction), ONE global sort over the whole
    batch finds duplicates (= per-row intersections, each side is a
    set), per-row counts via bincount — no per-pair set/intersect1d
    work; the only Python loop is zero-copy frombuffer views."""
    n = len(a)
    av = [
        np.frombuffer(x, dtype=np.uint32) if x else None for x in a
    ]
    bv = [
        np.frombuffer(x, dtype=np.uint32) if x else None for x in b
    ]
    na = np.fromiter(
        (0 if x is None else len(x) for x in av), dtype=np.int64, count=n
    )
    nb = np.fromiter(
        (0 if x is None else len(x) for x in bv), dtype=np.int64, count=n
    )
    valid = (na > 0) & (nb > 0)
    out = np.zeros(n, dtype=np.float64)
    if not valid.any():
        return pd.Series(out, index=a.index, dtype="float64")

    rows = np.arange(n, dtype=np.uint64)
    flat_a = np.concatenate(
        [v for i, v in enumerate(av) if valid[i] and na[i]] or [np.empty(0, np.uint32)]
    ).astype(np.uint64)
    flat_b = np.concatenate(
        [v for i, v in enumerate(bv) if valid[i] and nb[i]] or [np.empty(0, np.uint32)]
    ).astype(np.uint64)
    row_a = np.repeat(rows, np.where(valid, na, 0))
    row_b = np.repeat(rows, np.where(valid, nb, 0))
    tagged = np.concatenate(
        [(row_a << np.uint64(32)) | flat_a, (row_b << np.uint64(32)) | flat_b]
    )
    tagged.sort()
    dup = tagged[1:] == tagged[:-1]
    inter = np.bincount(
        (tagged[1:][dup] >> np.uint64(32)).astype(np.int64), minlength=n
    )
    union = na + nb - inter
    nz = valid & (inter > 0)
    out[nz] = inter[nz] / union[nz]
    return pd.Series(out, index=a.index, dtype="float64")


def batch_packed_sig_similarity(a: pd.Series, b: pd.Series) -> pd.Series:
    """Agreement fraction of two 512-byte packed MinHash signatures
    (uint32 LE) — the shuffle-compact form of
    batch_signature_similarity. Signatures are fixed-width, so the
    whole batch stacks into two (m, num_perm) matrices and compares in
    one elementwise pass."""
    n = len(a)
    out = np.zeros(n, dtype=np.float64)
    pairs = [
        (i, xa, xb)
        for i, (xa, xb) in enumerate(zip(a, b))
        if xa and xb and len(xa) == len(xb)
    ]
    if not pairs:
        return pd.Series(out, index=a.index, dtype="float64")
    idx = np.fromiter((p[0] for p in pairs), dtype=np.int64, count=len(pairs))
    width = len(pairs[0][1]) // 4
    same_w = [p for p in pairs if len(p[1]) // 4 == width]
    if len(same_w) == len(pairs):
        A = np.frombuffer(b"".join(p[1] for p in pairs), np.uint32).reshape(-1, width)
        B = np.frombuffer(b"".join(p[2] for p in pairs), np.uint32).reshape(-1, width)
        out[idx] = (A == B).mean(axis=1)
    else:  # mixed signature widths (shouldn't happen): per-pair fallback
        for i, xa, xb in pairs:
            sa = np.frombuffer(xa, dtype=np.uint32)
            sb = np.frombuffer(xb, dtype=np.uint32)
            out[i] = float(np.mean(sa == sb))
    return pd.Series(out, index=a.index, dtype="float64")


def monge_elkan(tokens_a: list, tokens_b: list) -> float:
    """Scalar Monge-Elkan: mean over tokens of A of the best
    Jaro-Winkler match in B (directional, A -> B). 0.0 when either
    side is empty."""
    if not tokens_a or not tokens_b:
        return 0.0
    total = 0.0
    for ta in tokens_a:
        total += max(jaro_winkler_similarity(ta, tb) for tb in tokens_b)
    return total / len(tokens_a)


def batch_monge_elkan(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched Monge-Elkan over token-array columns.

    Monge & Elkan 1996: ME(A, B) = mean_{t in A} max_{s in B} jw(t, s)
    — the standard hybrid (token-level + character-level) similarity
    for multi-token fields (names, addresses, titles) where token
    order and count differ between true matches.

    Vectorization: the batch's (row, a-token, b-token) cross products
    flatten into TWO flat string arrays scored by the SAME vectorized
    JW kernel as batch_jaro_winkler in one call, then segment-max over
    b-tokens and segment-mean over a-tokens via pandas groupby. Cost is
    O(sum |A_i| * |B_i|) — callers bound token counts (slice the
    arrays) the same way the JW kernel caps cell products.
    """
    out = np.zeros(len(a), dtype=np.float64)
    rows_r, rows_ai, flat_a, flat_b = [], [], [], []
    for i, (ta, tb) in enumerate(zip(a, b)):
        if ta is None or tb is None or len(ta) == 0 or len(tb) == 0:
            continue
        for j, t in enumerate(ta):
            for s in tb:
                rows_r.append(i)
                rows_ai.append(j)
                flat_a.append(t)
                flat_b.append(s)
    if not flat_a:
        return pd.Series(out, index=a.index, dtype="float64")
    sims = batch_jaro_winkler(
        pd.Series(flat_a, dtype=object), pd.Series(flat_b, dtype=object)
    ).to_numpy()
    frame = pd.DataFrame({"r": rows_r, "ai": rows_ai, "s": sims})
    best = frame.groupby(["r", "ai"], sort=False)["s"].max()
    me = best.groupby(level="r", sort=False).mean()
    out[me.index.to_numpy()] = me.to_numpy()
    return pd.Series(out, index=a.index, dtype="float64")
