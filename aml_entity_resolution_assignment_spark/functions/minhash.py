"""MinHash / SimHash signatures and LSH banding — columns, not indexes.

The reference builds a datasketch MinHashLSH object and pickles it
(/root/reference/src/preprocessing.py:269-291); querying it is a
driver-side loop (matching.py:126-132). That design cannot distribute.
Here signatures are **columns** (ArrayType(Long)) computed by a
vectorized pandas UDF, and the LSH "index" is the exploded band table —
the approximate self-join becomes `explode(bands)` + an equi-self-join
on (band_idx, band_hash), which Catalyst executes as an ordinary
shuffle join (operators/candidates.py).

Parameters: num_perm=128 like the reference (settings.py:41-42); the
banding (b=16, r=8) is pinned explicitly instead of datasketch's
threshold optimizer — (1/16)^(1/8) ≈ 0.707 reproduces the reference's
0.7 LSH threshold s-curve deterministically.

Hash family: 3-char shingles hashed with CRC32 (deterministic across
processes/platforms), then 128 universal-hash permutations
h_i(x) = (a_i*x + b_i) mod p over a Mersenne prime, min per permutation
— the standard construction (Broder 1997), evaluated with numpy over
whole Arrow batches.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, LongType, StructField, StructType,
)

NUM_PERM = 128
LSH_BANDS = 16
LSH_ROWS = 8  # LSH_BANDS * LSH_ROWS == NUM_PERM
_MERSENNE = (1 << 61) - 1
_MAXH = (1 << 32) - 1
_EMPTY_SENTINEL = _MAXH  # datasketch-style init value for "no shingles"

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 16 bits per band -> catches hamming distance <= 3

# ---------------------------------------------------------------------------
# Key-family versioning (ADVICE r3). Blocking keys derived here are
# PERSISTED — into the streaming resolve corpus and checkpointed keyed
# stage tables. Keys from different token-hash families never band/
# verify against each other (cross-family hamming is ~random), so a
# corpus written under one family must not be silently joined with
# batches keyed under another. KEY_FAMILY names the full derivation
# (token hash + banding layout) and is stamped into persisted-corpus
# paths (streaming/stream.py) and stage fingerprints (plans/pipeline.py);
# bump it whenever TOKEN_HASH_FAMILY or the banding layout changes.
#
# Determinism note for 'fast': pd.util.hash_array is SipHash-1-3 with a
# fixed default key — deterministic across processes and platforms for a
# given pandas major line, but it is a pandas-internal detail, not a
# documented stability contract. A heterogeneous cluster MUST pin one
# pandas version across executors (standard practice anyway); if pandas
# ever changes the hash, bumping KEY_FAMILY forces a clean re-key
# instead of silent recall loss.
# ---------------------------------------------------------------------------
TOKEN_HASH_FAMILY = "fast"  # production default ('md5' = oracle twin)
KEY_FAMILY = f"k2-{TOKEN_HASH_FAMILY}"  # k1 was the r2 md5 family


def _perm_params(num_perm: int = NUM_PERM, seed: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) multiply-shift hash parameters (seeded
    PCG64). h_i(x) = (a_i * x + b_i) >> 32 over wrapping uint64 — the
    Dietzfelbinger multiply-shift family: universal, and ~8x faster
    than (a*x+b) mod p because there is no 64-bit modulo in the hot
    loop (the modulo dominated the whole signature kernel)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) * 2 + 1  # odd
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    return a, b


_A, _B = _perm_params()


def shingle_hashes(text: str, k: int = 3, unit: str = "token") -> np.ndarray:
    """CRC32 hashes of the shingle set of a string.

    unit='char': k-char shingles — the reference's convention for SHORT
    name strings (preprocessing.py:155-159; texts shorter than k hash
    whole). unit='token': whitespace tokens — the right granularity for
    body text: the signature then estimates token Jaccard, and two
    unrelated web pages share ~0 shingles instead of ~60% of their
    character-trigram space (which would make every LSH band a hot key
    at 10^12 docs)."""
    if unit == "token":
        toks = set(text.split())
        if not toks:
            return np.array([zlib.crc32(text.encode("utf-8"))], dtype=np.uint64)
        return np.unique(
            np.fromiter(
                (zlib.crc32(t.encode("utf-8")) for t in toks),
                dtype=np.uint64,
                count=len(toks),
            )
        )
    data = text.encode("utf-8")
    if len(text) < k:
        return np.array([zlib.crc32(data)], dtype=np.uint64)
    # hash character shingles; encode per shingle to respect multi-byte
    # chars identically to the reference's str slicing
    return np.unique(
        np.fromiter(
            (zlib.crc32(text[i : i + k].encode("utf-8")) for i in range(len(text) - k + 1)),
            dtype=np.uint64,
        )
    )


def minhash_signature(
    text: str | None, num_perm: int = NUM_PERM, unit: str = "token"
) -> list[int] | None:
    """MinHash signature as a Python list (None for empty input)."""
    if text is None or text == "":
        return None
    x = shingle_hashes(text, unit=unit)
    # (num_perm, n_shingles) multiply-shift hashes, min over shingles
    with np.errstate(over="ignore"):
        ph = (
            _A[:num_perm, None] * x[None, :] + _B[:num_perm, None]
        ) >> np.uint64(32)
    return ph.min(axis=1).astype(np.int64).tolist()


def batch_minhash(texts: pd.Series, num_perm: int = NUM_PERM) -> pd.Series:
    """Vectorized batch MinHash over token shingles.

    Identical output to minhash_signature (same CRC32 base hash, same
    multiply-shift family), computed batch-wide: pandas explode +
    factorize produce the flat unique-token-per-row array (C code, no
    per-token Python), CRC32 runs once per DISTINCT token in the batch
    (webtext token frequency is Zipf — big savings), and one
    np.minimum.reduceat over row boundaries replaces per-row matrices."""
    a = _A[:num_perm, None]
    b = _B[:num_perm, None]
    n_rows = len(texts)
    out: list[list[int] | None] = [None] * n_rows

    norm = texts.reset_index(drop=True)
    mask = norm.notna() & (norm != "")
    if not mask.any():
        return pd.Series(out, index=texts.index, dtype="object")
    toks = norm[mask].str.split()
    exploded = toks.explode()
    # empty-after-split rows (whitespace-only text) hash the raw string
    empty_rows = toks[toks.str.len() == 0].index
    exploded = exploded.dropna()
    pairs = pd.DataFrame({"row": exploded.index, "tok": exploded.to_numpy()})
    pairs = pairs.drop_duplicates()  # minhash uses the token SET
    for r in empty_rows:
        pairs = pd.concat(
            [pairs, pd.DataFrame({"row": [r], "tok": [norm.iloc[r]]})],
            ignore_index=True,
        )
        pairs = pairs.sort_values("row", kind="stable")
    codes, uniques = pd.factorize(pairs["tok"].to_numpy())
    uniq_hash = np.fromiter(
        (zlib.crc32(u.encode("utf-8")) for u in uniques),
        dtype=np.uint64,
        count=len(uniques),
    )
    flat_arr = uniq_hash[codes]
    row_ids = pairs["row"].to_numpy()
    # offsets per present row (row_ids are grouped and ascending)
    present, counts = np.unique(row_ids, return_counts=True)
    offsets = np.concatenate(([0], np.cumsum(counts)))

    max_tokens = 65536
    n_present = len(present)
    row_start = 0
    while row_start < n_present:
        row_end = row_start
        while (
            row_end < n_present
            and offsets[row_end + 1] - offsets[row_start] <= max_tokens
        ):
            row_end += 1
        if row_end == row_start:
            row_end += 1
        s_, e_ = offsets[row_start], offsets[row_end]
        with np.errstate(over="ignore"):
            ph = a * flat_arr[None, s_:e_]
            ph += b
            ph >>= np.uint64(32)
        bounds = offsets[row_start:row_end] - s_
        # column-major copy so each output row is contiguous; keep as
        # numpy (Arrow converts arrays directly, no tolist round trip)
        mins = np.minimum.reduceat(ph, bounds, axis=1).astype(np.int64).T.copy()
        for col, i in enumerate(range(row_start, row_end)):
            out[present[i]] = mins[col]
        row_start = row_end
    return pd.Series(out, index=texts.index, dtype="object")


def minhash_udf(num_perm: int = NUM_PERM) -> Column:
    if num_perm > len(_A):
        raise ValueError(f"num_perm {num_perm} > precomputed {len(_A)} permutations")

    def _f(texts: pd.Series) -> pd.Series:
        return batch_minhash(texts, num_perm=num_perm)

    return F.pandas_udf(_f, ArrayType(LongType()))


def band_hashes(sig: list[int] | None, bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> list[int] | None:
    """Collapse a signature into one 64-bit hash per band. Band index is
    baked into the hash so a single column can be exploded and joined."""
    if sig is None:
        return None
    a = np.asarray(sig, dtype=np.uint64).reshape(bands, rows)
    out = np.full(bands, 1469598103934665603, dtype=np.uint64)  # FNV offset
    prime = np.uint64(1099511628211)
    for r in range(rows):
        out = (out ^ a[:, r]) * prime
    # mix band index in so band 0 and band 1 never collide cross-band
    out = out ^ (np.arange(bands, dtype=np.uint64) << np.uint64(56))
    return out.astype(np.int64).tolist()


def batch_band_hashes(
    sigs: pd.Series, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> pd.Series:
    """Vectorized banding: stack all non-null signatures into one
    (n, bands, rows) array, FNV-fold along the rows axis once."""
    idx = [i for i, s in enumerate(sigs) if s is not None]
    out: list[list[int] | None] = [None] * len(sigs)
    if idx:
        mat = np.asarray(
            [sigs.iloc[i] for i in idx], dtype=np.int64
        ).view(np.uint64).reshape(len(idx), bands, rows)
        acc = np.full((len(idx), bands), 1469598103934665603, dtype=np.uint64)
        prime = np.uint64(1099511628211)
        for r in range(rows):
            acc = (acc ^ mat[:, :, r]) * prime
        acc = acc ^ (np.arange(bands, dtype=np.uint64)[None, :] << np.uint64(56))
        acc = acc.view(np.int64)
        for k, i in enumerate(idx):
            out[i] = acc[k].tolist()
    return pd.Series(out, index=sigs.index, dtype="object")


def band_hashes_udf(bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> Column:
    # one stacked FNV fold per batch (batch_band_hashes) — the former
    # per-row band_hashes comprehension paid a numpy-array build +
    # 8-element fold per ROW (guide §4.2: hand whole batches to the
    # vectorized kernel); outputs are identical (same fold, same mix)
    def _f(sigs: pd.Series) -> pd.Series:
        return batch_band_hashes(sigs, bands=bands, rows=rows)

    return F.pandas_udf(_f, ArrayType(LongType()))


def banding_for_threshold(threshold: float, num_perm: int = NUM_PERM) -> tuple[int, int]:
    """Pick (bands, rows) whose s-curve midpoint (1/b)^(1/r) best
    matches the requested Jaccard threshold — the deterministic analog
    of datasketch's threshold optimizer (reference settings.py:41)."""
    best, best_gap = (LSH_BANDS, LSH_ROWS), 1e9
    b = 1
    while b <= num_perm:
        r = num_perm // b
        if b * r == num_perm:
            mid = (1.0 / b) ** (1.0 / r)
            gap = abs(mid - threshold)
            if gap < best_gap:
                best, best_gap = (b, r), gap
        b *= 2
    return best


# ---------------------------------------------------------------------------
# SimHash (north_star: simhash-of-extracted-text blocking key)
# ---------------------------------------------------------------------------


def _token_hash64(tok: str) -> int:
    """64-bit deterministic token hash: the LAST 8 bytes of the MD5
    digest, little-endian — chosen because it is exactly DuckDB's
    md5_number_lower(tok), so the full simhash is recomputable in
    ANSI SQL for the correctness oracle (dedup_simhash)."""
    import hashlib

    return int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[8:16], "little")


def _token_hash_array(toks: np.ndarray, token_hash: str) -> np.ndarray:
    """(n,) object array of token strings -> (n,) uint64 hashes.

    token_hash='md5': the oracle twin (DuckDB md5_number_lower) — one
    Python hashlib call per distinct token; correct but the slowest
    per-token step in the signature kernels.
    token_hash='fast': the PRODUCTION path — pandas' vectorized SipHash
    (pd.util.hash_array: one C call for the whole array, deterministic
    across processes/platforms with the fixed default key). Same
    downstream semantics; not SQL-reproducible, so oracle queries pin
    'md5' explicitly."""
    if token_hash == "fast":
        return pd.util.hash_array(np.asarray(toks, dtype=object))
    return np.fromiter(
        (_token_hash64(t) for t in toks), dtype=np.uint64, count=len(toks)
    )


def simhash64(text: str | None, token_hash: str = "fast") -> int | None:
    """Charikar SimHash over whitespace tokens (unweighted)."""
    if text is None or text == "":
        return None
    toks = text.split()
    if not toks:
        return None
    hashes = _token_hash_array(np.array(toks, dtype=object), token_hash)
    bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(
        np.int32
    )
    votes = bits.sum(axis=0) * 2 - len(toks)  # (+1 / -1 votes)
    out = np.uint64(0)
    for i in range(64):
        if votes[i] > 0:
            out |= np.uint64(1) << np.uint64(i)
    return int(out.astype(np.int64).view(np.int64))


def batch_simhash(texts: pd.Series, token_hash: str = "fast") -> pd.Series:
    """Vectorized batch SimHash, identical output to simhash64: explode
    + factorize tokenization (duplicates kept — occurrence-weighted
    votes), 64-bit token hash once per distinct token (vectorized
    SipHash by default; token_hash='md5' for the SQL oracle twin), bit
    votes via np.add.reduceat over row boundaries."""
    n_rows = len(texts)
    out: list[int | None] = [None] * n_rows

    norm = texts.reset_index(drop=True)
    mask = norm.notna() & (norm != "")
    if not mask.any():
        return pd.Series(out, index=texts.index, dtype="object").astype("Int64")
    toks = norm[mask].str.split()
    toks = toks[toks.str.len() > 0]
    exploded = toks.explode().dropna()
    if exploded.empty:
        return pd.Series(out, index=texts.index, dtype="object").astype("Int64")
    codes, uniques = pd.factorize(exploded.to_numpy())
    uniq_hash = _token_hash_array(uniques, token_hash)
    flat_arr = uniq_hash[codes]
    row_ids = exploded.index.to_numpy()
    present, counts = np.unique(row_ids, return_counts=True)
    offsets = np.concatenate(([0], np.cumsum(counts)))

    shifts = np.arange(64, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.uint64)
    max_tokens = 262144
    n_present = len(present)
    row_start = 0
    while row_start < n_present:
        row_end = row_start
        while (
            row_end < n_present
            and offsets[row_end + 1] - offsets[row_start] <= max_tokens
        ):
            row_end += 1
        if row_end == row_start:
            row_end += 1
        s_, e_ = offsets[row_start], offsets[row_end]
        bits = ((flat_arr[s_:e_, None] >> shifts[None, :]) & np.uint64(1)).astype(
            np.int32
        )
        bounds = offsets[row_start:row_end] - s_
        sums = np.add.reduceat(bits, bounds, axis=0)
        lens = (offsets[row_start + 1 : row_end + 1] - offsets[row_start:row_end])
        votes = sums * 2 - lens[:, None]
        words = ((votes > 0).astype(np.uint64) * weights[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        for col, i in enumerate(range(row_start, row_end)):
            out[present[i]] = int(np.uint64(words[col]).view(np.int64))
        row_start = row_end
    return pd.Series(out, index=texts.index, dtype="object").astype("Int64")


def simhash_udf(token_hash: str = "fast") -> Column:
    def _f(texts: pd.Series) -> pd.Series:
        return batch_simhash(texts, token_hash=token_hash)

    return F.pandas_udf(_f, LongType())


def simhash_bands(h: int | None, bands: int = SIMHASH_BANDS) -> list[int] | None:
    """Manku-style blocking keys for a 64-bit simhash: split into 4
    16-bit blocks and emit one key per PAIR of blocks (C(4,2) = 6 keys,
    32 bits of entropy each, pair index baked into the top bits).

    Recall guarantee: hamming distance <= 2 corrupts at most 2 blocks,
    leaving >= 2 intact — some intact pair exists, so near-dups always
    share >= 1 key. Single 16-bit blocks (the naive banding) guarantee
    hamming <= 3 but collide randomly every ~65k docs — quadratic junk
    pairs at web scale; 32-bit keys push random collisions out to ~4B."""
    if h is None:
        return None
    u = np.uint64(np.int64(h).view(np.uint64)) if not isinstance(h, np.uint64) else h
    width = 64 // bands
    mask = np.uint64((1 << width) - 1)
    blocks = [int((u >> np.uint64(i * width)) & mask) for i in range(bands)]
    out = []
    pair_idx = 0
    for i in range(bands):
        for j in range(i + 1, bands):
            out.append((blocks[i] << width) | blocks[j] | (pair_idx << 58))
            pair_idx += 1
    return out


def batch_simhash_bands(hs: pd.Series) -> pd.Series:
    return pd.Series(
        [simhash_bands(None if pd.isna(h) else int(h)) for h in hs],
        index=hs.index,
        dtype="object",
    )


def simhash_bands_udf() -> Column:
    return F.pandas_udf(batch_simhash_bands, ArrayType(LongType()))


def simhash_keys_udf() -> Column:
    """text -> struct(simhash, bk_simhash_bands) from ONE SimHash per
    text (the production 'fast' token hash); see minhash_keys_udf."""

    def simhash_keys(texts: pd.Series) -> pd.DataFrame:
        hs = batch_simhash(texts)
        return pd.DataFrame(
            {
                "simhash": hs,
                "bk_simhash_bands": batch_simhash_bands(hs),
            }
        )

    return F.pandas_udf(
        simhash_keys,
        StructType(
            [
                StructField("simhash", LongType()),
                StructField("bk_simhash_bands", ArrayType(LongType())),
            ]
        ),
    )


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


# ---------------------------------------------------------------------------
# Compact binary encodings for the scoring-join payload. The hydration
# joins (operators/features.py) ship per-record state for BOTH pair
# sides through a shuffle; raw text (~600B) + ArrayType signature
# (~1.1KB with Arrow offsets) per side dominates that shuffle. Packed:
# signature = 128 x uint32 little-endian (512B, values are 32-bit by
# construction of the multiply-shift >> 32); token set = sorted unique
# CRC32 uint32 (~4B per distinct token). Never shuffle raw text.
# ---------------------------------------------------------------------------


def batch_pack_sig(sigs: pd.Series) -> pd.Series:
    """ArrayType(Long) signature -> 512-byte binary (uint32 LE)."""
    out = []
    for s in sigs:
        if s is None:
            out.append(None)
        else:
            out.append(np.asarray(s, dtype=np.uint32).tobytes())
    return pd.Series(out, index=sigs.index, dtype="object")


def minhash_keys_udf() -> Column:
    """text -> struct(bk_minhash_bands, sig_bin): the keyed stage's
    MinHash outputs from ONE signature per text. Composed as separate
    UDFs (band_hashes(minhash(t)), pack_sig(minhash(t))) the chained
    kernel runs once per consumer."""

    def minhash_keys(texts: pd.Series) -> pd.DataFrame:
        sigs = batch_minhash(texts)
        return pd.DataFrame(
            {
                "bk_minhash_bands": batch_band_hashes(sigs),
                "sig_bin": batch_pack_sig(sigs),
            }
        )

    return F.pandas_udf(
        minhash_keys,
        StructType(
            [
                StructField("bk_minhash_bands", ArrayType(LongType())),
                StructField("sig_bin", BinaryType()),
            ]
        ),
    )


def batch_token_hashset(texts: pd.Series) -> pd.Series:
    """text -> sorted unique CRC32 token hashes as uint32-LE binary.

    Exact token-set Jaccard is then an intersect of sorted uint32
    arrays (functions/similarity.py:batch_hashset_jaccard); CRC32
    collisions perturb the score by < 1e-8 at realistic set sizes.

    Deliberately per-row: a batch_minhash-style vectorization
    (explode + (row, tok) drop_duplicates + factorize + lexsort) was
    measured 2x SLOWER on the engine's text shape (~54-token docs) —
    the pandas dedup/sort machinery costs more than a per-row set()
    + C-loop crc32 at this tokens-per-row scale."""
    out = []
    for t in texts:
        if t is None or t == "" or (isinstance(t, float) and pd.isna(t)):
            out.append(None)
            continue
        toks = set(t.split())
        if not toks:
            out.append(b"")
            continue
        arr = np.fromiter(
            (zlib.crc32(tok.encode("utf-8")) for tok in toks),
            dtype=np.uint32,
            count=len(toks),
        )
        arr.sort()
        out.append(arr.tobytes())
    return pd.Series(out, index=texts.index, dtype="object")


def token_hashset_udf() -> Column:
    return F.pandas_udf(batch_token_hashset, BinaryType())
