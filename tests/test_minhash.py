"""MinHash / SimHash signature properties: determinism, Jaccard
estimation accuracy, banding collision behavior."""

import numpy as np
import pytest

from aml_entity_resolution_assignment_spark.functions import minhash as mh


def test_minhash_deterministic():
    a = mh.minhash_signature("the quick brown fox jumps over the lazy dog")
    b = mh.minhash_signature("the quick brown fox jumps over the lazy dog")
    assert a == b
    assert len(a) == mh.NUM_PERM


def test_minhash_empty_is_none():
    assert mh.minhash_signature("") is None
    assert mh.minhash_signature(None) is None


def test_minhash_short_text_hashes_whole():
    assert mh.minhash_signature("ab") is not None


def test_minhash_estimates_token_jaccard():
    base = "entity resolution with spark dataframes and arrow batches " * 3
    variant = base.replace("arrow", "arow").replace("spark", "spork")
    sig_a = np.array(mh.minhash_signature(base))
    sig_b = np.array(mh.minhash_signature(variant))
    est = float(np.mean(sig_a == sig_b))

    sa, sb = set(base.split()), set(variant.split())
    true_j = len(sa & sb) / len(sa | sb)
    # 128 perms -> std err ~= sqrt(j(1-j)/128) ~= 0.04
    assert abs(est - true_j) < 0.15


def test_minhash_char_unit_available():
    # the reference's char-shingle mode stays available for short names
    a = np.array(mh.minhash_signature("marek kilar", unit="char"))
    b = np.array(mh.minhash_signature("marek kilar", unit="char"))
    assert (a == b).all()


def test_minhash_unrelated_docs_near_zero_similarity():
    # the scale property: unrelated docs must NOT share signature mass,
    # otherwise every LSH band is a hot key at web scale
    a = np.array(mh.minhash_signature("alpha beta gamma delta epsilon zeta"))
    b = np.array(mh.minhash_signature("one two three four five six seven"))
    assert float(np.mean(a == b)) < 0.05


def test_band_hashes_identical_for_identical_sigs():
    sig = mh.minhash_signature("some web page body text with words")
    b1 = mh.band_hashes(sig)
    b2 = mh.band_hashes(list(sig))
    assert b1 == b2
    assert len(b1) == mh.LSH_BANDS


def test_band_hashes_share_band_for_similar():
    # 30 distinct tokens, one changed -> jaccard 29/31 ~= 0.94, band
    # collision probability 1-(1-0.94^8)^16 ~= 1 - 7e-7
    base = " ".join(f"tok{i:02d}" for i in range(30))
    near = base.replace("tok17", "tok17x")
    b1 = set(mh.band_hashes(mh.minhash_signature(base)))
    b2 = set(mh.band_hashes(mh.minhash_signature(near)))
    assert b1 & b2, "near-duplicates should collide in >=1 LSH band"


def test_band_index_prevents_cross_band_collisions():
    sig = mh.minhash_signature("hello world text")
    bands = mh.band_hashes(sig)
    assert len(set(bands)) == len(bands)


def test_simhash_near_duplicates_low_hamming():
    base = "the quick brown fox jumps over the lazy dog near a river bank " * 4
    near = base.replace("river", "rivers")
    far = "completely different words about spark catalyst tungsten aqe shuffles"
    h1, h2, h3 = mh.simhash64(base), mh.simhash64(near), mh.simhash64(far)
    # one changed word in a 52-token doc flips only a few vote-margin
    # bits; unrelated text lands near the random-expectation 32
    assert mh.hamming64(h1, h2) <= 12
    assert mh.hamming64(h1, h3) > 20
    assert mh.hamming64(h1, h2) < mh.hamming64(h1, h3)


def test_simhash_bands_collide_within_hamming_2():
    # Manku pigeonhole guarantee: block-PAIR keys over 4 blocks -> any
    # two hashes with hamming distance <= 2 share an intact block pair
    h1 = mh.simhash64("the quick brown fox " * 20)
    for flipped_bits in [(0,), (5, 40), (1, 17)]:
        h2 = h1
        for b in flipped_bits:
            h2 ^= 1 << b
        h2 = int(np.uint64(h2 % (1 << 64)).view(np.int64))
        b1 = set(mh.simhash_bands(h1))
        b2 = set(mh.simhash_bands(h2))
        assert b1 & b2, flipped_bits
    assert len(mh.simhash_bands(h1)) == 6


def test_simhash_empty_none():
    assert mh.simhash64("") is None
    assert mh.simhash64(None) is None


def test_udfs_run_in_spark(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", "spark entity resolution text body"), ("b", ""), ("c", None)],
        ["id", "text"],
    )
    out = df.select(
        "id",
        mh.minhash_udf()(F.col("text")).alias("sig"),
        mh.simhash_udf()(F.col("text")).alias("sh"),
    )
    out = out.withColumn("bands", mh.band_hashes_udf()(F.col("sig"))).collect()
    rows = {r["id"]: r for r in out}
    assert len(rows["a"]["sig"]) == mh.NUM_PERM
    assert len(rows["a"]["bands"]) == mh.LSH_BANDS
    assert rows["b"]["sig"] is None and rows["c"]["sig"] is None
    assert rows["b"]["sh"] is None

    scalar = mh.minhash_signature("spark entity resolution text body")
    assert list(rows["a"]["sig"]) == scalar, "UDF path must equal scalar path"


def test_keys_udfs_equal_their_kernels(spark):
    """minhash_keys_udf / simhash_keys_udf give exactly what the kernels
    give, also for null/empty/whitespace text and an all-null batch."""
    import pandas as pd
    from pyspark.sql import functions as F

    texts = ["spark entity resolution text body", "", None, "   ", "a b a"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
    for frame in (df, df.where(F.col("text").isNull())):
        rows = frame.select(
            "id",
            mh.minhash_keys_udf()(F.col("text")).alias("m"),
            mh.simhash_keys_udf()(F.col("text")).alias("s"),
        ).select("id", "m.*", "s.*").orderBy("id").collect()
        want = pd.Series([texts[r["id"]] for r in rows])
        sigs = mh.batch_minhash(want)
        sh = mh.batch_simhash(want)

        def col(name):
            return [r[name] for r in rows]

        def lists(values):
            return [None if v is None else list(v) for v in values]

        assert col("bk_minhash_bands") == lists(mh.batch_band_hashes(sigs))
        assert col("sig_bin") == list(mh.batch_pack_sig(sigs))
        assert col("simhash") == [None if pd.isna(v) else int(v) for v in sh]
        assert col("bk_simhash_bands") == lists(mh.batch_simhash_bands(sh))


def test_simhash_token_hash_paths_batch_scalar_parity():
    """Both token-hash paths: batch == scalar, and the two paths are
    internally consistent (near-dup structure preserved) though their
    hash values differ."""
    import pandas as pd

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "completely different content here entirely",
        "",
        None,
    ]
    for th in ("fast", "md5"):
        batch = mh.batch_simhash(pd.Series(texts), token_hash=th)
        for t, got in zip(texts, batch):
            want = mh.simhash64(t, token_hash=th)
            if want is None:
                assert pd.isna(got)
            else:
                assert int(got) == want, (th, t)
        h1 = mh.simhash64(texts[0], token_hash=th)
        h2 = mh.simhash64(texts[1], token_hash=th)
        h3 = mh.simhash64(texts[2], token_hash=th)
        assert mh.hamming64(h1, h2) < mh.hamming64(h1, h3)


def test_fingerprint_token_hash_paths():
    import pandas as pd

    from aml_entity_resolution_assignment_spark.functions import text as T

    texts = ["a b c", "  a b c ", "c b a", "", None, "solo"]
    for th in ("fast", "md5"):
        batch = T.batch_fingerprint(pd.Series(texts), token_hash=th)
        for t, got in zip(texts, batch):
            want = T.fingerprint(t, token_hash=th)
            if want is None:
                assert pd.isna(got)
            else:
                assert int(got) == want, (th, t)
    # whitespace-invariant, order-sensitive
    f = lambda s: T.fingerprint(s, token_hash="fast")  # noqa: E731
    assert f("a b c") == f("  a b c ")
    assert f("a b c") != f("c b a")
