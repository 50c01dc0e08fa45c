"""Candidate generation: salted self-join correctness (same pairs as the
naive join), band-join behavior, union-dedup."""

import pytest
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators import candidates as C


def _naive_pair_counts(rows, drop_cap=None):
    """Oracle: plain python pair enumeration per key, one count per pair
    of rows. Blocks over `drop_cap` rows (null ids included) are
    dropped; null keys, null ids and equal ids never pair."""
    from collections import Counter, defaultdict

    blocks = defaultdict(list)
    for rid, key in rows:
        if key is not None:
            blocks[key].append(rid)
    pairs = Counter()
    for ids in blocks.values():
        if drop_cap is not None and len(ids) > drop_cap:
            continue
        ids = sorted(i for i in ids if i is not None)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if ids[i] != ids[j]:
                    pairs[(ids[i], ids[j])] += 1
    return pairs


def _naive_pairs(spark, rows):
    return set(_naive_pair_counts(rows))


def _pair_counts(df):
    from collections import Counter

    return Counter((r["id_a"], r["id_b"]) for r in df.collect())


@pytest.fixture()
def skewed_df(spark):
    # one hot key with 40 records, several small blocks, nulls
    rows = (
        [(f"r{i:03d}", "hot") for i in range(40)]
        + [(f"s{i:02d}", f"k{i % 5}") for i in range(15)]
        + [("lonely", "solo"), ("nokey", None)]
    )
    return rows, spark.createDataFrame(rows, "url string, bk string")


def test_self_join_matches_naive(spark, skewed_df):
    rows, df = skewed_df
    got = {
        (r["id_a"], r["id_b"])
        for r in C.self_join_pairs(df, "bk", salt_cap=10_000).collect()
    }
    assert got == _naive_pairs(spark, rows)


def test_salted_join_identical_to_unsalted(spark, skewed_df):
    rows, df = skewed_df
    # salt_cap=8 forces the 'hot' block (40 recs) through the salt grid
    salted = {
        (r["id_a"], r["id_b"])
        for r in C.self_join_pairs(df, "bk", salt_cap=8).collect()
    }
    assert salted == _naive_pairs(spark, rows)


def test_salted_join_no_duplicates(spark, skewed_df):
    _, df = skewed_df
    out = C.self_join_pairs(df, "bk", salt_cap=8)
    assert out.count() == out.dropDuplicates(["id_a", "id_b"]).count()


def test_drop_cap_excludes_stopword_blocks(spark, skewed_df):
    rows, df = skewed_df
    got = {
        (r["id_a"], r["id_b"])
        for r in C.self_join_pairs(df, "bk", salt_cap=8, drop_cap=30).collect()
    }
    expect = {
        (a, b) for (a, b) in _naive_pairs(spark, rows) if not a.startswith("r")
    }
    assert got == expect


def test_band_join_pairs(spark):
    df = spark.createDataFrame(
        [
            ("a", [1, 2, 3]),
            ("b", [3, 9, 10]),  # shares band 3 with a
            ("c", [99, 98, 97]),
            ("d", None),
            ("e", [1, 3]),  # shares bands 1,3 with a; 3 with b -> deduped
        ],
        "url string, bands array<long>",
    )
    got = {
        (r["id_a"], r["id_b"]) for r in C.band_join_pairs(df, "bands").collect()
    }
    assert got == {("a", "b"), ("a", "e"), ("b", "e")}


def test_candidate_pairs_union_dedup(spark):
    df = spark.createDataFrame(
        [
            ("u1", "h1", "t1", None, [1], [50]),
            ("u2", "h1", "t1", None, [2], [51]),  # shares host+title with u1
            ("u3", "h2", None, "p1", [1], None),  # shares band 1 with u1
            ("u4", None, None, "p1", None, None),  # shares path with u3
        ],
        "url string, bk_host string, bk_title string, bk_path string, "
        "bk_minhash_bands array<long>, bk_simhash_bands array<long>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in C.candidate_pairs(
            df,
            exact_keys=["bk_host", "bk_title", "bk_path"],
            band_keys=["bk_minhash_bands", "bk_simhash_bands"],
        ).collect()
    }
    assert got == {("u1", "u2"), ("u1", "u3"), ("u3", "u4")}


def test_soundex_title_key_config_driven(spark):
    """VERDICT r4 item 7: the soundex normalizer (oracle-green since
    r2) is wired into an OPTIONAL blocking key. Two pages whose titles
    differ by a typo ('widgets' vs 'widgetz' — same soundex) share NO
    default key (different hosts/paths/texts, exact titles differ) but
    meet through bk_title_soundex when the config flag is on; the key
    counts in key_coverage; and flipping the flag changes the pipeline
    config fingerprint (resume safety)."""
    from aml_entity_resolution_assignment_spark.operators import blocking
    from aml_entity_resolution_assignment_spark.plans.pipeline import (
        PipelineConfig,
    )
    from aml_entity_resolution_assignment_spark.sources.generator import (
        render_html,
    )

    rows = [
        ("http://a.example/x/one", "2024-01-01T00:00:00",
         render_html("Acme Widgets Catalog", "alpha beta gamma delta"), 
         "alpha beta gamma delta", "en"),
        ("http://b.example/y/two", "2024-01-02T00:00:00",
         render_html("Acme Widgetz Store", "epsilon zeta eta theta"),
         "epsilon zeta eta theta", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts string, html binary, text string, lang string"
    )

    off = blocking.add_blocking_keys(pages)
    assert blocking.SOUNDEX_KEY not in off.columns
    assert not {
        (r["id_a"], r["id_b"])
        for r in C.candidate_pairs(off).collect()
    }

    on = blocking.add_blocking_keys(pages, soundex_title_key=True)
    vals = {r["url"]: r[blocking.SOUNDEX_KEY] for r in on.collect()}
    assert vals["http://a.example/x/one"] == vals["http://b.example/y/two"]
    assert vals["http://a.example/x/one"] is not None
    pairs = {
        (r["id_a"], r["id_b"])
        for r in C.candidate_pairs(
            on, exact_keys=blocking.BLOCKING_KEYS + [blocking.SOUNDEX_KEY]
        ).collect()
    }
    assert pairs == {("http://a.example/x/one", "http://b.example/y/two")}

    cov = {r["key_count"]: r["n_records"] for r in blocking.key_coverage(on).collect()}
    assert max(cov) >= 4  # host + title + path + soundex (+bands)

    a = PipelineConfig(work_dir="/tmp/x").fingerprint()
    b = PipelineConfig(work_dir="/tmp/x", soundex_title_key=True).fingerprint()
    assert a != b


SALT_CAP, DROP_CAP = 8, 30


@pytest.mark.parametrize(
    "size", [1, 2, SALT_CAP, SALT_CAP + 1, DROP_CAP, DROP_CAP + 1]
)
def test_self_join_block_size_edges_match_naive(spark, size):
    # one block at each edge of the cold / salted / dropped branches,
    # next to a small cold block
    rows = [(f"b{i:02d}", "big") for i in range(size)] + [
        ("c1", "small"),
        ("c2", "small"),
        ("c3", "small"),
    ]
    df = spark.createDataFrame(rows, "url string, bk string")
    got = _pair_counts(
        C.self_join_pairs(df, "bk", salt_cap=SALT_CAP, drop_cap=DROP_CAP)
    )
    assert got == _naive_pair_counts(rows, drop_cap=DROP_CAP)


@pytest.mark.parametrize("salt_cap", [2, 1000])
def test_self_join_duplicates_and_nulls_match_naive(spark, salt_cap):
    # duplicate (key, id) rows repeat their pairs; a duplicate never
    # pairs with itself; null keys and null ids never pair, but null
    # ids count toward the block size
    rows = [
        ("a", "k"), ("a", "k"), ("b", "k"), ("c", "k"), (None, "k"),
        ("d", "k"), ("e", "k"), ("e", "k"), ("a", None), ("b", None),
        (None, "n"), ("x", "n"), (None, "n"), ("y", "n"),
    ]
    df = spark.createDataFrame(rows, "url string, bk string")
    got = _pair_counts(C.self_join_pairs(df, "bk", salt_cap=salt_cap))
    want = _naive_pair_counts(rows)
    assert got == want
    assert want[("a", "b")] == 2 and ("a", "a") not in want
    # null ids count toward drop_cap, as in the block size
    capped = _pair_counts(
        C.self_join_pairs(df, "bk", salt_cap=salt_cap, drop_cap=3)
    )
    assert capped == _naive_pair_counts(rows, drop_cap=3) == {}


@pytest.mark.parametrize("salt_cap", [3, 1000])
def test_self_join_long_ids_match_naive(spark, salt_cap):
    rows = [(i * 7919 % 101, i % 4) for i in range(60)] + [(5, 0), (None, 1)]
    df = spark.createDataFrame(rows, "id long, bk long")
    out = C.self_join_pairs(df, "bk", id_col="id", salt_cap=salt_cap)
    assert out.schema["id_a"].dataType.simpleString() == "bigint"
    assert _pair_counts(out) == _naive_pair_counts(rows)


def test_self_join_partitioning_invariant(spark, skewed_df):
    rows, df = skewed_df
    for salt_cap in (8, 10_000):
        outs = [
            sorted(
                C.self_join_pairs(
                    df.repartition(n), "bk", salt_cap=salt_cap
                ).collect()
            )
            for n in (1, 8)
        ]
        assert outs[0] == outs[1]
        assert {tuple(r) for r in outs[0]} == _naive_pairs(spark, rows)


def _keyed_pages(spark, path):
    """Blocking-keyed generator pages, written and read back: the keys
    are computed once, and the read's schema job runs here."""
    from aml_entity_resolution_assignment_spark.operators.blocking import (
        add_blocking_keys,
    )
    from aml_entity_resolution_assignment_spark.sources.generator import (
        generate_pages,
    )

    pages = generate_pages(spark, n_entities=40, seed=11).drop("entity_id")
    add_blocking_keys(pages).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_candidate_pairs_partitioning_invariant(spark, tmp_path):
    keyed = _keyed_pages(spark, str(tmp_path / "keyed"))
    outs = [
        sorted(C.candidate_pairs(keyed.repartition(n), salt_cap=3).collect())
        for n in (1, 8)
    ]
    assert outs[0] and outs[0] == outs[1]
    assert outs[0] == sorted(C.candidate_pairs(keyed).collect())


def test_candidate_pairs_job_budget(spark, tmp_path):
    """Grouped block emission runs the grouping, the hot-unit
    repartition, the dedup and the result: 4 jobs, with salted blocks
    present (salt_cap=3)."""
    keyed = _keyed_pages(spark, str(tmp_path / "keyed"))
    sc = spark.sparkContext
    sc.setJobGroup("cand-budget", "candidate pairs")
    try:
        n = len(C.candidate_pairs(keyed, salt_cap=3).collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n > 0
    assert len(sc.statusTracker().getJobIdsForGroup("cand-budget")) <= 4
