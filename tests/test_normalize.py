"""Normalizer tests pinning reference semantics
(/root/reference/src/preprocessing.py:18-130) — cases from FIXTURES.md §4."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.functions import normalize as N
from aml_entity_resolution_assignment_spark.session import CASE_MAPPINGS


def _one(spark, col_expr, value):
    df = spark.createDataFrame([Row(v=value)], schema="v string")
    return df.select(col_expr(F.col("v")).alias("out")).collect()[0]["out"]


def test_ascii_fold_scalar():
    assert N.ascii_fold("Łukasz Gżegżółka") == "lukasz gzegzolka"
    assert N.ascii_fold("  Müller-Straße ") == "muller-strasse"
    assert N.ascii_fold(None) == ""
    assert N.ascii_fold("José Ñuñez") == "jose nunez"


def test_norm_national_id(spark):
    assert _one(spark, N.norm_national_id, "ab-12 34.xy") == "AB1234XY"
    assert _one(spark, N.norm_national_id, None) == ""


def test_norm_email(spark):
    # preprocessing.py:39-41: dots dropped from local part only
    assert _one(spark, N.norm_email, "Jan.Kowalski@X.pl") == "jankowalski@x.pl"
    assert _one(spark, N.norm_email, "no-at-sign") == "no-at-sign"
    assert _one(spark, N.norm_email, None) == ""


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("0048 881 819 600", "881819600"),  # preprocessing.py:57-65
        ("+1 (212) 555-0099", "2125550099"),
        ("0034 612 345 678", "612345678"),
        ("0049 30 123456789", "30123456789"),  # len>=12 with 49
        ("00 12 34", "1234"),
        (None, ""),
    ],
)
def test_norm_phone(spark, raw, expected):
    assert _one(spark, N.norm_phone, raw) == expected


def test_norm_address(spark):
    # preprocessing.py:93-128 — FIXTURES.md §4 case
    assert _one(spark, N.norm_address, "ul. Cyprysowa 08/38") == "ulica cyprysowa 0838"
    assert _one(spark, N.norm_address, "123 Main St.") == "123 main street"
    assert _one(spark, N.norm_address, "Hauptstr. 5") == "hauptstr 5"  # \b anchored: 'hauptstr' unchanged


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("1990-06-24", "1990-06-24"),
        ("24/06/1990", "1990-06-24"),
        ("06-24-1990", "1990-06-24"),
        ("1990/06/24", "1990-06-24"),
        ("garbage", None),
        (None, None),
    ],
)
def test_norm_date_four_formats(spark, raw, expected):
    out = _one(spark, lambda c: N.norm_date(c).cast("string"), raw)
    assert out == expected


def test_norm_date_year_sentinel(spark):
    assert _one(spark, lambda c: N.norm_date_year(N.norm_date(c)), "1990-06-24") == "1990"
    assert _one(spark, lambda c: N.norm_date_year(N.norm_date(c)), "junk") == "0000"


def test_norm_hostname(spark):
    assert _one(spark, N.norm_hostname, "WWW.Example.COM:8080") == "example.com"
    assert _one(spark, N.norm_hostname, "m.example.co.uk") == "example.co.uk"
    assert _one(spark, N.norm_hostname, "www2.example.com") == "example.com"


def test_url_host_and_norm_url(spark):
    assert _one(spark, N.url_host, "https://WWW.Example.com/a/b?x=1") == "www.example.com"
    assert (
        _one(spark, N.norm_url_for_match, "https://www.Example.com/a/b/?utm=1#frag")
        == "example.com/a/b"
    )


def test_extract_text_roundtrip():
    text = "Hello <world> & friends\n  second   line"
    html = (
        "<html><head><title>T &amp; t</title></head><body><p>"
        + text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        + "</p></body></html>"
    ).encode("utf-8")
    assert N.extract_text(html) == text
    assert N.extract_title(html) == "T & t"
    assert N.extract_text(b"<nope>") is None


def test_get_soundex(spark):
    # jellyfish soundex('Smith') == 'S530'; empty/None -> '0000'
    assert _one(spark, N.get_soundex, "Smith") == "S530"
    assert _one(spark, N.get_soundex, "Robert") == "R163"
    assert _one(spark, N.get_soundex, None) == "0000"
    assert _one(spark, N.get_soundex, "  ") == "0000"


def test_soundex_variant_and_sentinel(spark):
    from aml_entity_resolution_assignment_spark.functions.normalize import (
        get_soundex,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Robert",), ("honeyman",), ("Ashcraft",), ("",), (None,), ("123",)],
        "w string",
    )
    got = [r["s"] for r in df.select(get_soundex(F.col("w")).alias("s")).collect()]
    # vowel-reset H/W-transparent US variant + '0000' empty sentinel
    assert got == ["R163", "H555", "A261", "0000", "0000", "0000"]


# ---------------------------------------------------------------------------
# Case mappings: the engine runs lower()/upper() on the JVM path
# (session.CASE_MAPPINGS "false"); ICU is Spark's default. The two must
# agree on everything the engine normalizes.
# ---------------------------------------------------------------------------

_MULTILINGUAL = [
    "İstanbul", "ISPARTA ılık", "Iğdır", "DİYARBAKIR ışık",  # Turkish İ/ı
    "ÌÍĨ Į́ J̃", "Ii̇̀ IÌ",  # Lithuanian dot above
    "ΟΔΟΣ", "ΣΟΦΟΣ ΛΟΓΟΣ.", "Σ", "ὈΔΥΣΣΕΎΣ",  # Greek final sigma
    "Straße", "STRASSE", "ẞ", "ß@Example.DE",  # sharp s
    "Москва", "ПРИВЕТ, Мир", "ЁЛКА",  # Cyrillic
    "東京都 北京市", "서울 ABC", "ｆｕｌｌ ＷＩＤＴＨ",  # CJK
    "😀 Emoji 🎉 ZWJ 👩‍👩‍👧", "ǅemal ǈ ǋ", "ﬁle ŉ",
    "HTTPS://Www.Exämple.COM:8080/Ä/b?x=1#Y", "Jan.Kowalski@X.PL",
]


def _case_mapped(c):
    return [
        F.lower(c), F.upper(c), N.url_host(c), N.norm_hostname(c),
        N.norm_url_for_match(c), N.norm_body_text(c), N.norm_email(c),
        N.norm_national_id(c), N.norm_address(c),
    ]


def _with_case_mappings(spark, value, fn):
    """fn() with CASE_MAPPINGS set to `value`. fn must build its query:
    a DataFrame keeps the physical plan of its first action."""
    old = spark.conf.get(CASE_MAPPINGS)
    spark.conf.set(CASE_MAPPINGS, value)
    try:
        return fn()
    finally:
        spark.conf.set(CASE_MAPPINGS, old)


def test_case_mapping_paths_agree_on_engine_normalizers(spark):
    """Every engine normalizer that calls lower()/upper() gives the
    same rows on the ICU and the JVM path over the generator pages,
    the sf0.01 documents text and a multilingual list."""
    from aml_entity_resolution_assignment_spark.sources.generator import (
        generate_pages,
    )
    from tools import check_oracles

    pages = generate_pages(spark, n_entities=120, seed=11)
    docs = spark.read.parquet(os.path.join(check_oracles.SF, "documents.parquet"))
    strings = (
        pages.select(F.col("url").alias("s"))
        .unionByName(pages.select(F.col("text").alias("s")))
        .unionByName(docs.select(F.col("text").alias("s")))
        .unionByName(spark.createDataFrame([(s,) for s in _MULTILINGUAL], "s string"))
        .localCheckpoint()
    )

    def rows():
        out = strings.select(
            "s", *[e.alias(f"o{i}") for i, e in enumerate(_case_mapped(F.col("s")))]
        )
        return sorted(map(tuple, out.collect()), key=repr)

    icu = _with_case_mappings(spark, "true", rows)
    jvm = _with_case_mappings(spark, "false", rows)
    assert len(icu) > 2 * len(_MULTILINGUAL)
    assert icu == jvm


@pytest.mark.parametrize("language", ["tr", "az", "lt"])
def test_case_mapping_paths_agree_under_locales_with_own_case_rules(spark, language):
    """Both paths follow the JVM default locale: under Turkish,
    Azerbaijani and Lithuanian they apply the same locale rules (Spark's
    ICU path passes the default locale to ICU), so no locale needs ICU
    turned back on. In local mode the executors share the driver JVM,
    so setting its default locale sets theirs."""
    jlocale = spark.sparkContext._jvm.java.util.Locale
    old = jlocale.getDefault()
    strings = spark.createDataFrame([(s,) for s in _MULTILINGUAL], "s string").localCheckpoint()

    def rows():
        return [tuple(r) for r in strings.select("s", *_case_mapped(F.col("s"))).collect()]

    jlocale.setDefault(jlocale.forLanguageTag(language))
    try:
        icu = _with_case_mappings(spark, "true", rows)
        jvm = _with_case_mappings(spark, "false", rows)
    finally:
        jlocale.setDefault(old)
    assert icu == jvm
    lowered = {r[0]: r[1] for r in jvm}
    # the locale's own rule applied
    if language == "lt":
        assert lowered["ÌÍĨ Į́ J̃"] == "i̇̀i̇́i̇̃ į̇́ j̇̃"
    else:
        assert lowered["ISPARTA ılık"] == "ısparta ılık"


def _ranges(spans):
    return {cp for lo, hi in spans for cp in range(lo, hi + 1)}


# Letters added in Unicode 14-16: ICU case-maps them, the JDK 17 tables
# predate them. lower() differs on the capitals, upper() on their small
# partners.
_LOWER_DIFFERS = _ranges([
    (0x1C89, 0x1C89), (0x2C2F, 0x2C2F), (0xA7C0, 0xA7C0), (0xA7CB, 0xA7CC),
    (0xA7D0, 0xA7D0), (0xA7D6, 0xA7D6), (0xA7D8, 0xA7D8), (0xA7DA, 0xA7DA),
    (0xA7DC, 0xA7DC), (0x10570, 0x1057A), (0x1057C, 0x1058A),
    (0x1058C, 0x10592), (0x10594, 0x10595), (0x10D50, 0x10D65),
])
_UPPER_DIFFERS = _ranges([
    (0x019B, 0x019B), (0x0264, 0x0264), (0x1C8A, 0x1C8A), (0x2C5F, 0x2C5F),
    (0xA7C1, 0xA7C1), (0xA7CD, 0xA7CD), (0xA7D1, 0xA7D1), (0xA7D7, 0xA7D7),
    (0xA7D9, 0xA7D9), (0xA7DB, 0xA7DB), (0x10597, 0x105A1),
    (0x105A3, 0x105B1), (0x105B3, 0x105B9), (0x105BB, 0x105BC),
    (0x10D70, 0x10D85),
])


def test_case_mapping_paths_differ_only_on_pinned_code_points(spark):
    """Over all 1,112,064 scalar code points, each in a "c Ac?c"
    context, lower() and upper() differ between the ICU and the JVM
    path on exactly the pinned 67 + 67 code points. A JDK or ICU
    upgrade that changes either table fails here."""
    assert len(_LOWER_DIFFERS) == len(_UPPER_DIFFERS) == 67
    cps = spark.range(0, 0x110000).where(
        (F.col("id") < 0xD800) | (F.col("id") > 0xDFFF)
    )
    # the code point as one character: 4 UTF-32 (big-endian) bytes
    ch = F.decode(F.unhex(F.lpad(F.hex("id"), 8, "0")), "UTF-32")
    s = F.concat(F.lit("c Ac"), ch, F.lit("c"))

    def hashes():
        return cps.select(
            "id", F.xxhash64(F.lower(s)).alias("lo"), F.xxhash64(F.upper(s)).alias("up")
        ).toPandas()

    icu = _with_case_mappings(spark, "true", hashes)
    jvm = _with_case_mappings(spark, "false", hashes)
    assert len(icu) == len(jvm) == 1_112_064
    assert (icu["id"].to_numpy() == jvm["id"].to_numpy()).all()
    assert set(icu["id"][icu["lo"] != jvm["lo"]]) == _LOWER_DIFFERS
    assert set(icu["id"][icu["up"] != jvm["up"]]) == _UPPER_DIFFERS
