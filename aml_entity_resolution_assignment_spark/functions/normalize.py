"""Normalization layer (reference: /root/reference/src/preprocessing.py:18-130).

Two families:

1. **Column-expression normalizers** — pure `pyspark.sql.functions`
   compositions (JVM-side, whole-stage-codegen'd): national-id, email,
   phone, blocking-key guards, multi-format date parsing. These are the
   reference's normalize_* functions re-expressed declaratively so
   Catalyst can fold/push them.

2. **Arrow-batched pandas UDF normalizers** — only where Spark has no
   built-in: ASCII transliteration (unidecode analog) used by text /
   address / hostname normalization.

Graft domain (BASELINE.json input_hint): records are web pages; the
role of "name" is played by (hostname, title, body text), so this module
also provides hostname/url/title normalizers built from the same
primitives.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# ---------------------------------------------------------------------------
# ASCII fold (reference normalize_text, preprocessing.py:18-22, uses
# unidecode). NFKD strips combining marks; the table below covers the
# Latin letters that do NOT decompose (unidecode handles these too).
# ---------------------------------------------------------------------------

_NFKD_EXTRA = str.maketrans(
    {
        "ł": "l", "Ł": "L", "ø": "o", "Ø": "O", "đ": "d", "Đ": "D",
        "ß": "ss", "æ": "ae", "Æ": "AE", "œ": "oe", "Œ": "OE",
        "þ": "th", "Þ": "TH", "ð": "d", "Ð": "D", "ı": "i",
    }
)


def ascii_fold(text: str) -> str:
    """Transliterate to ASCII: NFKD-decompose, drop combining marks,
    map non-decomposable Latin letters. Lowercases and strips, matching
    reference normalize_text (None -> '')."""
    if text is None:
        return ""
    folded = unicodedata.normalize("NFKD", str(text).translate(_NFKD_EXTRA))
    return folded.encode("ascii", "ignore").decode("ascii").lower().strip()


def batch_ascii_fold(s: pd.Series) -> pd.Series:
    return s.map(ascii_fold).astype(str)


def norm_text_udf() -> Column:
    """Factory for the one pandas UDF the normalize layer needs."""
    return F.pandas_udf(batch_ascii_fold, StringType())


# ---------------------------------------------------------------------------
# Pure column-expression normalizers (reference preprocessing.py:24-80)
# ---------------------------------------------------------------------------


def norm_national_id(c: Column) -> Column:
    """Strip non-alphanumerics, uppercase (preprocessing.py:24-30)."""
    cleaned = F.regexp_replace(c.cast("string"), r"[^a-zA-Z0-9]", "")
    return F.coalesce(F.upper(cleaned), F.lit(""))


def norm_email(c: Column) -> Column:
    """Lower/strip; drop dots from the local part only
    (preprocessing.py:32-42)."""
    t = F.lower(F.trim(c.cast("string")))
    local = F.replace(F.split_part(t, F.lit("@"), F.lit(1)), F.lit("."), F.lit(""))
    domain = F.split_part(t, F.lit("@"), F.lit(2))
    dotted = F.concat(local, F.lit("@"), domain)
    return F.coalesce(F.when(t.contains("@"), dotted).otherwise(t), F.lit(""))


def norm_phone(c: Column) -> Column:
    """Digits only -> strip leading zeros -> strip country code
    48/1/34 at len 11, 49 at len >= 12 (preprocessing.py:44-80)."""
    digits = F.regexp_replace(c.cast("string"), r"\D", "")
    digits = F.regexp_replace(digits, r"^0+", "")
    n = F.length(digits)
    return F.coalesce(
        F.when((n == 11) & digits.startswith("48"), digits.substr(F.lit(3), n))
        .when((n == 11) & digits.startswith("1"), digits.substr(F.lit(2), n))
        .when((n == 11) & digits.startswith("34"), digits.substr(F.lit(3), n))
        .when((n >= 12) & digits.startswith("49"), digits.substr(F.lit(3), n))
        .otherwise(digits),
        F.lit(""),
    )


def get_soundex(c: Column) -> Column:
    """F6 (preprocessing.py:132-136): soundex code with the reference's
    '0000' empty sentinel. Spark's built-in F.soundex is JVM-side; like
    the reference, this is an AVAILABLE function, not part of the
    default blocking flow (LSH replaced it — README.md:63)."""
    folded = norm_text_udf()(c)
    # '0000' also for non-codable input (no leading letter): Spark's
    # built-in passes such strings through unchanged, which would leak
    # raw values into a blocking key
    return F.when(
        (c.isNull()) | (~folded.rlike("^[a-zA-Z]")), F.lit("0000")
    ).otherwise(F.soundex(folded))


# Address abbreviation expansion (preprocessing.py:100-125): short -> long
# only, \b-anchored, applied after punctuation strip + ascii fold.
_ADDR_REPLACEMENTS = [
    (r"\bst\b", "street"), (r"\bave\b", "avenue"), (r"\brd\b", "road"),
    (r"\bblvd\b", "boulevard"), (r"\bdr\b", "drive"), (r"\bln\b", "lane"),
    (r"\bapt\b", "apartment"), (r"\bste\b", "suite"),
    (r"\bul\b", "ulica"), (r"\bal\b", "aleja"), (r"\bos\b", "osiedle"),
    (r"\bm\b", "mieszkanie"),
    (r"\bc\b", "calle"), (r"\bav\b", "avenida"), (r"\bpza\b", "plaza"),
    (r"\bpso\b", "paseo"),
    (r"\bstr\b", "strasse"), (r"\bpl\b", "platz"),
]


def norm_address(c: Column) -> Column:
    """ASCII-folded, punctuation-stripped, abbreviations expanded
    (preprocessing.py:82-130). The ascii fold rides the pandas UDF; the
    17 regex replacements stay JVM-side."""
    t = norm_text_udf()(c)
    t = F.regexp_replace(t, r"[^\w\s]", "")
    for pat, repl in _ADDR_REPLACEMENTS:
        t = F.regexp_replace(t, pat, repl)
    return t


_DATE_FORMATS = ["yyyy-MM-dd", "dd/MM/yyyy", "MM-dd-yyyy", "yyyy/MM/dd"]


def norm_date(c: Column) -> Column:
    """Multi-format date parse -> DateType or null.

    The reference uses pandas format='mixed' guessing
    (preprocessing.py:181); we pin the generator's four formats
    (generation.py:41-51) via try_to_date coalesce — deterministic
    equivalent (documented intentional fix, SURVEY.md §7)."""
    s = F.trim(c.cast("string"))
    return F.coalesce(*[F.try_to_date(s, fmt) for fmt in _DATE_FORMATS])


def norm_date_year(date_col: Column) -> Column:
    """'1990'-style year string with '0000' null sentinel
    (preprocessing.py:187)."""
    return F.coalesce(
        F.lpad(F.year(date_col).cast("string"), 4, "0"), F.lit("0000")
    )


# ---------------------------------------------------------------------------
# Graft-domain normalizers: url / hostname / title / body text
# ---------------------------------------------------------------------------


def url_host(c: Column) -> Column:
    """Raw hostname from a url column (JVM-side parse_url)."""
    return F.lower(F.try_parse_url(c, F.lit("HOST")))


def norm_hostname(c: Column) -> Column:
    """Normalized hostname: lowercase, strip port and leading www./m./
    mobile. labels. This is the graft analog of the reference's strong
    exact keys (bk_nid / bk_email)."""
    h = F.lower(F.trim(c.cast("string")))
    h = F.regexp_replace(h, r":\d+$", "")
    h = F.regexp_replace(h, r"^(www\d?|m|mobile)\.", "")
    return F.coalesce(h, F.lit(""))


def norm_url_for_match(c: Column) -> Column:
    """Canonical url string for fuzzy comparison: scheme stripped,
    tracking query params and fragments removed, trailing slash
    trimmed."""
    u = F.lower(F.trim(c.cast("string")))
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"[?#].*$", "")
    u = F.regexp_replace(u, r"^(www\d?|m|mobile)\.", "")
    u = F.regexp_replace(u, r"/+$", "")
    return F.coalesce(u, F.lit(""))


def norm_title(c: Column) -> Column:
    """ASCII-folded title with collapsed whitespace (role of
    norm_first_name/norm_last_name)."""
    t = norm_text_udf()(c)
    return F.regexp_replace(t, r"\s+", " ")


def norm_body_text(c: Column) -> Column:
    """Lowercased, whitespace-collapsed body text for shingling. Pure
    JVM expression — the raw extracted text itself is never altered
    (byte-identity invariant applies to extraction, not matching)."""
    t = F.lower(F.trim(c.cast("string")))
    return F.coalesce(F.regexp_replace(t, r"\s+", " "), F.lit(""))


# ---------------------------------------------------------------------------
# HTML text extraction (input_hint invariant: byte-identical text per url)
# ---------------------------------------------------------------------------

_TITLE_RE = re.compile(r"<title>(.*?)</title>", re.S)
_BODY_RE = re.compile(r"<body>(.*?)</body>", re.S)
_TAG_RE = re.compile(r"<[^>]+>")


def extract_text(html: bytes | str | None) -> str | None:
    """Deterministic text extractor for the engine's page HTML shape.

    Strips tags inside <body>, decodes entities for & < >, collapses
    nothing (whitespace is preserved exactly as authored) — this is the
    inverse of sources.generator.render_html and is tested to reproduce
    the `text` column byte-identically per url."""
    if html is None:
        return None
    s = html.decode("utf-8") if isinstance(html, (bytes, bytearray)) else str(html)
    m = _BODY_RE.search(s)
    if not m:
        return None
    body = _TAG_RE.sub("", m.group(1))
    return (
        body.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&").strip()
    )


def extract_title(html: bytes | str | None) -> str | None:
    if html is None:
        return None
    s = html.decode("utf-8") if isinstance(html, (bytes, bytearray)) else str(html)
    m = _TITLE_RE.search(s)
    if not m:
        return None
    t = _TAG_RE.sub("", m.group(1))
    return t.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&").strip()


def batch_extract_title(html: pd.Series) -> pd.Series:
    return html.map(extract_title)


def extract_title_udf() -> Column:
    return F.pandas_udf(batch_extract_title, StringType())
