"""Charset detection + transcoding for raw crawl bytes.

Real crawl HTML arrives as bytes in whatever encoding the origin
server chose; pipelines that blindly `cast("string")` mis-decode the
~15-20% of the web that is not UTF-8. This module implements the
HTML5 encoding-sniffing order (WHATWG) restricted to what can be done
deterministically without a transport layer:

  1. BOM (UTF-8 / UTF-16LE / UTF-16BE) — authoritative;
  2. `<meta ... charset=...>` declaration in the first 1024 bytes
     (scanned on the latin-1 view, which is byte-transparent);
  3. strict UTF-8 validation (the dominant correct case);
  4. windows-1252 fallback (the HTML5 default for unlabeled legacy
     content; decodes any byte sequence, so the pipeline never drops
     a page for encoding reasons).

The reference repo ingests pre-decoded CSVs; this is the byte-level
front door its pipeline never needed but a WARC-fed one does.
"""

from __future__ import annotations

import codecs
import re

_META_RE = re.compile(
    r"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_.:-]+)""",
    re.IGNORECASE,
)

# label -> python codec, per the WHATWG encoding registry's common rows
_LABELS = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "iso-8859-1": "cp1252",  # WHATWG maps latin-1 labels to cp1252
    "latin-1": "cp1252", "latin1": "cp1252",
    "iso-8859-2": "iso8859-2", "iso-8859-15": "iso8859-15",
    "us-ascii": "utf-8", "ascii": "utf-8",
    "utf-16": "utf-16", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
}


def detect_and_decode(payload: bytes | None) -> tuple[str | None, str | None]:
    """(text, charset) for a raw HTML/text payload; (None, None) for
    missing payloads. Never raises on hostile bytes — the final
    fallback decodes anything."""
    if payload is None:
        return None, None
    b = bytes(payload)
    if b[:3] == codecs.BOM_UTF8:
        return b[3:].decode("utf-8", "replace"), "utf-8"
    if b[:2] == codecs.BOM_UTF16_LE:
        return b[2:].decode("utf-16-le", "replace"), "utf-16-le"
    if b[:2] == codecs.BOM_UTF16_BE:
        return b[2:].decode("utf-16-be", "replace"), "utf-16-be"
    head = b[:1024].decode("latin-1")
    m = _META_RE.search(head)
    if m:
        codec = _LABELS.get(m.group(1).lower())
        if codec is not None and not codec.startswith("utf-16"):
            # a BOM-less utf-16 meta label cannot be honored (the meta
            # itself would be unreadable in utf-16): fall through
            return b.decode(codec, "replace"), codec
    try:
        return b.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        return b.decode("cp1252", "replace"), "cp1252"


def decode_html_col(col):
    """Arrow-batched column form: binary -> struct(text, charset)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _k(s):
        rows = [detect_and_decode(v) for v in s]
        return pd.DataFrame(
            {"text": [r[0] for r in rows], "charset": [r[1] for r in rows]}
        )

    _k = pandas_udf(_k, "text string, charset string")

    return _k(col)
