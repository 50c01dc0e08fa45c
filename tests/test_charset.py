"""Charset sniffing (functions/charset.py)."""

import codecs

from aml_entity_resolution_assignment_spark.functions.charset import (
    decode_html_col,
    detect_and_decode,
)

S = "café résumé — naïve €5"


def test_bom_branches():
    assert detect_and_decode(codecs.BOM_UTF8 + S.encode("utf-8")) == (
        S, "utf-8",
    )
    assert detect_and_decode(
        codecs.BOM_UTF16_LE + S.encode("utf-16-le")
    ) == (S, "utf-16-le")
    assert detect_and_decode(
        codecs.BOM_UTF16_BE + S.encode("utf-16-be")
    ) == (S, "utf-16-be")


def test_meta_declaration():
    page = f'<html><meta charset="windows-1252"><body>{S}</body></html>'
    text, cs = detect_and_decode(page.encode("cp1252"))
    assert cs == "cp1252" and S in text
    # latin-1 label maps to cp1252 per WHATWG (0x80-0x9F remap)
    page2 = f"<html><meta charset='iso-8859-1'><body>{S}</body></html>"
    text2, cs2 = detect_and_decode(page2.encode("cp1252"))
    assert cs2 == "cp1252" and S in text2
    # unknown label falls through to utf-8 sniffing
    page3 = f'<meta charset="klingon"><body>{S}</body>'
    assert detect_and_decode(page3.encode("utf-8"))[1] == "utf-8"
    # a bare utf-16 meta label (no BOM) cannot be honored
    page4 = f'<meta charset="utf-16"><body>hi</body>'
    assert detect_and_decode(page4.encode("ascii"))[1] == "utf-8"


def test_sniff_and_fallback():
    assert detect_and_decode(S.encode("utf-8")) == (S, "utf-8")
    text, cs = detect_and_decode(S.encode("cp1252"))
    assert cs == "cp1252" and text == S
    # every byte value decodes under the fallback — never raises
    text, cs = detect_and_decode(bytes(range(256)))
    assert cs == "cp1252" and text is not None
    assert detect_and_decode(None) == (None, None)
    assert detect_and_decode(b"") == ("", "utf-8")


def test_column_forms(spark):
    from pyspark.sql import functions as F

    page_cp = f'<meta charset="windows-1252">{S}'.encode("cp1252")
    df = spark.createDataFrame(
        [
            ("a", S.encode("utf-8")),
            ("b", page_cp),
            ("c", codecs.BOM_UTF16_LE + S.encode("utf-16-le")),
            ("d", None),
        ],
        "id string, payload binary",
    )
    rows = {
        r["id"]: (r["d"]["text"], r["d"]["charset"])
        for r in df.select(
            "id", decode_html_col(F.col("payload")).alias("d")
        ).collect()
    }
    assert rows["a"] == (S, "utf-8")
    assert rows["b"][1] == "cp1252" and S in rows["b"][0]
    assert rows["c"] == (S, "utf-16-le")
    assert rows["d"] == (None, None)
