"""Byte-level charset decode chain (oracle/encoding.py) — BOMs, meta
sniffing, lying declarations, garbage resilience, and the html_b64
integration into extract_document."""

from __future__ import annotations

import base64

from crawspark.oracle import extract_document
from crawspark.oracle.encoding import decode_bytes, sniff_meta_charset

ACCENTED = "march\xe9 r\xe9sum\xe9 na\xefve \xb5"


def test_utf8_plain():
    assert decode_bytes(ACCENTED.encode("utf-8")) == ACCENTED


def test_utf8_bom_stripped():
    data = b"\xef\xbb\xbf" + ACCENTED.encode("utf-8")
    assert decode_bytes(data) == ACCENTED


def test_utf16_le_bom():
    assert decode_bytes(ACCENTED.encode("utf-16")) == ACCENTED


def test_utf16_be_bom():
    data = b"\xfe\xff" + ACCENTED.encode("utf-16-be")
    assert decode_bytes(data) == ACCENTED


def test_utf32_le_bom():
    assert decode_bytes(ACCENTED.encode("utf-32")) == ACCENTED


def test_latin1_undeclared_detected():
    # No BOM, no meta, no declaration: statistical detection must land on
    # a latin-1-compatible codec for western text.
    text = "the market report was ready " * 4 + ACCENTED
    assert decode_bytes(text.encode("latin-1")) == text


def test_meta_charset_beats_wrong_declaration():
    html = f'<html><head><meta charset="iso-8859-1"></head><body><p>{ACCENTED}</p></body></html>'
    data = html.encode("latin-1")
    assert sniff_meta_charset(data) == "iso-8859-1"
    # transport header lies utf-16; meta sniff must win
    assert decode_bytes(data, "utf-16") == html


def test_meta_http_equiv_form():
    html = ('<head><meta http-equiv="Content-Type" '
            'content="text/html; charset=ISO-8859-1"></head>' + ACCENTED)
    assert decode_bytes(html.encode("latin-1")) == html


def test_lying_utf8_declaration_falls_through():
    # Declared utf-8 over latin-1 bytes: strict decode fails, the chain
    # must NOT mangle with replacement chars but recover via detection.
    text = "and the winter garden story " * 4 + ACCENTED
    assert decode_bytes(text.encode("latin-1"), "utf-8") == text


def test_valid_declaration_honored():
    data = ACCENTED.encode("cp1252")
    assert decode_bytes(data, "cp1252") == ACCENTED


def test_undeclared_cp1252_bytes_valid_as_utf8_decode_as_utf8():
    # "Ã©" in cp1252 is b"\xc3\xa9", which is also valid UTF-8 for "é".
    # With no BOM, meta or declaration the strict-UTF-8 probe runs before
    # statistical detection and wins.
    data = "Ã©".encode("cp1252")
    assert data == "é".encode("utf-8")
    assert decode_bytes(data) == "é"
    assert decode_bytes(b"caf" + data + b" au lait") == "café au lait"


def test_unknown_declared_charset_ignored():
    assert decode_bytes(b"plain ascii", "klingon-8") == "plain ascii"


def test_empty_and_garbage_never_raise():
    assert decode_bytes(b"") == ""
    garbage = bytes(range(256)) * 3
    out = decode_bytes(garbage)
    assert isinstance(out, str) and len(out) > 0


def test_czech_cp1250_not_overridden_by_western_prior():
    # The western prior applies only among plausible matches; genuinely
    # central/eastern bytes exclude cp1252 from the match list entirely,
    # so the diacritics survive (review finding r2).
    czech = ("p\u0159\xedli\u0161 \u017elu\u0165ou\u010dk\xfd k\u016f\u0148 "
             "\xfap\u011bl \u010f\xe1belsk\xe9 \xf3dy " * 6
             + "\u010de\u0161tina \u0159e\u010d \u0161\u0165astn\xfd")
    assert decode_bytes(czech.encode("cp1250")) == czech
    short = "p\u0159\xedli\u0161 \u017elu\u0165ou\u010dk\xfd k\u016f\u0148 \u010de\u0161tina"
    assert decode_bytes(short.encode("cp1250")) == short


def test_cjk_and_cyrillic_detection():
    # Non-western undeclared payloads: detection must land on the right
    # codec and the western prior must not interfere (their match lists
    # never contain a latin-1-family codec).
    jp = "日本語のテキストです。" \
         "これは文字コード検出の" \
         "テストです。" * 3
    ru = "русский текст " \
         "для проверки " \
         "определения " \
         "кодировки " * 3
    for text, enc in [(jp, "shift_jis"), (jp, "euc-jp"), (jp, "utf-8"),
                      (ru, "koi8_r"), (ru, "cp1251")]:
        assert decode_bytes(text.encode(enc)) == text, enc


def test_decode_payloads_operator(spark):
    # Spark surface: binary payload column + optional declared-charset
    # column through the Arrow-batched chain.
    rows = [
        ("a", ACCENTED.encode("utf-8"), None),
        ("b", ACCENTED.encode("utf-16"), None),
        ("c", ACCENTED.encode("latin-1"), "latin-1"),
        ("d", ACCENTED.encode("latin-1"), "utf-8"),  # lying declaration
        ("e", b"", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, payload binary, charset string")
    from crawspark.operators.decode import decode_payloads
    got = {r["doc_id"]: r["text"] for r in
           decode_payloads(df, charset_col="charset").collect()}
    assert got == {"a": ACCENTED, "b": ACCENTED, "c": ACCENTED,
                   "d": ACCENTED, "e": ""}


def test_decode_never_raises_fuzz():
    # decode_bytes must be total: arbitrary bytes x arbitrary declared
    # charset never raise, and utf-8 inputs always round-trip.
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=400),
           st.sampled_from(["", "utf-8", "latin-1", "utf-16", "klingon-8",
                            "UTF-8", "ascii"]))
    def run(data, declared):
        out = decode_bytes(data, declared)
        assert isinstance(out, str)

    run()

    @settings(max_examples=200, deadline=None)
    @given(st.text(max_size=200))
    def roundtrip(text):
        # no BOM-prefix texts: a leading U+FEFF is indistinguishable from
        # a transport BOM by design
        if text.startswith("﻿"):
            return
        assert decode_bytes(text.encode("utf-8"), "utf-8") == text

    roundtrip()


def test_spark_extract_html_b64_spans(spark):
    # Spark-level: html_b64 spans flow through the Arrow extraction hop.
    import base64

    from crawspark.operators.extract import extract_documents
    from crawspark.schema import DOCUMENTS_INTERLEAVED

    html = ("<html><head><title>March\xe9 Report</title></head><body>"
            "<p>the market of the village was in the garden and it had "
            "a report for all of the winter there caf\xe9</p></body></html>")
    b64 = base64.b64encode(html.encode("latin-1")).decode("ascii")
    df = spark.createDataFrame(
        [("d1", [{"kind": "html_b64", "text": b64,
                  "media_ref": "latin-1", "offset": 0}]),
         ("d2", [{"kind": "html", "text": html,
                  "media_ref": None, "offset": 0}])],
        schema=DOCUMENTS_INTERLEAVED)
    rows = {r["doc_id"]: r.asDict(recursive=True)
            for r in extract_documents(df).collect()}
    assert rows["d1"]["spans"] == rows["d2"]["spans"]
    assert rows["d1"]["n_spans"] >= 1
    assert rows["d1"]["spans"][0]["text"] == "March\xe9 Report"


def test_extract_document_html_b64_equals_predecoded():
    html = ("<html><head><title>March\xe9 Report</title></head><body>"
            "<p>the market of the village was in the garden and it had "
            "a report for all of the winter there caf\xe9</p>"
            "<p>the story of the animal was in the history and it had "
            "a message for all of the people there r\xe9sum\xe9</p>"
            "</body></html>")
    plain = extract_document("d1", [
        {"kind": "html", "text": html, "media_ref": None, "offset": 0}])
    for enc, declared in (("utf-8", ""), ("utf-16", ""), ("latin-1", "latin-1")):
        b64 = base64.b64encode(html.encode(enc)).decode("ascii")
        got = extract_document("d1", [
            {"kind": "html_b64", "text": b64,
             "media_ref": declared or None, "offset": 0}])
        assert got["spans"] == plain["spans"], f"mismatch for {enc}"
        assert got["lang"] == plain["lang"]
    assert plain["n_spans"] >= 2  # sanity: the page actually extracted
