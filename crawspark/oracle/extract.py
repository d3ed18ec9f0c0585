"""Top-level per-document extraction: interleaved input spans → output spans.

This is the fused per-document chain (SURVEY.md §3.2): decode → parse →
meta/title → clean → score → sibling merge → format → media resolve —
executed once per document inside a vectorized Arrow batch. It is also the
frozen golden-fixture oracle (SURVEY.md §5.2.1): one implementation, two
harnesses.

Reference chain replicated (reconstructed): [R: goose/crawler.py::
Crawler.crawl — encoding → parse → clean → calculate_best_node →
output format → image/video extraction].

Span model (FIXTURES.md §1.1-1.2):
- input:  kind ∈ {html, pdf, text, media}; html chunks concatenate in
  offset order; pdf payloads are latin-1-mapped bytes; media spans carry
  media_ref (+ optional caption in text).
- output: kind ∈ {title, text, image, video}; title (if any) at offset 0;
  html-derived content spans in DOM order; input-level media spans resolve
  AFTER the payload-derived spans, in input offset order (fixed rule — the
  payload parse cannot interleave into a concatenated chunk stream);
  offsets dense 0..n-1.
"""

from __future__ import annotations

import re

from crawspark.oracle.cleaner import clean_document
# parse_html_fast builds the identical tree (differential-tested against
# the stdlib path in tests/test_fastparse.py) at ~2x throughput.
from crawspark.oracle.fastparse import parse_html_fast as parse_html
from crawspark.oracle.formatter import extract_outlinks, format_content
from crawspark.oracle.media import media_kind_for_ref
from crawspark.oracle.meta import (
    detect_lang,
    extract_meta,
    extract_publish_date_and_tags,
    extract_title,
)
from crawspark.oracle.pdfparse import extract_pdf_text
from crawspark.oracle.scorer import merge_siblings, score_nodes
from crawspark.rules import STOPWORDS

_RE_MOJIBAKE = re.compile(r"Ã[\x80-\xbf-¿]|â€")
# Sparser-style raw pre-filter (PAPERS.md:L6): a payload with no tag at all
# cannot produce DOM content — short-circuit before tokenizing.
_RE_HAS_TAG = re.compile(r"<\s*[a-zA-Z]")

InSpan = dict   # {kind, text, media_ref, offset}
OutSpan = dict  # same shape


def fix_mojibake(text: str, declared_charset: str) -> str:
    """Undo a latin-1-as-utf-8 mis-decode when the page declares utf-8 and
    the text shows the classic mojibake byte pairs
    [R: goose/utils/encoding.py::smart_unicode, meta-charset override]."""
    if declared_charset.startswith("utf") and _RE_MOJIBAKE.search(text):
        try:
            return text.encode("latin-1").decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            return text
    return text


def _html_chunk(s: InSpan) -> str:
    """Text of an html-bearing input span. ``html`` spans are pre-decoded
    strings; ``html_b64`` spans carry RAW PAYLOAD BYTES (base64 in the
    text field, transport-declared charset — if any — in media_ref) and go
    through the full byte-level decode chain (oracle/encoding.py)."""
    if s.get("kind") == "html":
        return s.get("text") or ""
    import base64

    from crawspark.oracle.encoding import decode_bytes
    try:
        raw = base64.b64decode(s.get("text") or "", validate=False)
    except (ValueError, TypeError):
        return ""
    return decode_bytes(raw, s.get("media_ref") or "")


def extract_document(doc_id: str, spans: list[InSpan]) -> dict:
    """Extract one interleaved document. Returns ``{doc_id, spans:
    [OutSpan], lang, n_spans, title, outlinks, publish_date, tags}``.

    Deterministic: pure function of (doc_id, spans). Never raises on
    garbage payloads (emits an empty span list instead)."""
    ordered = sorted(spans, key=lambda s: s.get("offset") or 0)
    html_payload = "".join(
        _html_chunk(s) for s in ordered if s.get("kind") in ("html", "html_b64")
    )
    pdf_payloads = [s.get("text") or "" for s in ordered if s.get("kind") == "pdf"]
    text_payloads = [s.get("text") or "" for s in ordered if s.get("kind") == "text"]
    media_spans = [s for s in ordered if s.get("kind") == "media"]

    out: list[tuple[str, str, str]] = []  # (kind, text, media_ref)
    title = ""
    lang = ""
    outlinks: list[str] = []
    publish_date = ""
    tags: list[str] = []

    if html_payload and _RE_HAS_TAG.search(html_payload):
        root = parse_html(html_payload)
        meta = extract_meta(root)
        payload = fix_mojibake(html_payload, meta.get("charset", ""))
        if payload is not html_payload:
            root = parse_html(payload)
            meta = extract_meta(root)
        title = extract_title(root)
        lang = meta["lang"]
        if lang not in STOPWORDS:
            # detect_lang keeps a meta lang it has stopwords for without
            # reading the text, so build the body text only for the vote
            body = root.first("body") or root
            lang = detect_lang(lang, body.text())
        base_url = meta["base_href"] or meta["canonical"]
        # date + tags read PRE-clean (the tag bar / footer anchors they
        # live in are exactly what the cleaner strips)
        publish_date, tags = extract_publish_date_and_tags(root)
        clean_document(root)
        # one stats memo for the whole post-clean pipeline (tree is
        # structurally frozen from here; scorer only writes .score)
        from crawspark.oracle.stats import NodeStats
        memo = NodeStats(lang)
        top = score_nodes(root, lang, memo)
        if top is not None:
            roots = merge_siblings(top, lang, memo)
            out.extend(format_content(roots, lang, base_url, memo))
            outlinks = extract_outlinks(roots, base_url)

    for payload in pdf_payloads:
        for page_text in extract_pdf_text(payload):
            out.append(("text", page_text, ""))

    for payload in text_payloads:
        cleaned = " ".join(payload.split())
        if cleaned:
            out.append(("text", cleaned, ""))

    if not lang:
        lang = detect_lang("", " ".join(t for _, t, _ in out))

    for m in media_spans:
        ref = m.get("media_ref") or ""
        if not ref:
            continue
        out.append((media_kind_for_ref(ref), (m.get("text") or "").strip(), ref))

    final: list[OutSpan] = []
    offset = 0
    if title:
        final.append({"kind": "title", "text": title, "media_ref": None,
                      "offset": 0})
        offset = 1
    for kind, text, ref in out:
        final.append({"kind": kind, "text": text,
                      "media_ref": ref if ref else None, "offset": offset})
        offset += 1

    return {
        "doc_id": doc_id,
        "spans": final,
        "lang": lang,
        "n_spans": len(final),
        "title": title,
        "outlinks": outlinks,
        "publish_date": publish_date,
        "tags": tags,
    }
