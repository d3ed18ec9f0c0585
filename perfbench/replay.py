"""In-process replay of ``extract_document`` with a timer per step.

The replay calls the same public functions as
``crawspark.oracle.extract.extract_document``, in the same order, and
asserts for every document that its output equals ``extract_document``'s,
so it cannot drift from the program. Times are self seconds per step.
"""

from __future__ import annotations

import base64
import re
import time

from crawspark.oracle.cleaner import clean_document
from crawspark.oracle.encoding import decode_bytes
from crawspark.oracle.extract import extract_document, fix_mojibake
from crawspark.oracle.fastparse import parse_html_fast
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
from crawspark.oracle.stats import NodeStats

STEPS = ("parse", "meta", "decode", "lang", "clean", "score", "format", "pdf")
ROUTES = ("html", "html_b64", "pdf", "text")
_RE_HAS_TAG = re.compile(r"<\s*[a-zA-Z]")


class _Clock:
    def __init__(self):
        self.s = dict.fromkeys(STEPS, 0.0)
        self._t = time.perf_counter()

    def lap(self, step: str) -> None:
        now = time.perf_counter()
        self.s[step] += now - self._t
        self._t = now

    def skip(self) -> None:
        self._t = time.perf_counter()


def _html_chunk(s: dict) -> str:
    if s.get("kind") == "html":
        return s.get("text") or ""
    try:
        raw = base64.b64decode(s.get("text") or "", validate=False)
    except (ValueError, TypeError):
        return ""
    return decode_bytes(raw, s.get("media_ref") or "")


def _replay_one(doc_id: str, spans: list[dict], clock: _Clock) -> tuple[dict, bool]:
    """One document through the extraction steps. Returns the result in
    ``extract_document``'s shape and whether the HTML was re-parsed."""
    clock.skip()
    ordered = sorted(spans, key=lambda s: s.get("offset") or 0)
    html_payload = "".join(_html_chunk(s) for s in ordered
                           if s.get("kind") in ("html", "html_b64"))
    pdf_payloads = [s.get("text") or "" for s in ordered if s.get("kind") == "pdf"]
    text_payloads = [s.get("text") or "" for s in ordered if s.get("kind") == "text"]
    media_spans = [s for s in ordered if s.get("kind") == "media"]
    clock.lap("decode")

    out: list[tuple[str, str, str]] = []
    title, lang, publish_date = "", "", ""
    outlinks: list[str] = []
    tags: list[str] = []
    reparsed = False
    if html_payload and _RE_HAS_TAG.search(html_payload):
        root = parse_html_fast(html_payload)
        clock.lap("parse")
        meta = extract_meta(root)
        clock.lap("meta")
        payload = fix_mojibake(html_payload, meta.get("charset", ""))
        clock.lap("decode")
        if payload is not html_payload:
            reparsed = True
            root = parse_html_fast(payload)
            clock.lap("parse")
            meta = extract_meta(root)
            clock.lap("meta")
        title = extract_title(root)
        clock.lap("meta")
        body = root.find_first("body") or root
        lang = detect_lang(meta["lang"], body.text())
        clock.lap("lang")
        base_url = meta["base_href"] or meta["canonical"]
        publish_date, tags = extract_publish_date_and_tags(root)
        clock.lap("meta")
        clean_document(root)
        clock.lap("clean")
        memo = NodeStats(lang)
        top = score_nodes(root, lang, memo)
        clock.lap("score")
        if top is not None:
            roots = merge_siblings(top, lang, memo)
            out.extend(format_content(roots, lang, base_url, memo))
            outlinks = extract_outlinks(roots, base_url)
            clock.lap("format")

    for payload in pdf_payloads:
        for page_text in extract_pdf_text(payload):
            out.append(("text", page_text, ""))
    clock.lap("pdf")
    for payload in text_payloads:
        cleaned = " ".join(payload.split())
        if cleaned:
            out.append(("text", cleaned, ""))
    clock.lap("format")
    if not lang:
        lang = detect_lang("", " ".join(t for _, t, _ in out))
        clock.lap("lang")
    for m in media_spans:
        ref = m.get("media_ref") or ""
        if ref:
            out.append((media_kind_for_ref(ref), (m.get("text") or "").strip(), ref))

    final = []
    if title:
        final.append({"kind": "title", "text": title, "media_ref": None, "offset": 0})
    for kind, text, ref in out:
        final.append({"kind": kind, "text": text, "media_ref": ref or None,
                      "offset": len(final)})
    clock.lap("format")
    return ({"doc_id": doc_id, "spans": final, "lang": lang,
             "n_spans": len(final), "title": title, "outlinks": outlinks,
             "publish_date": publish_date, "tags": tags}, reparsed)


def route(doc: dict) -> str:
    kinds = [s["kind"] for s in doc["spans"] if s["kind"] != "media"]
    return kinds[0] if kinds else "media"


def replay(docs: list[dict]) -> dict:
    """Replay ``docs``; per-layer ``oracle.*`` metrics plus ``mismatches``,
    the documents whose replay differs from ``extract_document``."""
    clock = _Clock()
    routes = dict.fromkeys(ROUTES, 0)
    reparses = html_docs = with_content = empty = mismatches = 0
    for doc in docs:
        got, reparsed = _replay_one(doc["doc_id"], doc["spans"], clock)
        if got != extract_document(doc["doc_id"], doc["spans"]):
            mismatches += 1
        r = route(doc)
        if r in routes:
            routes[r] += 1
        if r in ("html", "html_b64"):
            html_docs += 1
            reparses += reparsed
        with_content += any(s["kind"] == "text" for s in got["spans"])
        empty += not got["spans"]
    n = max(len(docs), 1)
    metrics = {f"oracle.{k}_s": v for k, v in clock.s.items()}
    metrics.update({f"oracle.route_{k}": v for k, v in routes.items()})
    metrics["oracle.doc_ms"] = 1000 * sum(clock.s.values()) / n
    metrics["oracle.reparse_ratio"] = reparses / max(html_docs, 1)
    metrics["oracle.yield_ratio"] = with_content / n
    metrics["oracle.empty_docs"] = empty
    return {"metrics": metrics, "mismatches": mismatches}
