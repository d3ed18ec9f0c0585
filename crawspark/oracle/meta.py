"""Title / meta / language / canonical extraction (pre-clean stage).

Reference loci (reconstructed): [R: goose/extractors.py::get_title,
::get_meta_description, ::get_meta_keywords, ::get_meta_lang,
::get_canonical_link].
"""

from __future__ import annotations

import re

from crawspark.oracle.dom import Document, Node
from crawspark.oracle.stats import tokenize, tokenize_for_lang
from crawspark.rules import STOPWORDS, TITLE_SPLITTERS, VOTE_LANGS

_RE_LANG = re.compile(r"^[a-zA-Z]{2}")


def extract_title(root: Document) -> str:
    """<title> text with the site-name fragment stripped: split on the
    first splitter present, keep the LONGEST fragment [R: get_title]."""
    tnode = root.first("title")
    if tnode is None:
        h1 = root.first("h1")
        return h1.text() if h1 is not None else ""
    title = tnode.text()
    for splitter in TITLE_SPLITTERS:
        if splitter in title:
            parts = [p.strip() for p in title.split(splitter)]
            parts = [p for p in parts if p]
            if parts:
                title = max(parts, key=len)  # ties: first longest (max is stable)
            break
    return title.strip()


def extract_meta(root: Document) -> dict[str, str]:
    """description / keywords / lang / canonical / base_href / charset."""
    out = {"description": "", "keywords": "", "lang": "", "canonical": "",
           "base_href": "", "charset": ""}
    html = root.first("html")
    if html is not None and html.attr("lang"):
        m = _RE_LANG.match(html.attr("lang"))
        if m:
            out["lang"] = m.group(0).lower()
    for meta in root.elements("meta"):
        name = meta.attr("name").lower()
        http_equiv = meta.attr("http-equiv").lower()
        content = meta.attr("content")
        if meta.attr("charset"):
            out["charset"] = meta.attr("charset").lower()
        if name == "description" and not out["description"]:
            out["description"] = content.strip()
        elif name == "keywords" and not out["keywords"]:
            out["keywords"] = content.strip()
        elif name in ("lang", "language") and not out["lang"]:
            m = _RE_LANG.match(content)
            if m:
                out["lang"] = m.group(0).lower()
        elif http_equiv == "content-language" and not out["lang"]:
            m = _RE_LANG.match(content)
            if m:
                out["lang"] = m.group(0).lower()
        elif http_equiv == "content-type" and "charset=" in content.lower():
            out["charset"] = content.lower().split("charset=")[-1].strip()
    for link in root.elements("link"):
        if link.attr("rel").lower() == "canonical" and not out["canonical"]:
            out["canonical"] = link.attr("href").strip()
    base = root.first("base")
    if base is not None:
        out["base_href"] = base.attr("href").strip()
    return out


_DATE_META_NAMES = (
    # priority order, first non-empty wins [R: goose/extractors.py::
    # get_publish_date known-tags walk; goose/configuration known date tags]
    ("property", "article:published_time"),
    ("itemprop", "datepublished"),
    ("name", "date"),
    ("name", "dc.date.issued"),
    ("name", "pubdate"),
    ("name", "sailthru.date"),
)


def _date_from(metas: list[Node], time_el: Node | None) -> str:
    for attr, want in _DATE_META_NAMES:
        for meta in metas:
            if meta.attr(attr).lower() == want:
                content = meta.attr("content").strip()
                if content:
                    return content
    if time_el is not None:
        return time_el.attr("datetime").strip()
    return ""


def _tags_from(anchors: list[Node]) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    for a in anchors:
        rel_words = a.attr("rel").lower().split()
        if "tag" not in rel_words and "/tag/" not in a.attr("href"):
            continue
        text = a.text()
        if text and text not in seen:
            seen.add(text)
            out.append(text)
    return out


def extract_publish_date_and_tags(root: Document) -> tuple[str, list[str]]:
    """Publish date + article tags, read from the parser's tag index.
    Semantics: see extract_publish_date / extract_tags."""
    return (_date_from(root.elements("meta"), root.first("time")),
            _tags_from(root.elements("a")))


def extract_publish_date(root: Document) -> str:
    """Publish date from known meta tags (priority order), falling back to
    the first ``<time datetime=...>`` element. Returns the raw trimmed
    attribute value ('' when absent) — normalization is the consumer's
    job; determinism is this function's."""
    return extract_publish_date_and_tags(root)[0]


def extract_tags(root: Document) -> list[str]:
    """Article tags: text of anchors carrying rel="tag" (word match) or a
    '/tag/' path segment [R: goose/extractors.py::extract_tags — the
    a[rel=tag] CSS walk]. Document order, deduped, empty texts dropped."""
    return extract_publish_date_and_tags(root)[1]


def detect_lang(meta_lang: str, text: str) -> str:
    """Meta lang wins when we ship a stopword table for it; else a
    stopword vote across VOTE_LANGS, earlier language winning ties
    (en first keeps the pre-v2 "tie → en" behavior)
    [R: get_meta_lang + goose/resources/text/stopwords-<lang>.txt —
    the reference honors the page-declared language when it has a
    stopword list, else falls back to english].

    zh and ja are voted on per-character tokens (no whitespace word
    boundaries; ja adds the kana blocks); other languages on lowercased
    punctuation-split words. Deterministic: pure function of
    (meta_lang, text)."""
    if meta_lang in STOPWORDS:
        return meta_lang
    words = tokenize(text)
    # ONE per-character scan serves both CJK votes: the ja token stream
    # is a superset of the zh one (Han ∪ kana ∪ latin runs) and the zh
    # table is Han-only single characters, so counting zh stopwords over
    # the ja stream gives the identical count as a dedicated zh scan
    # (r5 review finding: two full-text regex passes per document on the
    # extraction hot path).
    cjk_toks = None
    best_lang, best_count = "en", -1
    for lang in VOTE_LANGS:
        sw = STOPWORDS[lang]
        if lang in ("zh", "ja"):
            if cjk_toks is None:
                cjk_toks = tokenize_for_lang(text, "ja")
            count = sum(1 for t in cjk_toks if t in sw)
        else:
            count = sum(1 for w in words if w in sw)
        if count > best_count:
            best_lang, best_count = lang, count
    return best_lang
