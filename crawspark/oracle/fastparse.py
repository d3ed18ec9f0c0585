"""Regex-scanner HTML tokenizer — a drop-in, behavior-identical replacement
for the stdlib ``html.parser`` feed loop (which costs ~40% of extraction
time; this scanner is pure-regex over the payload with one pass).

Behavioral contract: produce the SAME tree `dom._TreeBuilder` builds via
``HTMLParser.feed`` — verified by differential tests (all fixtures, the
synthetic corpus, and hypothesis byte-soup) in tests/test_fastparse.py.
Mirrored stdlib behaviors:
- convert_charrefs: inter-tag text arrives entity-decoded, as one chunk;
- script/style content is CDATA (raw text until the literal end tag,
  not entity-decoded, to EOF when unclosed);
- tolerant attr syntax via html.parser's own ``attrfind_tolerant`` regex
  (a run of plain ``name="value"`` pairs takes one ``findall`` that
  reads them the same way);
- comments / doctypes / PIs / marked sections dropped;
- ``<tag .../>`` → startendtag;
- markup-like ``<``-runs the scanner cannot consume (truncated tags,
  unterminated quoted attrs — html.parser's EOF-recovery paths are several
  and construct-specific: a bogus start tag is emitted as RAW data and the
  scan re-enters mid-"tag", an incomplete end tag advances one char, ...)
  delegate the WHOLE document to the stdlib path: behavior-identical by
  construction, and stalls only occur on malformed markup.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import (  # stdlib's own tolerant start-tag grammar
    attrfind_tolerant,
    locatestarttagend_tolerant,
    tagfind_tolerant,
)

from crawspark.oracle.dom import Document, _TreeBuilder, attr_dict, parse_html

# Tag-name char class copied from html.parser's tagfind_tolerant. The `*+`
# is load-bearing: without a possessive quantifier the final '>' requirement
# lets the engine backtrack INTO the name (e.g. "<p'var x='<p>'" would match
# as tag "p" with a quoted soup-attr, where stdlib commits to name "p'var"
# and bails) — names must match greedily-and-forever, like tagfind does.
_NAME = r"[a-zA-Z][^\t\n\r\f />\x00]*+"

_SCAN = re.compile(
    r"<!--.*?-->"                             # well-formed comment
    r"|<![^>]*>"                              # doctype / decl
    r"|<\?[^>]*>"                             # processing instruction
    # End tags are QUOTE-BLIND in html.parser (name parsed, then skip to
    # the first '>'). Two stdlib-accepted shapes: name immediately after
    # '</' (tagfind name class, junk tolerated up to '>'), or
    # whitespace-prefixed WELL-FORMED '</ name >' (endtagfind allows \s*
    # around its narrower name, but nothing else). '</ name junk>' falls
    # through parse_bogus_comment → dropped-to-'>', like any other bogus.
    rf"|</(?P<end>{_NAME})[^>]*>"
    r"|</\s*(?P<endws>[a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|</[^>]*>"                              # bogus end tag → dropped
    # Start-tag CANDIDATE: quote-aware soup locating a plausible closing
    # '>'. This only LOCATES the tag — the span html.parser would actually
    # consume is recomputed with locatestarttagend_tolerant below, because
    # stdlib's grammar differs in the weeds (quotes count as values only
    # after '=', a '>' inside a bare "quoted" run closes the tag, ...).
    rf"|<(?P<start>{_NAME})(?P<attrs>(?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>",
    re.DOTALL)

# A '<' that LOOKS like markup (letter / '/' / '!' / '?' next) but was not
# consumed by _SCAN is an incomplete construct; html.parser's recovery at
# close() depends on the construct (see module docstring), so any stall
# routes the document to the stdlib parser.
_STALL = re.compile(r"<[a-zA-Z!?/]")

# html.parser's cdata-mode "interesting" pattern (this Python's
# set_cdata_mode) is the FULL well-formed close ``</\s*name\s*>`` — a
# malformed candidate like ``</script">`` is not interesting at all: the
# scan skips it as raw CDATA, and an unclosed element buffers to EOF where
# close() drops the buffered text.
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}


# An attribute run of only ``name="value"`` pairs (plus an optional
# trailing '/'), with plain names and values free of '"', '<' and '>'. On
# such a run the candidate span is exactly stdlib's span and its
# attrfind_tolerant loop reads each pair as (name.lower(), unescape(value)),
# so one findall replaces _parse_starttag's per-tag and per-attribute
# regexes. Separators are the HTML whitespace set, a subset of the ``\s``
# html.parser accepts.
_WF_ATTRS = re.compile(
    r'(?:[\t\n\r\f ]+[a-zA-Z][-a-zA-Z0-9_:.]*="[^"<>]*")+[\t\n\r\f ]*/?')
_WF_ATTR = re.compile(r'([a-zA-Z][-a-zA-Z0-9_:.]*)="([^"<>]*)"')


def _parse_starttag(payload: str, s: int):
    """Mirror of ``HTMLParser.parse_starttag`` from position ``s`` (at '<').

    Returns ``(tag, attrs, endpos, selfclose)`` when stdlib would emit a
    start/startend tag, or ``None`` when stdlib would take a recovery path
    (incomplete tag at EOF, bogus leftovers → raw-data emit + rescan) — the
    caller delegates those documents to the reference parser wholesale.
    """
    lm = locatestarttagend_tolerant.match(payload, s)
    j = lm.end()
    nxt = payload[j:j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/" and payload.startswith("/>", j):
        endpos = j + 2
    else:
        return None  # incomplete / bogus start tag
    tm = tagfind_tolerant.match(payload, s + 1)
    tag = tm.group(1).lower()
    k = tm.end()
    attrs: list[tuple[str, str | None]] = []
    while k < endpos:
        am = attrfind_tolerant.match(payload, k)
        if not am:
            break
        name, rest, value = am.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        if value:
            value = unescape(value)
        attrs.append((name.lower(), value))
        k = am.end()
    leftover = payload[k:endpos].strip()
    if leftover == ">":
        return tag, attrs, endpos, False
    if leftover == "/>":
        return tag, attrs, endpos, True
    return None  # stdlib emits the raw span as data and rescans inside it


def _needs_reference_parser(payload: str) -> bool:
    """Rare constructs whose stdlib recovery is too baroque to replicate:
    marked sections and unclosed comments — delegate those whole documents
    to the html.parser path (still correct, just slower)."""
    if "<![" in payload:
        return True
    i = payload.find("<!--")
    while i != -1:
        if payload.find("-->", i + 4) == -1:
            return True
        i = payload.find("<!--", i + 4)
    return False


def parse_html_fast(payload: str) -> Document:
    """Single-pass scanner building the same tree as dom.parse_html."""
    if _needs_reference_parser(payload):
        return parse_html(payload)
    b = _TreeBuilder()
    try:
        pos = 0
        n = len(payload)
        while pos < n:
            m = _SCAN.search(payload, pos)
            if m is None:
                if _STALL.search(payload, pos) is not None:
                    # incomplete markup in the tail: stdlib recovery is
                    # construct-specific — delegate the whole document
                    return parse_html(payload)
                b.handle_data(unescape(payload[pos:]))
                break
            s, e = m.span()
            if s > pos:
                gap = payload[pos:s]
                if "<" in gap and _STALL.search(gap) is not None:
                    # incomplete markup in the gap (e.g. an unterminated
                    # quoted attr whose value contains a real tag later):
                    # delegate — html.parser may re-enter the scan mid-run
                    # and emit elements the swallow-to-EOF rule would lose
                    return parse_html(payload)
                b.handle_data(unescape(gap))
            pos = e
            kind = m.lastgroup
            if kind == "end" or kind == "endws":
                b.handle_endtag(m.group(kind).lower())
            elif kind == "attrs":
                start, raw_attrs = m.group("start", "attrs")
                tag = start.lower()
                if not raw_attrs or raw_attrs.isspace():
                    # attr-less tag (the common case): the candidate span IS
                    # the stdlib span — skip the verification regexes
                    b.add_element(tag, {})
                else:
                    if _WF_ATTRS.fullmatch(raw_attrs) is not None:
                        attrs = [(k.lower(), unescape(v) if "&" in v else v)
                                 for k, v in _WF_ATTR.findall(raw_attrs)]
                        selfclose = raw_attrs[-1] == "/"
                    else:
                        parsed = _parse_starttag(payload, s)
                        if parsed is None:
                            # stdlib takes a recovery path here — delegate
                            return parse_html(payload)
                        tag, attrs, endpos, selfclose = parsed
                        # stdlib may close the tag EARLIER than the
                        # candidate span (a '>' inside a quote-run it
                        # doesn't treat as a value) — rescan the remainder
                        # exactly like goahead
                        pos = endpos
                    b.add_element(tag, attr_dict(attrs), selfclose)
                    if selfclose:
                        continue
                closer = _CDATA_CLOSE.get(tag)
                if closer is not None:
                    # CDATA mode: raw (never entity-decoded) text until the
                    # well-formed matching end tag
                    cm = closer.search(payload, pos)
                    if cm is None:
                        # unclosed: html.parser buffers awaiting the end tag
                        # and close() drops the buffered CDATA
                        pos = n
                    else:
                        b.handle_data(payload[pos:cm.start()])
                        b.handle_endtag(tag)
                        pos = cm.end()
            # else: comment/decl/PI — dropped
    except Exception:
        pass  # tolerant by contract: salvage whatever tree was built
    return b.root
