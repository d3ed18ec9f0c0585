"""Unit tests for the oracle core pieces (SURVEY.md §2.3 semantics)."""

from __future__ import annotations

import random

import pytest

from crawspark.corpus import make_corpus, make_doc, make_pdf
from crawspark.oracle.cleaner import clean_document
from crawspark.oracle.dom import parse_html
from crawspark.oracle.media import image_ok, media_kind_for_ref
from crawspark.oracle.meta import detect_lang, extract_title
from crawspark.oracle.pdfparse import extract_pdf_text
from crawspark.oracle.scorer import score_nodes
from crawspark.oracle.stats import link_density_high, word_stats


def test_dom_parse_recovery():
    root = parse_html("<div><p>a<p>b</div><span>tail")
    ps = root.find_all("p")
    assert [p.text() for p in ps] == ["a", "b"]  # implied </p> before <p>


def test_dom_unclosed_and_void():
    root = parse_html("<body><img src='x.jpg'><br><p>text")
    assert root.find_first("img").attr("src") == "x.jpg"
    assert root.find_first("p").text() == "text"


def test_word_stats_stopwords():
    wc, sc = word_stats("the quick brown fox is in the garden")
    assert wc == 8 and sc == 4  # the, is, in, the


def test_link_density():
    high = parse_html("<div><p><a href='/x'>all the link words here</a></p></div>")
    assert link_density_high(high.find_first("div"))
    low = parse_html("<div><p>" + "plain words " * 30
                     + "<a href='/x'>one link</a></p></div>")
    assert not link_density_high(low.find_first("div"))


def test_cleaner_drops_bad_attrs_keeps_article():
    root = parse_html(
        "<body><div class='sidebar'>junk</div>"
        "<div class='article-body comment'>keep</div></body>")
    clean_document(root)
    body = root.find_first("body")
    # sidebar dropped; rescued article div survives (as a p after div→p)
    assert body.text() == "keep"


def test_cleaner_div_to_p():
    root = parse_html("<body><div>just inline text</div>"
                      "<div><p>has block</p></div></body>")
    clean_document(root)
    assert root.find_all("p")[0].text() == "just inline text"
    assert any(n.tag == "div" for n in root.iter())


def test_scorer_picks_content_div():
    html = ("<body><div id='nav'><p>a b c</p></div><div id='main'>"
            + "<p>the market was open and all of the people were there for "
            "it with a question about the energy.</p>" * 3
            + "</div></body>")
    root = parse_html(html)
    top = score_nodes(root)
    assert top is not None and top.attr("id") == "main"


def test_scorer_no_content():
    assert score_nodes(parse_html("<body><p>x</p></body>")) is None


def test_title_splitter_longest():
    root = parse_html("<head><title>Hub | The Long Real Article Title"
                      "</title></head>")
    assert extract_title(root) == "The Long Real Article Title"


def test_detect_lang_vote():
    assert detect_lang("", "le chat est sur la table avec les livres") == "fr"
    assert detect_lang("", "the cat is on the table with the books") == "en"
    assert detect_lang("fr", "the the the") == "fr"  # meta wins


def test_detect_lang_multilingual_rules_v2():
    # meta wins for every shipped stopword table; unknown meta → vote
    for lg in ("de", "es", "it", "pt", "zh"):
        assert detect_lang(lg, "anything at all") == lg
    assert detect_lang("xx", "the market was in the village there") == "en"
    # vote path per language
    assert detect_lang(
        "", "der markt war in dem dorf und alle von den leuten hier") == "de"
    assert detect_lang(
        "", "el mercado fue en el pueblo y todos los que estaban para") == "es"
    assert detect_lang(
        "", "il mercato era in il paese e tutti per la storia di un") == "it"
    assert detect_lang(
        "", "o mercado foi em a aldeia e os que estavam para um") == "pt"
    assert detect_lang("", "这个市场是在村里的地方了我们都有一个问题") == "zh"
    # rules_v3: cyrillic needs no tokenizer variant (\w keeps it); Dutch
    # must beat the es/de tables despite sharing "de"/"en"/"in"
    assert detect_lang("", "и рынок был в деревне не на месте что он") == "ru"
    assert detect_lang(
        "", "de markt was in het dorp een vraag en de mensen van dat") == "nl"
    # empty / no-signal text keeps the tie→en default
    assert detect_lang("", "") == "en"


def test_detect_lang_multilingual_rules_v5():
    # ko/tr/pl/id/hi/vi: meta wins; vote path per language; no flips on
    # the older tables despite shared forms (pl "to"/"i", id "di", tr
    # "o"/"var" — each older language still outweighs on its own text).
    for lg in ("ko", "tr", "pl", "id", "hi", "vi"):
        assert detect_lang(lg, "anything at all") == lg
    assert detect_lang(
        "", "그 시장은 마을 안에 있었다 그리고 모든 사람들이 함께 "
            "있다 때문에 위해 있는 경우") == "ko"
    assert detect_lang(
        "", "ve pazar bir soru vardı ama herkes için çok güzel değil "
            "mi bu gibi daha sonra her") == "tr"
    assert detect_lang(
        "", "i rynek był w wiosce że się nie jest to jak po wszystko "
            "dla ale czy za od") == "pl"
    assert detect_lang(
        "", "yang pasar dan di desa ini adalah untuk semua orang "
            "dengan itu juga akan tidak ada") == "id"
    assert detect_lang(
        "", "के बाजार में सब लोग थे और यह कहानी बहुत अच्छी है तो भी "
            "नहीं वह इस एक साथ पर") == "hi"
    assert detect_lang(
        "", "của và các có trong là cho không được người một những "
            "với khi này đã sẽ về như") == "vi"
    # older languages keep winning their own text against the new tables
    assert detect_lang(
        "", "il mercato era in il paese e tutti per la storia di un") == "it"
    assert detect_lang(
        "", "the market was in the village and all of the people") == "en"


def test_hindi_tokenizer_keeps_matras():
    # Devanagari vowel signs are combining marks (not \w): without the
    # stats.py block fix "में" shatters to "म" and the hi table can
    # never match (the regression this pins).
    from crawspark.oracle.stats import tokenize, word_stats
    assert tokenize("के बाजार में अच्छी है") == [
        "के", "बाजार", "में", "अच्छी", "है"]
    n, sw = word_stats("के बाजार में सब लोग थे और यह कहानी है", "hi")
    assert n == 10 and sw >= 6


def test_zh_word_stats_per_character():
    from crawspark.oracle.stats import word_stats
    n, sw = word_stats("这个市场是在村里的", "zh")
    assert n == 9          # per-character tokens, not one whitespace blob
    assert sw >= 3         # 是/在/的/这 are zh function characters
    # latin fallback: unknown lang scores under the English table
    n2, sw2 = word_stats("the market was open", "xx")
    assert (n2, sw2) == (4, 2)


def test_image_rules():
    assert not image_ok(parse_html("<img src='spacer.gif'>").find_first("img"))
    assert not image_ok(parse_html("<img src='a.jpg' width='10'>").find_first("img"))
    assert image_ok(parse_html("<img src='photo.jpg' width='640'>").find_first("img"))
    assert media_kind_for_ref("img://d/0.mp4") == "video"
    assert media_kind_for_ref("img://d/0.jpg") == "image"


def test_pdf_roundtrip_order():
    rng = random.Random(1)
    pdf = make_pdf(rng, "en", n_pages=2, flate=True)
    pages = extract_pdf_text(pdf)
    assert len(pages) == 2
    assert all(p.strip() for p in pages)


def test_pdf_garbage():
    assert extract_pdf_text("not a pdf") == []


def test_corpus_deterministic():
    a = [make_doc(42, i) for i in range(5)]
    b = list(make_corpus(5, seed=42))
    assert a == b


def test_publish_date_priority_and_fallback():
    from crawspark.oracle.meta import extract_publish_date

    html = ("<head><meta name='date' content='2020-01-01'>"
            "<meta property='article:published_time' "
            "content='2026-03-04T05:00:00Z'></head>"
            "<body><time datetime='2019-12-31'>then</time></body>")
    # property tag outranks name=date regardless of document order
    assert extract_publish_date(parse_html(html)) == "2026-03-04T05:00:00Z"
    assert extract_publish_date(parse_html(
        "<meta name='DC.date.issued' content='2021-06-07'>")) == "2021-06-07"
    assert extract_publish_date(parse_html(
        "<body><time datetime='2022-02-02'>x</time></body>")) == "2022-02-02"
    assert extract_publish_date(parse_html("<p>no date</p>")) == ""


def test_pre_clean_readers_raise_on_cleaned_root():
    from crawspark.oracle.meta import extract_meta, extract_publish_date_and_tags

    root = parse_html("<html lang='de'><head><title>T</title></head>"
                      "<body><div class='sidebar'><a rel='tag'>x</a></div>"
                      "<p>text</p></body></html>")
    assert extract_meta(root)["lang"] == "de"
    assert extract_publish_date_and_tags(root) == ("", ["x"])
    clean_document(root)  # drops the sidebar and its anchor
    for reader in (extract_meta, extract_title, extract_publish_date_and_tags):
        with pytest.raises(RuntimeError, match="clean_document"):
            reader(root)


def test_tags_rel_and_href_paths():
    from crawspark.oracle.meta import extract_tags

    html = ("<body><a rel='tag' href='/t/a'>alpha</a>"
            "<a href='/tag/beta'>beta</a>"
            "<a rel='nofollow tag' href='#'>gamma</a>"
            "<a rel='tag' href='#'>alpha</a>"       # dup text dropped
            "<a rel='tagged' href='/x'>not-a-tag</a>"  # word match only
            "<a href='/y'>plain</a></body>")
    assert extract_tags(parse_html(html)) == ["alpha", "beta", "gamma"]


def test_extract_document_date_and_tags_fields():
    from crawspark.oracle import extract_document

    html = ("<html><head><title>T</title>"
            "<meta property='article:published_time' content='2026-05-06'>"
            "</head><body><div id='content'><p>the story of the village was "
            "long and it had many details about the market there.</p></div>"
            "<div class='tag-bar'><a rel='tag' href='/tag/story'>story</a>"
            "</div></body></html>")
    res = extract_document("d1", [{"kind": "html", "text": html,
                                   "media_ref": None, "offset": 0}])
    assert res["publish_date"] == "2026-05-06"
    assert res["tags"] == ["story"]
    # tag-bar anchors must NOT leak into content spans
    assert all("story" != s["text"] for s in res["spans"])


def test_multilingual_synthetic_corpus():
    # Opt-in langs: every language detected via its own material, content
    # extracted; the DEFAULT corpus stays byte-frozen (first fixture doc
    # must equal the committed golden input).
    import json
    import pathlib

    from crawspark.corpus import make_corpus, make_doc
    from crawspark.oracle import extract_document

    exp = json.loads((pathlib.Path(__file__).parent / "fixtures"
                      / "gen_d42-000000000000" / "input.json").read_text())
    assert make_doc(42, 0)["spans"] == exp

    langs = ("en", "fr", "de", "es", "it", "pt", "zh", "ja", "ar")
    seen = {}
    for doc in make_corpus(150, seed=7, langs=langs):
        res = extract_document(doc["doc_id"], doc["spans"])
        seen.setdefault(res["lang"], 0)
        seen[res["lang"]] += 1
        # html docs must carry real content under their language's scorer
        if doc["spans"][0]["kind"] == "html":
            assert res["n_spans"] >= 2, (res["lang"], doc["doc_id"])
    assert set(seen) == set(langs), seen


def test_robots_parser_rfc_semantics():
    from crawspark.oracle.robots import parse_robots, robots_allowed

    txt = """# comment
User-agent: googlebot
Disallow: /

User-agent: crawspark-news
User-agent: other
Crawl-delay: 1.5
Disallow: /private
Allow: /private/ok
Disallow: /*.pdf$

User-agent: *
Disallow: /tmp
"""
    # longest substring UA match: 'crawspark-news' group (not * / googlebot)
    g = parse_robots(txt, "Crawspark-News/1.0")
    assert g["crawl_delay"] == 1.5
    r = g["rules"]
    assert robots_allowed(r, "/public/page") is True
    assert robots_allowed(r, "/private/secret") is False
    # longest-match: Allow /private/ok (len 11) beats Disallow /private (8)
    assert robots_allowed(r, "/private/ok/page") is True
    # wildcard + end anchor
    assert robots_allowed(r, "/docs/file.pdf") is False
    assert robots_allowed(r, "/docs/file.pdfx") is True
    # fallback group for unknown agents
    g2 = parse_robots(txt, "SomethingElse")
    assert robots_allowed(g2["rules"], "/tmp/x") is False
    assert robots_allowed(g2["rules"], "/ok") is True
    # googlebot fully blocked
    assert robots_allowed(parse_robots(txt, "googlebot")["rules"], "/") \
        is False


def test_robots_edge_cases():
    from crawspark.oracle.robots import parse_robots, robots_allowed

    # empty Disallow = allow all; rules before any UA line ignored;
    # garbage lines skipped; no matching group = allow all
    txt = "Disallow: /orphan\nUser-agent: *\nDisallow:\nnot a rule line\n"
    g = parse_robots(txt, "anybot")
    assert robots_allowed(g["rules"], "/orphan/x") is True
    assert parse_robots("", "x") == {"rules": [], "crawl_delay": None}
    assert robots_allowed([], "/anything") is True
    # Allow wins a specificity tie (RFC 9309 §2.2.2)
    rules = [(False, "/a"), (True, "/a")]
    assert robots_allowed(rules, "/a/page") is True


def test_hindi_danda_is_punctuation():
    # danda/double danda are the Devanagari full stop — sentence-final
    # auxiliaries must tokenize bare or the hi stopword table misses
    # them on real text (r5 review finding).
    from crawspark.oracle.stats import tokenize, word_stats
    assert tokenize("यह कहानी है। वह था॥") == [
        "यह", "कहानी", "है", "वह", "था"]
    n, sw = word_stats("यह कहानी है। वह था।", "hi")
    assert (n, sw) == (5, 4)


def test_sitemap_parse_protocol_shapes():
    from crawspark.oracle.sitemap import parse_sitemap

    # namespaced urlset; entries without <loc> are dropped per the spec
    xml = ('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
           "<url><loc> https://a/1 </loc><lastmod>2025-03-01</lastmod>"
           "<priority>0.8</priority></url>"
           "<url><lastmod>2025-03-02</lastmod></url>"
           "<url><loc>https://a/2</loc><priority>junk</priority></url>"
           "</urlset>")
    got = parse_sitemap(xml)
    assert [r["loc"] for r in got] == ["https://a/1", "https://a/2"]
    assert got[0]["lastmod"] == "2025-03-01" and got[0]["priority"] == 0.8
    assert got[1]["priority"] == -1.0  # unparseable priority ignored
    # sitemapindex children come back kind='sitemap'
    idx = ("<sitemapindex><sitemap><loc>https://a/sm1.xml</loc></sitemap>"
           "<sitemap><loc>https://a/sm2.xml</loc></sitemap></sitemapindex>")
    kids = parse_sitemap(idx)
    assert [r["kind"] for r in kids] == ["sitemap", "sitemap"]
    # malformed XML and non-sitemap roots yield []
    assert parse_sitemap("<urlset><url>") == []
    assert parse_sitemap("not xml at all") == []
    assert parse_sitemap("<rss><channel/></rss>") == []


def test_sitemap_namespace_toggle_alternates_under_even_ids():
    # r5 review: the registry's sitemap_frontier_seed filter
    # (doc_id % 6 == 2) only ever sees even ids, so an ns toggle keyed
    # on d % 2 degenerated to always-namespaced. The d // 2 keying must
    # yield both namespaced and bare urlsets across the filtered ids —
    # and parsing must be identical either way.
    from crawspark.oracle.sitemap import make_sitemap, parse_sitemap

    filtered = [d for d in range(2, 200, 6) if d % 7 != 0]  # urlsets only
    with_ns = {d: "sitemaps.org/schemas" in make_sitemap(d)
               for d in filtered}
    assert set(with_ns.values()) == {True, False}
    for d in filtered[:6]:
        xml = make_sitemap(d)
        bare = xml.replace(
            ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"', "")
        assert parse_sitemap(xml) == parse_sitemap(bare)


def test_docx_extraction_walk():
    from crawspark.oracle.officedoc import (
        docx_paragraph_expected,
        extract_docx_text,
        make_docx,
    )

    # hand-authored WordprocessingML (not our builder): runs
    # concatenate with NO implicit whitespace, w:tab -> \t, w:br -> \n,
    # table cells are ordinary paragraphs in document order
    import io
    import zipfile

    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    doc = (f'<w:document xmlns:w="{w}"><w:body>'
           "<w:p><w:r><w:t>Hello</w:t></w:r><w:r><w:t>World</w:t></w:r>"
           "</w:p>"
           "<w:p><w:r><w:t>a</w:t><w:tab/><w:t>b</w:t><w:br/>"
           "<w:t>c</w:t></w:r></w:p>"
           "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>cell</w:t></w:r></w:p>"
           "</w:tc></w:tr></w:tbl>"
           "</w:body></w:document>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", doc)
    assert extract_docx_text(buf.getvalue()) == [
        "HelloWorld", "a\tb\nc", "cell"]
    # builder round-trips its closed form at mixed parities
    for d in (0, 1, 6, 19, 45):
        assert extract_docx_text(make_docx(d)) == docx_paragraph_expected(d)
    assert extract_docx_text(b"not a zip") == []


def test_xlsx_extraction_walk():
    from crawspark.oracle.officedoc import (
        extract_xlsx_rows,
        make_xlsx,
        xlsx_rows_expected,
    )

    # hand-authored SpreadsheetML (not our builder): shared-string
    # indirection, inline strings, raw numeric <v>, out-of-order cell
    # refs sorted by column, sheets resolved via rels in workbook order
    import io
    import zipfile

    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    r = ("http://schemas.openxmlformats.org/officeDocument/2006/"
         "relationships")
    pk = "http://schemas.openxmlformats.org/package/2006/relationships"
    wb = (f'<workbook xmlns="{m}" xmlns:r="{r}"><sheets>'
          '<sheet name="front" sheetId="1" r:id="rA"/>'
          '<sheet name="back" sheetId="2" r:id="rB"/>'
          "</sheets></workbook>")
    rels = (f'<Relationships xmlns="{pk}">'
            '<Relationship Id="rB" Type="t" Target="worksheets/z.xml"/>'
            '<Relationship Id="rA" Type="t" Target="worksheets/a.xml"/>'
            "</Relationships>")
    sst = (f'<sst xmlns="{m}"><si><t>alpha</t></si>'
           "<si><t>beta</t><t> gamma</t></si></sst>")
    # cells deliberately emitted C1, A1, B1 — output must be A,B,C
    sheet_a = (f'<worksheet xmlns="{m}"><sheetData><row r="1">'
               '<c r="C1"><v>42</v></c>'
               '<c r="A1" t="s"><v>1</v></c>'
               '<c r="B1" t="inlineStr"><is><t>mid</t></is></c>'
               "</row></sheetData></worksheet>")
    sheet_z = (f'<worksheet xmlns="{m}"><sheetData><row r="1">'
               '<c r="A1" t="s"><v>0</v></c></row>'
               '<row r="2"><c r="AA2"><v>7.5</v></c></row>'
               "</sheetData></worksheet>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/a.xml", sheet_a)
        zf.writestr("xl/worksheets/z.xml", sheet_z)
    # multi-<t> shared string concatenates; sheet order follows the
    # workbook (front=a before back=z) not the rels listing
    assert extract_xlsx_rows(buf.getvalue()) == [
        "beta gamma\tmid\t42", "alpha", "7.5"]
    # builder round-trips its closed form at mixed parities
    for d in (0, 1, 9, 22, 35):
        assert extract_xlsx_rows(make_xlsx(d)) == xlsx_rows_expected(d)
    assert extract_xlsx_rows(b"not a zip") == []
    # a workbook whose rels lack the sheet target yields no rows for it
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels",
                    f'<Relationships xmlns="{pk}"/>')
    assert extract_xlsx_rows(buf2.getvalue()) == []


def test_pptx_extraction_walk():
    from crawspark.oracle.officedoc import (
        extract_pptx_text,
        make_pptx,
        pptx_paragraphs_expected,
    )

    # hand-authored PresentationML: slide order follows sldIdLst (not
    # rels listing, not filename), a:br -> newline, runs concatenate
    import io
    import zipfile

    a = "http://schemas.openxmlformats.org/drawingml/2006/main"
    p = "http://schemas.openxmlformats.org/presentationml/2006/main"
    r = ("http://schemas.openxmlformats.org/officeDocument/2006/"
         "relationships")
    pk = "http://schemas.openxmlformats.org/package/2006/relationships"
    pres = (f'<p:presentation xmlns:p="{p}" xmlns:r="{r}"><p:sldIdLst>'
            '<p:sldId id="9" r:id="rTwo"/><p:sldId id="8" r:id="rOne"/>'
            "</p:sldIdLst></p:presentation>")
    rels = (f'<Relationships xmlns="{pk}">'
            '<Relationship Id="rOne" Type="t" Target="slides/x.xml"/>'
            '<Relationship Id="rTwo" Type="t" Target="slides/y.xml"/>'
            "</Relationships>")
    sld = (f'<p:sld xmlns:p="{p}" xmlns:a="{a}">'
           "<a:p><a:r><a:t>%s</a:t></a:r>"
           "<a:r><a:t>-tail</a:t></a:r></a:p>"
           "<a:p><a:r><a:t>line1</a:t><a:br/><a:t>line2</a:t></a:r>"
           "</a:p></p:sld>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("ppt/presentation.xml", pres)
        zf.writestr("ppt/_rels/presentation.xml.rels", rels)
        zf.writestr("ppt/slides/x.xml", sld % "first-in-rels")
        zf.writestr("ppt/slides/y.xml", sld % "first-in-list")
    # y (rTwo) leads because sldIdLst says so
    assert extract_pptx_text(buf.getvalue()) == [
        "first-in-list-tail", "line1\nline2",
        "first-in-rels-tail", "line1\nline2"]
    for d in (0, 1, 10, 23, 36):
        assert extract_pptx_text(make_pptx(d)) == \
            pptx_paragraphs_expected(d)
    assert extract_pptx_text(b"not a zip") == []


def test_rtf_extraction_mechanics():
    from crawspark.oracle.rtf import (
        extract_rtf_text,
        make_rtf,
        rtf_paragraphs_expected,
    )

    # \uN fallback swallowing: \uc2 means TWO fallback chars skipped,
    # and the count is GROUP-SCOPED (restored to 1 after the group)
    doc = rb"{\rtf1\ansi\uc1 A{\uc2 \u945bb}B\u8364e C\par}"
    assert extract_rtf_text(doc) == [
        "A" + chr(945) + "B" + chr(8364) + " C"]
    # skippable destinations: fonttbl/pict/starred groups contribute
    # nothing, even when they contain \par or text
    doc = (rb"{\rtf1{\fonttbl{\f0 Arial;}}{\*\gen x\par y}"
           rb"{\pict 0011}hello \'e9\{x\}\par world\par}")
    assert extract_rtf_text(doc) == ["hello " + chr(233) + "{x}", "world"]
    # \line is an in-paragraph break; trailing text without \par still
    # yields a final paragraph
    assert extract_rtf_text(rb"{\rtf1 a\line b\par tail}") == \
        ["a\nb", "tail"]
    # negative \uN wraps mod 65536 (RTF stores signed 16-bit)
    assert extract_rtf_text(rb"{\rtf1\uc0 \u-3512 }") == [chr(62024)]
    for d in (0, 1, 11, 24, 37):
        assert extract_rtf_text(make_rtf(d)) == rtf_paragraphs_expected(d)
    assert extract_rtf_text(b"plain text, not rtf") == []


def test_cfb_doc_extraction():
    import struct

    from crawspark.oracle.cfbdoc import (
        _Cfb,
        doc_paragraphs_expected,
        extract_doc_text,
        make_legacy_doc,
    )

    # container layers: the table stream is <4096 (miniFAT path), the
    # WordDocument stream >4096 (regular FAT path) — assert both
    # layers really engage, then the piece-table walk round-trips
    for d in (0, 1, 12, 25, 38):
        payload = make_legacy_doc(d)
        cfb = _Cfb(payload)
        names = {n: (t, sz) for n, t, _, sz in
                 [(e[0], e[1], e[2], e[3]) for e in cfb.entries]}
        assert names["WordDocument"][1] >= 4096
        tbl = "1Table" if d % 2 else "0Table"
        assert names[tbl][1] < 4096
        assert extract_doc_text(payload) == doc_paragraphs_expected(d)

    # lcbClx == 0 → Word-6 style raw fcMin..fcMax cp1252 fallback
    payload = bytearray(make_legacy_doc(2))
    cfb = _Cfb(bytes(payload))
    word = cfb.stream("WordDocument")
    fib = bytearray(word)
    struct.pack_into("<I", fib, 0x1A6, 0)           # lcbClx = 0
    struct.pack_into("<II", fib, 0x18, 0x1000, 0x1000 + 9)  # fcMin/fcMax
    fib[0x1000:0x1009] = b"old\rstyle"
    # splice the modified WordDocument back over its sectors
    start = next(e[2] for e in cfb.entries if e[0] == "WordDocument")
    off = 512 + start * 512
    payload[off:off + len(fib)] = fib
    assert extract_doc_text(bytes(payload)) == ["old", "style"]

    # garbage and truncation never raise
    assert extract_doc_text(b"not ole2") == []
    assert extract_doc_text(make_legacy_doc(3)[:700]) == []
    bad = bytearray(make_legacy_doc(4))
    struct.pack_into("<H", bad, 512 + 512 * 4, 0x1111)  # clobber wIdent?
    extract_doc_text(bytes(bad))  # any result, but no exception


def test_eml_extraction_mechanics():
    from crawspark.oracle.mailmsg import (
        decode_header_value,
        eml_expected,
        extract_eml,
        make_eml,
    )

    # RFC 2047: whitespace between two encoded-words drops; text
    # around them is kept; Q-encoding maps _ to space and =XX to bytes
    assert decode_header_value(
        "=?utf-8?B?YQ==?=   =?utf-8?B?Yg==?=") == "ab"
    assert decode_header_value(
        "x =?utf-8?Q?caf=C3=A9_y?= z") == "x café y z"
    # malformed encoded-word survives verbatim
    assert decode_header_value("=?bogus-cs?X?zz?=") == "=?bogus-cs?X?zz?="

    # simple singlepart message: unfolded headers, bare-LF tolerated
    msg = (b"Subject: plain\n"
           b"From: a@b\n"
           b"Content-Type: text/plain\n"
           b"\n"
           b"one\ntwo\n")
    assert extract_eml(msg) == ("plain", ["one", "two"])

    # multipart/alternative: the LAST text/plain wins; html ignored;
    # headers case-insensitive; quoted boundary with specials
    msg = (b"SUBJECT: alt\n"
           b'CONTENT-TYPE: multipart/alternative; Boundary="b=_1"\n'
           b"\n--b=_1\n"
           b"Content-Type: text/plain\n\nfirst\n"
           b"--b=_1\n"
           b"Content-Type: text/plain\n\nsecond\n"
           b"--b=_1\n"
           b"Content-Type: text/html\n\n<p>no</p>\n"
           b"--b=_1--\n")
    assert extract_eml(msg) == ("alt", ["second"])

    for d in (0, 1, 7, 20, 33):
        assert extract_eml(make_eml(d)) == eml_expected(d)
    assert extract_eml(b"random bytes, not mail") == ("", [])


def test_epub_extraction_walk():
    import io
    import zipfile

    from crawspark.oracle.epub import (
        epub_chapters_expected,
        extract_epub_text,
        make_epub,
    )

    # hand-authored book: container points at a NESTED opf dir, spine
    # order differs from manifest order, missing idref skipped
    cnt = ('<container xmlns="urn:oasis:names:tc:opendocument:xmlns:'
           'container"><rootfiles><rootfile full-path="deep/dir/pkg.opf"'
           ' media-type="application/oebps-package+xml"/></rootfiles>'
           "</container>")
    opf = ('<package xmlns="http://www.idpf.org/2007/opf"><manifest>'
           '<item id="a" href="one.xhtml" media-type="application/'
           'xhtml+xml"/>'
           '<item id="b" href="sub/two.xhtml" media-type="application/'
           'xhtml+xml"/>'
           "</manifest><spine>"
           '<itemref idref="b"/><itemref idref="missing"/>'
           '<itemref idref="a"/>'
           "</spine></package>")
    one = "<html><body><p>alpha</p><div><p>beta</p></div></body></html>"
    two = "<html><body><h1>skip</h1><p>gamma</p></body></html>"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("META-INF/container.xml", cnt)
        zf.writestr("deep/dir/pkg.opf", opf)
        zf.writestr("deep/dir/one.xhtml", one)
        zf.writestr("deep/dir/sub/two.xhtml", two)
    assert extract_epub_text(buf.getvalue()) == ["gamma", "alpha\nbeta"]
    for d in (0, 1, 4, 21, 38):
        assert extract_epub_text(make_epub(d)) == \
            epub_chapters_expected(d)
    assert extract_epub_text(b"not epub") == []


def test_sniff_format_routing():
    import io
    import struct
    import zipfile

    from crawspark.oracle.cfbdoc import make_legacy_doc
    from crawspark.oracle.sniff import extract_any, sniff_format

    # RIFF disambiguation: WAVE vs WEBP share the outer magic
    assert sniff_format(b"RIFF" + b"\x10\x00\x00\x00" + b"WAVEfmt ") \
        == "wav"
    assert sniff_format(b"RIFF" + b"\x10\x00\x00\x00" + b"WEBPVP8 ") \
        == "webp"
    # a ZIP that is none of the OOXML/EPUB members stays generic
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("data.txt", "x")
    assert sniff_format(buf.getvalue()) == "zip"
    # CFB without a WordDocument stream is generic cfb, not doc
    raw = bytearray(make_legacy_doc(0))
    # clobber the directory name "WordDocument" (entry 1 of the dir
    # sector at sector 1 → file offset 512 + 512 + 128)
    off = 512 + 512 + 128
    raw[off:off + 8] = "Aord".encode("utf-16-le")
    assert sniff_format(bytes(raw)) == "cfb"
    assert extract_any(bytes(raw)) == ("cfb", [])
    # mp4: size-prefixed ftyp box, no fixed offset-0 magic
    assert sniff_format(struct.pack(">I", 24) + b"ftypisom"
                        + b"\x00" * 16) == "mp4"
    # text vs unknown: utf-8 decodability decides
    assert sniff_format("héllo".encode()) == "text"
    assert sniff_format(b"\xff\xfe\xfd\xfc") == "unknown"
    assert sniff_format(b"") == "unknown"
    # html without a doctype, after leading whitespace
    assert sniff_format(b"   <HTML><body><p>x</p></body></HTML>") \
        == "html"


def test_tar_archive_walk():
    from crawspark.oracle.tarzip import (
        make_targz,
        parse_tar,
        tar_members_expected,
        ungzip,
    )

    for d in (0, 1, 7, 20, 33):
        got = parse_tar(make_targz(d))
        assert got == [(n, t.encode())
                       for n, t in tar_members_expected(d)]
    # the three name mechanics are all on the path: plain, ustar
    # prefix-split (>100 chars), GNU typeflag-L (>100 chars, no split)
    names = [n for n, _ in tar_members_expected(2)]
    assert len(names[0]) <= 100
    assert len(names[1]) > 100 and "/" in names[1]
    assert len(names[2]) > 100
    # a corrupted header checksum stops the walk instead of emitting
    # garbage members
    raw = bytearray(ungzip(make_targz(4)))
    raw[148] ^= 0x01  # first header's chksum field
    assert parse_tar(bytes(raw)) == []
    # uncompressed tar parses too; garbage does not
    assert parse_tar(ungzip(make_targz(3))) == \
        [(n, t.encode()) for n, t in tar_members_expected(3)]
    assert parse_tar(b"definitely not a tar archive") == []


def test_markdown_extraction_blocks():
    from crawspark.oracle.markdown import (
        extract_markdown,
        make_markdown,
        markdown_blocks_expected,
    )

    # fenced code passes through VERBATIM — no emphasis stripping, no
    # heading parsing, blank lines kept inside the block
    md = "para one\n\n```\n# not a heading\n**raw**\n\nstill code\n```\n"
    assert extract_markdown(md) == [
        "para one", "# not a heading\n**raw**\n\nstill code"]
    # setext heading: the underline promotes the pending line; an hr
    # with no pending paragraph just drops
    assert extract_markdown("Title\n===\n\n---\n\nbody\n") == \
        ["Title", "body"]
    # inline constructs: image alt, nested strong inside link text,
    # reference link, code span
    assert extract_markdown(
        "![alt text](i.png) then [**bold link**](u) and [ref][id] "
        "plus `a*b`\n\n[id]: http://x\n") == \
        ["alt text then bold link and ref plus a*b"]
    # lazy continuation joins; blockquote unwraps; list items split
    assert extract_markdown("> q1\nq2 lazy\n\n- a\n- b\n") == \
        ["q1 q2 lazy", "a", "b"]
    # unterminated fence still yields its code
    assert extract_markdown("```\ndangling\n") == ["dangling"]
    for d in (0, 1, 9, 22, 35):
        assert extract_markdown(make_markdown(d)) == \
            markdown_blocks_expected(d)


def test_odt_extraction_walk():
    import io
    import zipfile

    from crawspark.oracle.officedoc import (
        extract_odt_text,
        make_odt,
        odt_paragraphs_expected,
    )

    # hand-authored ODF: nested spans flatten, text:s default count is
    # 1, tails after nested elements are kept in order
    t = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
    o = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
    content = (f'<office:document-content xmlns:office="{o}" '
               f'xmlns:text="{t}"><office:body><office:text>'
               "<text:p>a<text:span>b<text:span>c</text:span>d"
               "</text:span>e<text:s/>f<text:line-break/>g</text:p>"
               "</office:text></office:body></office:document-content>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/vnd.oasis.opendocument.text")
        zf.writestr("content.xml", content)
    assert extract_odt_text(buf.getvalue()) == ["abcde f\ng"]
    for d in (0, 1, 9, 20, 31):
        assert extract_odt_text(make_odt(d)) == odt_paragraphs_expected(d)
    assert extract_odt_text(b"not odt") == []


def test_tar_bz2_xz_outer_layers():
    import bz2
    import lzma

    from crawspark.oracle.sniff import sniff_format
    from crawspark.oracle.tarzip import (
        make_targz,
        parse_tar,
        tar_members_expected,
        ungzip,
    )

    raw = ungzip(make_targz(11))
    expect = [(n, t.encode()) for n, t in tar_members_expected(11)]
    for wrap in (bz2.compress, lzma.compress):
        payload = wrap(raw)
        assert sniff_format(payload) == "tar"
        assert parse_tar(payload) == expect
    # non-tar compressed payloads keep their codec name
    assert sniff_format(bz2.compress(b"words")) == "bzip2"
    assert sniff_format(lzma.compress(b"words")) == "xz"


def test_latex_extraction_mechanics():
    from crawspark.oracle.latex import (
        extract_latex,
        latex_blocks_expected,
        make_latex,
    )

    # escaped percent is literal; real comment strips to EOL
    assert extract_latex("50\\% off % but this goes\nrest") == \
        ["50% off rest"]
    # nested braces inside a wrap survive the brace scanner
    assert extract_latex("\\textbf{a {nested} b} c") == ["a nested b c"]
    # cite/ref drop WITH arguments, optional args included
    assert extract_latex(
        "see \\cite[p.~3]{k1999} and \\ref{fig:x} done") == \
        ["see and done"]
    # math forms all collapse to the placeholder; \\$ is literal
    assert extract_latex("cost \\$5, $x+y$ and \\(z\\) and $$a$$.") == \
        ["cost $5, MATH and MATH and MATH ."]
    # verbatim keeps commands raw; tabular is skipped wholesale
    assert extract_latex(
        "\\begin{verbatim}\\textbf{raw}\\end{verbatim}"
        "\\begin{tabular}{ll}a&b\\end{tabular}after") == \
        ["\\textbf{raw}", "after"]
    # figure: caption hoisted, body dropped
    assert extract_latex(
        "\\begin{figure}\\includegraphics{x}\\caption{The \\emph{cap}}"
        "\\end{figure}") == ["The cap"]
    for d in (0, 1, 5, 17, 29):
        assert extract_latex(make_latex(d)) == latex_blocks_expected(d)
    assert extract_latex("") == []


def test_html_table_grid_expansion():
    from crawspark.oracle.htmltable import (
        extract_tables,
        make_table_page,
        table_grids_expected,
    )

    # rowspan offsets the FOLLOWING row's cells (the classic bug)
    html = ("<table><tr><td rowspan=2>A</td><td>B</td></tr>"
            "<tr><td>C</td></tr></table>")
    assert extract_tables(html) == [[["A", "B"], ["A", "C"]]]
    # colspan duplicates; both spans interacting in one table
    html = ("<table><tr><td colspan=3>W</td></tr>"
            "<tr><td>a</td><td rowspan=2 colspan=2>X</td></tr>"
            "<tr><td>b</td></tr></table>")
    assert extract_tables(html) == [[
        ["W", "W", "W"], ["a", "X", "X"], ["b", "X", "X"]]]
    # nested markup flattens; malformed span values default to 1
    html = ("<table><tr><td colspan='zzz'><b>q</b> <i>r</i></td>"
            "</tr></table>")
    assert extract_tables(html) == [[["q r"]]]
    for d in (0, 1, 3, 17, 31):
        assert extract_tables(make_table_page(d)) == \
            table_grids_expected(d)
    assert extract_tables("<p>no tables</p>") == []


def test_feed_parse_both_dialects():
    from crawspark.oracle.feeds import make_feed, parse_feed

    # hand-authored RSS 2.0
    rss = ("<rss version=\"2.0\"><channel><title>t</title>"
           "<item><title> A </title><link>https://a/1</link>"
           "<pubDate>Sat, 01 Feb 2025 12:00:00 +0000</pubDate></item>"
           "<item><title>B</title><link>https://a/2</link></item>"
           "</channel></rss>")
    got = parse_feed(rss)
    assert [r["link"] for r in got] == ["https://a/1", "https://a/2"]
    assert got[0]["title"] == "A" and got[1]["published"] == ""
    # hand-authored Atom with a rel=self decoy BEFORE the alternate
    atom = ('<feed xmlns="http://www.w3.org/2005/Atom">'
            "<entry><title>X</title>"
            '<link rel="self" href="https://a/feed.xml"/>'
            '<link rel="alternate" href="https://a/post/9"/>'
            "<updated>2025-02-01T12:00:00Z</updated></entry></feed>")
    got = parse_feed(atom)
    assert got == [{"fmt": "atom", "title": "X",
                    "link": "https://a/post/9",
                    "published": "2025-02-01T12:00:00Z"}]
    # malformed XML and non-feed roots
    assert parse_feed("<rss><item") == []
    assert parse_feed("<html><body/></html>") == []
    # the synthetic grid really exercises both dialects
    fmts = {parse_feed(make_feed(d))[0]["fmt"] for d in range(1, 60, 7)}
    assert fmts == {"rss", "atom"}


def test_jsonld_extraction_shapes():
    from crawspark.oracle.jsonld import (
        extract_jsonld_articles,
        jsonld_expected,
        make_jsonld_page,
    )

    # hand-authored page (not our builder): the JSON string carries the
    # <\/script> escape — a regex scanner splitting on the literal
    # close tag truncates the JSON mid-string; the CDATA tokenizer
    # must not
    page = ('<html><head><script type="application/ld+json">'
            '{"@type": "Article", "headline": "x <\\/script> y",'
            ' "datePublished": "2025-01-02", "author": "A"}'
            "</script></head><body/></html>")
    got = extract_jsonld_articles(page)
    assert got == [{"headline": "x </script> y",
                    "date_published": "2025-01-02",
                    "author_name": "A", "word_count": -1}]
    # malformed JSON block is skipped, non-ld scripts ignored
    bad = ('<html><script type="application/ld+json">{oops</script>'
           '<script>var x = {"@type": "Article"};</script></html>')
    assert extract_jsonld_articles(bad) == []
    # @graph decoys, author-object, author-list, top-level array —
    # every builder shape matches its closed form
    for d in (0, 1, 2, 3, 13, 23, 33):
        assert extract_jsonld_articles(make_jsonld_page(d)) == \
            jsonld_expected(d)


def test_jsonld_preserves_whitespace_runs():
    # r5 review: Node.text() whitespace-normalizes, rewriting JSON
    # string values — extraction must read the script's RAW text
    from crawspark.oracle.jsonld import extract_jsonld_articles

    page = ('<html><script type="application/ld+json">'
            '{"@type": "Article", "headline": "A  B\\tC",'
            ' "datePublished": "2025-01-01", "author": "x y"}'
            "</script></html>")
    got = extract_jsonld_articles(page)
    assert got[0]["headline"] == "A  B\tC"


def test_feed_self_only_entry_has_empty_link():
    # r5 review: an Atom entry carrying only non-content rels must not
    # enqueue the feed itself as the entry link
    from crawspark.oracle.feeds import parse_feed

    atom = ('<feed xmlns="http://www.w3.org/2005/Atom"><entry>'
            '<title>X</title><link rel="self" href="https://a/feed.xml"/>'
            '<link rel="enclosure" href="https://a/audio.mp3"/>'
            "<updated>u</updated></entry></feed>")
    assert parse_feed(atom)[0]["link"] == ""
    # a rel-less link is an alternate per the Atom default
    bare = atom.replace(' rel="self"', "").replace(
        '<link rel="enclosure" href="https://a/audio.mp3"/>', "")
    assert parse_feed(bare)[0]["link"] == "https://a/feed.xml"


def test_zip_archive_walk():
    import zlib

    from crawspark.oracle.tarzip import (
        make_zip,
        parse_zip,
        zip_members_expected,
    )

    for d in (0, 1, 7, 20, 33):
        # trailing comment displaces the EOCD off the tail — the scan
        # must find it anyway
        got = parse_zip(make_zip(d, comment=b"c" * (d % 97)))
        assert got == [(n, t.encode())
                       for n, t in zip_members_expected(d)]
    # stored (method 0) and deflated (method 8) members both present
    z = make_zip(5)
    body0 = zip_members_expected(5)[0][1].encode()
    assert body0 in z  # stored member bytes appear verbatim
    assert zip_members_expected(5)[1][1].encode() not in z  # deflated
    # CRC-32 verification: a flipped content byte stops the walk
    raw = bytearray(z)
    raw[raw.find(body0)] ^= 0xFF
    assert parse_zip(bytes(raw)) == []
    # a comment longer than the member data still parses
    assert parse_zip(make_zip(2, comment=b"k" * 4000)) == \
        [(n, t.encode()) for n, t in zip_members_expected(2)]
    # an unknown compression method is skipped, not mis-read: patch
    # member 0's method field in BOTH headers (local + CD)
    z2 = bytearray(make_zip(0))
    n0 = b"shard0/stored-member0.txt"
    for sig in (b"PK\x03\x04", b"PK\x01\x02"):
        at = z2.find(sig, z2.find(n0) - 60)
        while at >= 0:
            hdr_name_at = z2.find(n0, at)
            if 0 < hdr_name_at < at + 60:
                off = at + (8 if sig == b"PK\x03\x04" else 10)
                z2[off:off + 2] = (99).to_bytes(2, "little")
                break
            at = z2.find(sig, at + 1)
    got = parse_zip(bytes(z2))
    assert [n for n, _ in got] == \
        [n for n, _ in zip_members_expected(0)[1:]]
    # garbage and truncation never raise
    assert parse_zip(b"definitely not a zip") == []
    assert parse_zip(make_zip(7)[:-25]) == []
    assert zlib.crc32(b"") == 0  # the empty-member convention make_zip uses


def test_robots_sitemap_extraction_semantics():
    from crawspark.oracle.robots import extract_sitemaps

    txt = ("Sitemap: https://a.com/s1.xml\n"       # before any group
           "User-agent: *\nDisallow: /x\n"
           "sitemap: https://a.com/s2.xml\n"       # inside a group, lc field
           "SITEMAP: HTTP://a.com/s3.xml # c\n"    # uc field+scheme, comment
           "Sitemap: /relative.xml\n"              # relative -> ignored
           "Sitemap: ftp://a.com/s.xml\n"          # non-http(s) -> ignored
           "Sitemap: https://a.com/s1.xml\n")      # duplicate -> first wins
    assert extract_sitemaps(txt) == [
        "https://a.com/s1.xml", "https://a.com/s2.xml",
        "HTTP://a.com/s3.xml"]
    assert extract_sitemaps("") == []
    assert extract_sitemaps("garbage\nno colons here") == []


def test_router_extracts_generic_zip_members():
    # a zip that is NOT OOXML/ODF/EPUB must route to the member walk
    # (r5: it sniffed as 'zip' but extract_any dropped the content)
    from crawspark.oracle.sniff import extract_any, sniff_format
    from crawspark.oracle.tarzip import make_zip, zip_members_expected

    z = make_zip(7, comment=b"x" * 33)
    assert sniff_format(z) == "zip"
    fmt, units = extract_any(z)
    assert fmt == "zip"
    assert units == [t for _, t in zip_members_expected(7)]
    # OOXML containers still route to their own parsers, not the walk
    from crawspark.oracle.officedoc import make_docx
    fmt, units = extract_any(make_docx(3))
    assert fmt == "docx" and units


def test_lognormal_params_match_numpy(spark):
    # third-way replay on raw data: mu/sigma per lang from numpy
    import duckdb
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        "SELECT lang, n_chars FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet') "
        "WHERE n_chars > 0").fetchall()
    con.close()
    from crawspark.operators.analytics import length_lognormal_params

    got = {r["lang"]: r for r in
           length_lognormal_params(spark,
                                   "/root/testdata/sf0.001").collect()}
    langs = {}
    for lang, n in rows:
        langs.setdefault(lang, []).append(np.log(n))
    for lang, ls in langs.items():
        a = np.array(ls)
        assert got[lang]["n_docs"] == len(ls)
        assert got[lang]["mu"] == round(float(a.mean()), 4)
        assert abs(got[lang]["sigma"] - float(a.std())) < 2e-4, lang
        assert got[lang]["sigma"] > 0  # the heavy tail is real
