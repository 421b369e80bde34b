"""Oracle parity tests: reference parse semantics (tests/html_analyzer_test.py
ports) + extraction edge cases + structure-compare score fixtures."""

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from web_template_forensics_spark.oracle.html_oracle import (
    _tree_path_extract,
    extract_text,
    parse_html_tree,
)
from web_template_forensics_spark.oracle.similarity import (
    compare_structures,
    seq_ratio,
)


def first_element(tree):
    # reference tests' get_first_element: body/document root -> first child
    for child in tree["children"]:
        if child["type"] == "element":
            return child
    return tree


# ---- ports of reference tests/html_analyzer_test.py --------------------


def test_tag_attr_extraction():  # ref :16-26
    tree = parse_html_tree('<div id="main" class="foo"><span data-x="1">Hello</span></div>')
    div = first_element(tree)
    assert div["tag"] == "div"
    assert div["attrs"]["id"] == "main"
    assert div["attrs"]["class"] == ["foo"]
    span = div["children"][0]
    assert span["tag"] == "span"
    assert span["attrs"]["data-x"] == "1"
    assert span["children"][0] == {"type": "text", "content": "Hello"}


def test_identical_trees_score_1():  # ref :28-39
    a = parse_html_tree("<div><span>Hello</span></div>")
    b = parse_html_tree("<div><span>Hello</span></div>")
    res = compare_structures(first_element(a), first_element(b))
    assert res.similarity_score == 1.0
    assert res.missing == 0 and res.extra == 0


def test_missing_child():  # ref :41-52
    a = parse_html_tree("<div><span>Hello</span><p>World</p></div>")
    b = parse_html_tree("<div><span>Hello</span></div>")
    res = compare_structures(first_element(a), first_element(b))
    assert res.similarity_score < 1.0
    assert res.missing >= 1


def test_extra_child():  # ref :54-65
    a = parse_html_tree("<div><span>Hello</span></div>")
    b = parse_html_tree("<div><span>Hello</span><p>World</p></div>")
    res = compare_structures(first_element(a), first_element(b))
    assert res.similarity_score < 1.0
    assert res.extra >= 1


def test_differing_class_attr():  # ref :67-78
    a = parse_html_tree('<div class="a"><span>Hello</span></div>')
    b = parse_html_tree('<div class="b"><span>Hello</span></div>')
    res = compare_structures(first_element(a), first_element(b))
    assert 0.0 < res.similarity_score < 1.0
    assert res.different >= 1


def test_differing_text():  # ref :80-90
    a = parse_html_tree("<div><span>foo</span></div>")
    b = parse_html_tree("<div><span>bar</span></div>")
    res = compare_structures(first_element(a), first_element(b))
    assert res.similarity_score < 1.0
    # span compares as 'different' with text_sim = ratio('foo','bar') = 0
    assert res.different >= 1


def test_whitespace_variations_score_1():  # ref :140-150
    a = parse_html_tree("<div>   <span>Hi</span> </div>")
    b = parse_html_tree("<div><span>Hi</span></div>")
    res = compare_structures(first_element(a), first_element(b))
    assert res.similarity_score == 1.0


def test_attribute_order_irrelevant():  # ref :152-162
    a = parse_html_tree('<div id="a" class="b"></div>')
    b = parse_html_tree('<div class="b" id="a"></div>')
    res = compare_structures(first_element(a), first_element(b))
    assert res.similarity_score == 1.0


def test_void_self_closing_equal():  # ref :116-126
    a = parse_html_tree('<div><img src="a.png"><br></div>')
    b = parse_html_tree('<div><img src="a.png" /><br/></div>')
    res = compare_structures(first_element(a), first_element(b))
    assert res.similarity_score == 1.0


def test_multiple_roots_document_tag():  # ref :176-185
    tree = parse_html_tree("<div>1</div><div>2</div>")
    assert tree["tag"] == "[document]"
    assert len(tree["children"]) == 2


def test_script_tags_auto_match():  # ref :187-197 + comparator :346-348
    a = parse_html_tree("<script>var a=1;</script>")
    b = parse_html_tree("<script>var b=2;</script>")
    res = compare_structures(first_element(a), first_element(b))
    assert res.similarity_score == 1.0


def test_comments_become_text_nodes_q8():  # quirk Q8 (bs4 Comment -> NavigableString)
    tree = parse_html_tree("<div><!-- note --><span>Hi</span></div>")
    div = first_element(tree)
    kinds = [(c["type"], c.get("content", c.get("tag"))) for c in div["children"]]
    assert kinds == [("text", "note"), ("element", "span")]


def test_deep_nesting():  # ref :104-114
    html = "<div><ul><li><span>deep</span></li></ul></div>"
    tree = parse_html_tree(html)
    assert extract_text(html) == "deep"
    node = first_element(tree)
    for tag in ("ul", "li", "span"):
        node = node["children"][0]
        assert node["tag"] == tag


# ---- extraction invariant edge cases ------------------------------------


def test_entities_decoded():
    assert extract_text("<p>a &amp; b &#x27;c&#39;</p>") == "a & b 'c'"


def test_body_rooting():
    html = "<html><head><title>skip me</title></head><body><p>keep</p></body></html>"
    assert extract_text(html) == "keep"


def test_no_body_document_root():
    html = "<html><head><title>kept now</title></head><p>also</p></html>"
    assert extract_text(html) == "kept now\nalso"


def test_script_style_content_is_text():
    # bs4 keeps script/style CDATA as string children; reference extracts it
    assert extract_text("<body><script>1 < 2 &amp;</script></body>") == "1 < 2 &amp;"


def test_clean_variant_skips_noise():
    html = "<body><!-- c --><script>x</script><style>y</style><p>keep</p></body>"
    assert extract_text(html, clean=True) == "keep"
    assert extract_text(html) == "c\nx\ny\nkeep"


def test_mismatched_nesting_end_tag_recovery():
    # </b> pops the open <i> implicitly; trailing </i> is ignored
    html = "<div><b>bold<i>both</b>tail</i></div>"
    tree = parse_html_tree(html)
    div = first_element(tree)
    b = div["children"][0]
    assert b["tag"] == "b"
    assert [c.get("tag", c.get("content")) for c in b["children"]] == ["bold", "i"]
    assert div["children"][1] == {"type": "text", "content": "tail"}


def test_duplicate_attrs_last_wins_and_bare_empty():
    tree = parse_html_tree('<div data-a="1" data-a="2" hidden>t</div>')
    div = first_element(tree)
    assert div["attrs"]["data-a"] == "2"
    assert div["attrs"]["hidden"] == ""


def test_doctype_becomes_text_when_no_body():
    assert extract_text("<!DOCTYPE html><p>x</p>") == "DOCTYPE html\nx"
    # with a body, the doctype sits outside the root and vanishes
    assert extract_text("<!DOCTYPE html><html><body><p>x</p></body></html>") == "x"


def test_unmatched_end_tag_ignored():
    assert extract_text("<div></span>ok</div>") == "ok"


def test_cdata_section():
    assert extract_text("<div><![CDATA[raw]]></div>") == "raw"


def test_style_attr_dict():
    tree = parse_html_tree('<div style="color: red; margin:0 ">s</div>')
    assert first_element(tree)["attrs"]["style"] == {"color": "red", "margin": "0"}


def test_seq_ratio_is_difflib():
    import difflib

    for a, b in [("foo", "bar"), ("index.html", "index2.html"), ("", "")]:
        assert seq_ratio(a, b) == difflib.SequenceMatcher(None, a, b).ratio()


# ---------------------------------------------------------------------------
# round 7: extract_text's default path is the event-equivalent
# _TextOnlyBuilder (no tree materialization). Pin it bytewise against the
# tree-walking path on every edge the tree semantics encode.
# ---------------------------------------------------------------------------

_R7_EDGE_DOCS = [
    "",
    "plain text only",
    "<html><body><p>a</p><p>b</p></body></html>",
    "before <body>inside</body> after",          # body rooting excludes outside
    "<div>no body anywhere</div> tail",
    "<body/>text after self-closed body",        # <body/> -> empty subtree
    "<body></body><body>second body</body>",     # only FIRST body roots
    "<div><body>nested body</body></div> out",   # body at depth
    "<p>x<!-- comment --><b>y</b></p>",          # pseudo-text separate node
    "<body><p>a</p><!--c--></body>",
    "<!DOCTYPE html><p>t</p>",
    "<body><script>var a = '<div>not a tag</div>';</script></body>",
    "<body><style>p > a { color: red }</style>text</body>",
    "<body>a &amp; b &lt;tag&gt; &#65;</body>",  # charrefs decoded
    "<body><div unclosed <p>recover</p></body>",  # broken markup
    "<body><b><i>deep</b>after-i</i></body>",     # mismatched nesting pops
    "<body><br><img src=x><input>void tags</body>",
    "<body><p/>startend<div/>any tag</body>",
    "<body><![CDATA[raw cdata]]></body>",
    "<body><?php echo 1 ?></body>",               # processing instruction
    "<body>   \n\t  </body>",                     # whitespace-only dropped
    "<body>a</body><body>b</body>",               # text after first body close
    "<BODY><P>Upper Case</P></BODY>",             # lowercasing
    "<body da-bare dup='1' dup='2'>attrs</body>",
    "text<body>",                                 # body never closed
    "<body>tail trailing <b>bold",                # EOF inside elements
    "&#x48;&#x49; bare refs no tags",
    "<body> nbsp kept </body>",         # unicode strip semantics
    "<body>a</body><body>b</body><body>c",        # repeated bodies
    "<body/><body>x</body>",
    '<body class="a"><div><body>inner</body>tail</div></body> out',
]


def test_fast_extract_matches_tree_path_on_edges():
    from web_template_forensics_spark.oracle.html_oracle import extract_text

    for doc in _R7_EDGE_DOCS:
        assert extract_text(doc) == _tree_path_extract(doc), doc[:60]


def test_fast_extract_matches_tree_path_on_generated_pages():
    from web_template_forensics_spark.oracle.html_oracle import extract_text
    from web_template_forensics_spark.sources.pages import gen_pages_pdf

    pdf = gen_pages_pdf(0, 300, seed=7, rich=8)
    for _, row in pdf.iterrows():
        html = bytes(row["html"]).decode("utf-8", errors="replace")
        assert extract_text(html) == _tree_path_extract(html), row["url"]


def test_updatepos_noop_is_event_neutral():
    """r7: both builders override _markupbase.updatepos with `return j`
    (skips lineno/offset newline counting, ~9% of extract_text). Positions
    never influence tokenization, so the event stream — and therefore the
    extraction AND the tree — must be identical with the stdlib version
    restored. The text builder's slow twin also restores the stdlib token
    loop, so its fast goahead is compared directly against stdlib on the
    same builder. Pin that over every edge doc and a generated rich
    corpus."""
    import html.parser

    import _markupbase

    from web_template_forensics_spark.oracle import html_oracle as ho
    from web_template_forensics_spark.sources.pages import gen_pages_pdf

    class _SlowText(ho._TextOnlyBuilder):
        updatepos = _markupbase.ParserBase.updatepos
        goahead = html.parser.HTMLParser.goahead

    class _SlowTree(ho._RawTreeBuilder):
        updatepos = _markupbase.ParserBase.updatepos

    def slow_extract(html: str) -> str:
        b = _SlowText()
        b.feed(html)
        return b.extracted()

    def slow_tree(html: str):
        b = _SlowTree()
        b.feed(html)
        b.close()
        b.finish()
        return b.document

    docs = list(_R7_EDGE_DOCS)
    pdf = gen_pages_pdf(0, 120, seed=11, rich=8)
    docs += [bytes(h).decode("utf-8", errors="replace") for h in pdf["html"]]
    for doc in docs:
        assert ho.extract_text(doc) == slow_extract(doc), doc[:60]
        assert ho.parse_raw(doc).document == slow_tree(doc), doc[:60]


def test_generated_page_text_pinned():
    """The golden ``text`` column comes from the tree path; pin its bytes
    so the switch of generator path (or any oracle drift) cannot silently
    change the shipped pages corpus."""
    from web_template_forensics_spark.sources.pages import gen_pages_pdf

    pdf = gen_pages_pdf(0, 300, seed=7, rich=8)
    digest = hashlib.sha256("\x00".join(pdf["text"]).encode()).hexdigest()
    assert digest == "b13d61e4d2dcea91d0d0f8ebd4a1c2734fa14c69edc94ad6d530561748df3798"


# ---- differential fuzz: fast token loop vs the stdlib loop --------------

_FUZZ_TOKENS = [
    # data runs, charrefs, odd whitespace and NUL
    "text", " ", "\n", "\t", "\xa0", "\x00", "a &amp; b", "&lt;x&gt;", "&#65;",
    "&#x42;", "&nbsp;", "&", "&#", "&amp", "&#1",
    # shapes the fast token consumes
    "<p>", "</p>", "<div>", "</div>", "<b>", "</b>", "<h1>", "</h1>", "<li>",
    "</li>", '<p id="a">', '<a href="/x" class="y z">', "</a>", "<br>",
    '<img src="i.png" alt="">', '<p id="a>b">', "<body>", "</body>", "<html>",
    "</html>", "<head>", "</head>", "<title>", "</title>", "<script>",
    "</script>", "<style>", "</style>", "var a = '<div>' < 1;", "p > a {}",
    # shapes that fall back to the stdlib methods
    "<P>", "</P>", "<DIV class=x>", "<BODY>", "<Body>", "</Body>", "<Br>",
    "<SCRIPT>", "<Script>", "<Style>", "</SCRIPT >",
    "</script >", "</style\n>", "<a href=x>", "<a href='x'>", '<a href = "x">',
    "<a b = 'c' >", "<b\xa0x>", "<b\vx>", '<body\xa0a="1">', '<script\vx="1">',
    '<p\nid="a">', "<br/>", "<p/>", "<body/>", "< p>",
    "</ p>", "</>", "</h1\n>", "<p >", '<p a="1"b="2">', "<input disabled>",
    '<p data-x="1" data-x="2">', "<p a=\"&amp;\">", "<a_b>", "</a_b>",
    "<!-- c -->", "<!---->", "<!--", "-->", "<!DOCTYPE html>", "<?php x ?>",
    "<![CDATA[x]]>", "<!x>", "<", "</", "<a", "<a b=", ">",
]

_fuzz_docs = st.builds(
    "".join,
    st.lists(st.sampled_from(_FUZZ_TOKENS), max_size=40),
).flatmap(
    # EOF tails: unterminated constructs and a bare '&'/'&#' within the
    # last 34 characters, where stdlib's charref-cut rule applies
    lambda body: st.sampled_from(["", "&", "&#", "&#x", " &amp", "<", "<!--", "<a b="]).map(
        lambda tail: body + tail
    )
)


@settings(derandomize=True, max_examples=2000, deadline=None, database=None)
@given(_fuzz_docs)
def test_fast_extract_matches_tree_path_fuzz(doc):
    assert extract_text(doc) == _tree_path_extract(doc)


def test_stdlib_tokenizer_unchanged():
    """``_TextOnlyBuilder.goahead`` copies stdlib ``HTMLParser.goahead``
    and its fast token is argued exact against these stdlib rules. An
    interpreter upgrade that changes any of them must fail here, not
    silently change the extraction."""
    import html.parser as hp
    import inspect

    parts = [
        inspect.getsource(getattr(hp.HTMLParser, name))
        for name in ("goahead", "parse_starttag", "parse_endtag", "check_for_whole_start_tag")
    ]
    parts += [
        getattr(hp, name).pattern
        for name in (
            "starttagopen",
            "locatestarttagend_tolerant",
            "tagfind_tolerant",
            "attrfind_tolerant",
            "endendtag",
            "endtagfind",
        )
    ]
    digest = hashlib.sha256("\x00".join(parts).encode()).hexdigest()
    assert digest == "064b4bdc9ad63f930f4423aecb8f726541534ca9875a501aba437330c65dbec5", (
        "stdlib html.parser's token loop or tag regexes changed: re-check "
        "_TextOnlyBuilder.goahead (its copied loop and the _FAST_TOKEN "
        "exactness argument) against the new stdlib, then update this hash"
    )
