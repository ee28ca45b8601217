"""HTML→text extraction tests (myhtmlparse.cc rules: script/style skip,
pending-space whitespace normalization, title/meta capture, entities)."""

from xapian_spark.analysis.htmlparse import (
    HtmlTextExtractor,
    decode_entities,
    extract_fields,
    extract_text,
)


def test_basic_normalization():
    assert extract_text(b"<html><body>hello   world</body></html>") == (
        "hello world"
    )
    # leading/trailing whitespace never emitted
    assert extract_text(b"<body>  x  </body>") == "x"
    assert extract_text(b"<body>\n\t a \n b \t</body>") == "a b"


def test_script_style_skipped():
    h = b"<body>keep<script>var x = 'drop me';</script>this</body>"
    assert extract_text(h) == "keep this"
    h = b"<body>a<style>p { color: red }</style>b</body>"
    assert extract_text(h) == "a b"
    # nested/unclosed script content must not leak
    h = b"<body>a<script>if (x < 3) { y(); }</script>b</body>"
    assert extract_text(h) == "a b"


def test_inline_vs_block_tags():
    # inline tags do not split words
    assert extract_text(b"<body>ab<b>cd</b>ef</body>") == "abcdef"
    # block tags force a word break
    assert extract_text(b"<body><p>one</p><p>two</p></body>") == "one two"
    assert extract_text(b"<body>one<br>two</body>") == "one two"
    assert extract_text(b"<ul><li>a</li><li>b</li></ul>") == "a b"


def test_title_not_in_dump():
    h = b"<html><head><title>My Title</title></head><body>body text</body>"
    f = extract_fields(h)
    assert f["title"] == "My Title"
    assert f["text"] == "body text"


def test_meta_fields():
    h = (
        b'<head><meta name="keywords" content="alpha, beta">'
        b'<meta name="description" content="a sample">'
        b'<meta name="author" content="Jo Writer"></head><body>x</body>'
    )
    f = extract_fields(h)
    assert f["keywords"] == "alpha, beta"
    assert f["sample"] == "a sample"
    assert f["author"] == "Jo Writer"
    assert f["indexing_allowed"] is True


def test_meta_robots_noindex():
    h = b'<head><meta name="robots" content="noindex,nofollow"></head>x'
    assert extract_fields(h)["indexing_allowed"] is False


def test_comments_and_entities():
    assert extract_text(b"a<!-- hidden <b>junk</b> -->b") == "ab"
    assert decode_entities("fish &amp; chips") == "fish & chips"
    assert decode_entities("&#65;&#x42;") == "AB"
    assert extract_text(b"<body>fish &amp; chips &lt;now&gt;</body>") == (
        "fish & chips <now>"
    )


def test_deterministic():
    h = (
        b"<html><head><title>T</title></head><body><p>Hello   World</p>"
        b"<script>junk()</script><div>again</div></body></html>"
    )
    assert extract_text(h) == extract_text(h) == "Hello World again"


def test_extractor_reusable_and_stateless():
    ex = HtmlTextExtractor()
    assert ex.parse("<p>a</p>").dump == "a"
    assert ex.parse("<p>b</p>").dump == "b"


def test_charset_goldens_reference_table():
    # htmlparsetest.cc:49-54 — the reference's charset rows, replayed
    # with the omindex default (iso-8859-1, omindex.cc:432). Expected
    # strings are the reference's utf-8 byte expectations decoded.
    cases = [
        # (html bytes, dump, title)
        (b"<html><head><title>\xc2\xae</title></head>"
         b"<body>\xc2\xa3</body></html>",
         b"\xc3\x82\xc2\xa3", b"\xc3\x82\xc2\xae"),
        (b"<html><head><meta http-equiv=Content-Type content=\""
         b"text/html;charset=iso-8859-1\"><title>\xc2\xae</title>"
         b"</head><body>\xc2\xa3</body></html>",
         b"\xc3\x82\xc2\xa3", b"\xc3\x82\xc2\xae"),
        (b"<html><head><meta http-equiv=Content-Type content=\""
         b"text/html;charset=utf-8\"><title>\xc2\xae</title></head>"
         b"<body>\xc2\xa3</body></html>",
         b"\xc2\xa3", b"\xc2\xae"),
        (b"<html><head><meta charset='utf-8'><title>\xc2\xae</title>"
         b"</head><body>\xc2\xa3</body></html>",
         b"\xc2\xa3", b"\xc2\xae"),
        (b"<html><head><title>\xc2\xae</title><meta charset=\"utf-8\""
         b"></head><body>\xc2\xa3</body></html>",
         b"\xc2\xa3", b"\xc2\xae"),
    ]
    for html, dump, title in cases:
        f = extract_fields(html, default_charset="iso-8859-1")
        assert f["text"] == dump.decode("utf-8"), html
        assert f["title"] == title.decode("utf-8"), html


def test_charset_sniffing_edges():
    from xapian_spark.analysis.htmlparse import decode_html, sniff_charset

    # BOMs win over meta
    assert sniff_charset(b"\xef\xbb\xbfx") == "utf-8"
    assert sniff_charset(b"\xff\xfe<\x00") == "utf-16-le"
    assert sniff_charset(b"\xfe\xff\x00<") == "utf-16-be"
    # windows-1252 smart quote via meta
    h = (b"<meta charset=windows-1252><body>\x93quoted\x94</body>")
    assert "“quoted”" in decode_html(h)
    # unknown charset name falls back to the default, then utf-8
    h = b"<meta charset=no-such-charset><body>ok</body>"
    assert "ok" in decode_html(h, "also-bogus")
    # utf-16 document (every tag byte is multibyte) decodes via BOM
    doc = "<body>café</body>".encode("utf-16")  # LE BOM
    assert "café" in decode_html(doc)
    # "charset=" in a non-content-type meta's content declares nothing
    h = ('<meta name="description" content="pages in charset=shift_jis">'
         "<body>caf\u00e9</body>").encode("utf-8")
    assert sniff_charset(h) == "utf-8"
    assert "caf\u00e9" in decode_html(h)
    assert sniff_charset(
        b'<meta content="text/html; charset=koi8-r" '
        b'http-equiv="content-type">') == "koi8-r"
    # default when nothing declares
    assert sniff_charset(b"<body>x</body>") == "utf-8"
    assert sniff_charset(b"<body>x</body>", "iso-8859-1") == \
        "iso-8859-1"
