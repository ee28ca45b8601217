"""HTML → text extraction with the reference's whitespace/skip rules.

Re-implements the text-extraction behavior of the reference's omindex HTML
parser (xapian-applications/omega/myhtmlparse.cc:124-299 `process_text` /
`opening_tag` / `closing_tag`, over the scanner in htmlparse.cc):

- text inside <script>/<style> is skipped entirely
- comments <!-- ... --> and SGML declarations are skipped
- whitespace is normalized with a *pending space* that is emitted only when
  more non-space text follows (never leading/trailing, never doubled)
- block-level tags (open or close) force a pending space; inline tags don't
- <title> text is captured separately and does not appear in the body dump
- <meta name=description/keywords/author> content captured to fields;
  <meta name=robots content=noindex|none> marks the page non-indexable
- character/numeric entity references are decoded

The per-url output is deterministic: same html bytes → same text bytes
(the "byte-identical extracted text per url" invariant).

Runs as a vectorized pandas UDF over `html BINARY` (see
xapian_spark.io.pages.extract_text_udf).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_WHITESPACE = " \t\n\r"

# Minimal named-entity table (htmlparse.cc named_ents covers HTML 4 /
# Latin-1; the common core is what web text actually uses).
_NAMED_ENTS = {
    "amp": 0x26, "lt": 0x3C, "gt": 0x3E, "quot": 0x22, "apos": 0x27,
    "nbsp": 0xA0, "copy": 0xA9, "reg": 0xAE, "deg": 0xB0, "middot": 0xB7,
    "laquo": 0xAB, "raquo": 0xBB, "plusmn": 0xB1, "frac12": 0xBD,
    "eacute": 0xE9, "egrave": 0xE8, "agrave": 0xE0, "ccedil": 0xE7,
    "ouml": 0xF6, "uuml": 0xFC, "auml": 0xE4, "szlig": 0xDF,
    "ndash": 0x2013, "mdash": 0x2014, "lsquo": 0x2018, "rsquo": 0x2019,
    "ldquo": 0x201C, "rdquo": 0x201D, "hellip": 0x2026, "bull": 0x2022,
    "dagger": 0x2020, "trade": 0x2122, "euro": 0x20AC, "pound": 0xA3,
    "cent": 0xA2, "yen": 0xA5, "sect": 0xA7, "para": 0xB6, "times": 0xD7,
    "divide": 0xF7,
}

_ENT_RE = re.compile(r"&(#[xX]?[0-9a-fA-F]+|[A-Za-z][A-Za-z0-9]*);?")

# Tags that force a word break (block-ish set; the reference's generated
# token table my-html-tok.h maps these to SPACE-or-stronger separators).
_BREAK_TAGS = frozenset(
    """address article aside blockquote body br caption center col colgroup
    dd details dialog div dl dt embed fieldset figcaption figure footer form
    frame h1 h2 h3 h4 h5 h6 head header hgroup hr html iframe img legend li
    main marquee menu nav noscript object ol option p plaintext pre q
    script section select style summary table tbody td textarea tfoot th
    thead title tr ul xmp""".split()
)
# void elements: closing_tag is a no-op (NOCLOSE in the reference table)
_NOCLOSE = frozenset(
    "area base basefont br col embed frame hr img input isindex link meta"
    " param source track wbr".split()
)

_TAG_RE = re.compile(
    r"<(/?)([A-Za-z][A-Za-z0-9]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>",
    re.DOTALL,
)
_ATTR_RE = re.compile(
    r"""([A-Za-z][A-Za-z0-9_:.-]*)\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]*))""",
    re.DOTALL,
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_DECL_RE = re.compile(r"<![^>]*>")
_PI_RE = re.compile(r"<\?.*?\?>", re.DOTALL)


# meta-declared charset, mirroring myhtmlparse.cc:210-255: the
# "charset=" token (quoted or bare, bare ends at the reference's
# separator set) of an http-equiv=content-type tag's content, and the
# HTML5 <meta charset=...> attribute. "charset=" inside any other
# meta content (a description, keywords) is text, not a declaration.
# Scanned on the RAW bytes (tags are ASCII in every ASCII-compatible
# charset, which is everything the web uses once UTF-16 BOMs are
# handled first).
_META_TAG_RE = re.compile(rb"<meta\s[^>]*>", re.IGNORECASE | re.DOTALL)
_CHARSET_TOKEN_RE = re.compile(
    r"charset\s*=\s*(?:\"([^\"]*)\"|'([^']*)'"
    r"|([^\s\"';()<>@,:\\/\[\]?={}]+))",
    re.IGNORECASE)


def sniff_charset(data: bytes, default: str = "utf-8") -> str:
    """Charset of an html byte blob: BOM first, then the first
    meta-declared charset, else `default`. The reference parses with
    a caller-supplied charset and re-parses when a meta tag declares
    a different one (myhtmlparse.cc parse_html / the thrown
    newcharset, omindex.cc:432) — sniff-then-decode-once is the
    byte-level equivalent."""
    if data[:3] == b"\xef\xbb\xbf":
        return "utf-8"
    if data[:2] == b"\xff\xfe":
        return "utf-16-le"
    if data[:2] == b"\xfe\xff":
        return "utf-16-be"
    for tag in _META_TAG_RE.finditer(data):
        attrs: dict = {}
        for a in _ATTR_RE.finditer(tag.group(0).decode("latin-1")):
            attrs.setdefault(a.group(1).lower(), next(
                g for g in a.groups()[2:] if g is not None))
        if "charset" in attrs:
            decl = "charset=" + attrs["charset"]
        elif attrs.get("http-equiv", "").strip().lower() == "content-type":
            decl = attrs.get("content", "")
        else:
            continue
        m = _CHARSET_TOKEN_RE.search(decl)
        if m:
            name = next(g for g in m.groups() if g is not None)
            name = name.strip().lower()
            if name:
                return name
    return default


def decode_html(data: bytes, default_charset: str = "utf-8") -> str:
    """html bytes → str via the sniffed (BOM/meta) charset, falling
    back to `default_charset`, then to utf-8 for unknown names;
    undecodable bytes are replaced, never raised — a corpus decode
    step must be total."""
    import codecs

    name = sniff_charset(bytes(data), default_charset)
    for candidate in (name, default_charset, "utf-8"):
        try:
            codecs.lookup(candidate)
        except LookupError:
            continue
        return bytes(data).decode(candidate, errors="replace")
    return bytes(data).decode("utf-8", errors="replace")


def decode_entities(s: str) -> str:
    def repl(m: re.Match) -> str:
        code = m.group(1)
        if code.startswith("#"):
            try:
                val = int(code[2:], 16) if code[1] in "xX" else int(code[1:])
            except ValueError:
                return m.group(0)
        else:
            val = _NAMED_ENTS.get(code, 0)
        if 0 < val <= 0x10FFFF:
            return chr(val)
        return m.group(0)

    return _ENT_RE.sub(repl, s)


@dataclass
class ParseResult:
    dump: str = ""
    title: str = ""
    sample: str = ""
    keywords: str = ""
    author: str = ""
    topic: str = ""
    indexing_allowed: bool = True
    _pending_space: int = field(default=0, repr=False)


class HtmlTextExtractor:
    """One reusable extractor (stateless across parse() calls)."""

    def parse(self, html: str) -> ParseResult:
        res = ParseResult()
        target = []  # current text sink (list of str chunks)
        title_parts: list = []
        dump_parts: list = []
        target = dump_parts
        pending = [0]  # 0 = none, 1 = space pending
        in_skip = 0  # nesting depth of script/style

        def process_text(text: str) -> None:
            # myhtmlparse.cc:124-145 process_text
            if not text or in_skip:
                return
            i = 0
            n = len(text)
            # leading whitespace → pending space (only if target non-empty)
            b = 0
            while b < n and text[b] in _WHITESPACE:
                b += 1
            if b and not pending[0]:
                pending[0] = 1
            while b < n:
                if pending[0] and target:
                    target.append(" ")
                e = b
                while e < n and text[e] not in _WHITESPACE:
                    e += 1
                target.append(text[b:e])
                if e >= n:
                    pending[0] = 0
                    return
                pending[0] = 1
                b = e + 1
                while b < n and text[b] in _WHITESPACE:
                    b += 1

        pos = 0
        n = len(html)
        while pos < n:
            lt = html.find("<", pos)
            if lt == -1:
                process_text(decode_entities(html[pos:]))
                break
            if lt > pos:
                process_text(decode_entities(html[pos:lt]))
            nxt = html[lt + 1: lt + 2]
            if nxt == "!":
                m = _COMMENT_RE.match(html, lt) or _DECL_RE.match(html, lt)
                pos = m.end() if m else lt + 1
                if not m:
                    process_text("<")
                continue
            if nxt == "?":
                m = _PI_RE.match(html, lt)
                pos = m.end() if m else lt + 1
                if not m:
                    process_text("<")
                continue
            m = _TAG_RE.match(html, lt)
            if not m:
                if not in_skip:
                    process_text("<")
                pos = lt + 1
                continue
            closing, tag, attrs_str = m.groups()
            tag = tag.lower()
            pos = m.end()

            # inside <script>/<style>: only the matching close tag matters
            if in_skip and not (closing and tag in ("script", "style")):
                continue

            if tag in _BREAK_TAGS:
                pending[0] = max(pending[0], 1)

            if not closing:
                if tag in ("script", "style"):
                    in_skip += 1
                elif tag == "title":
                    target = title_parts
                    pending[0] = 0
                elif tag == "meta":
                    attrs = {
                        k.lower(): (v2 or v3 or v4 or "")
                        for k, _v, v2, v3, v4 in _ATTR_RE.findall(attrs_str)
                    }
                    name = attrs.get("name", "").lower()
                    content = attrs.get("content", "")
                    if name and content:
                        content = decode_entities(content)
                        if name == "description" and not res.sample:
                            res.sample = content
                        elif name == "keywords":
                            res.keywords = (
                                res.keywords + " " + content
                                if res.keywords else content
                            )
                        elif name == "author":
                            res.author = (
                                res.author + " " + content
                                if res.author else content
                            )
                        elif name == "classification":
                            res.topic = (
                                res.topic + " " + content
                                if res.topic else content
                            )
                        elif name == "robots":
                            c = content.lower()
                            if "none" in c or "noindex" in c:
                                res.indexing_allowed = False
            else:
                if tag in _NOCLOSE:
                    continue
                if tag in ("script", "style"):
                    in_skip = max(0, in_skip - 1)
                elif tag == "title":
                    target = dump_parts
                    pending[0] = 0

        res.dump = "".join(dump_parts)
        res.title = "".join(title_parts)
        return res


_EXTRACTOR = HtmlTextExtractor()


def extract_text(html, default_charset: str = "utf-8") -> str:
    """html (bytes or str) → normalized body text (deterministic).
    Byte input decodes via the sniffed BOM/meta charset with
    `default_charset` as the fallback — utf-8 here (the synthetic
    corpus default); pass "iso-8859-1" for the reference omindex
    contract (omindex.cc:432)."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        html = decode_html(html, default_charset)
    return _EXTRACTOR.parse(html).dump


def extract_text_udf(col):
    """Arrow-batched pandas UDF: html BINARY/STRING column → text STRING
    (the per-row invariant surface: byte-identical extracted text per
    url vs the reference myhtmlparse rules)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _extract(s):
        import pandas as pd

        return pd.Series([extract_text(v) for v in s])

    return _extract(col)


def extract_fields(html, default_charset: str = "utf-8") -> dict:
    if html is None:
        html = ""
    if isinstance(html, (bytes, bytearray)):
        html = decode_html(html, default_charset)
    r = _EXTRACTOR.parse(html)
    return {
        "text": r.dump,
        "title": r.title,
        "sample": r.sample,
        "keywords": r.keywords,
        "author": r.author,
        "indexing_allowed": r.indexing_allowed,
    }
