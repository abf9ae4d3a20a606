"""HTML text extraction for web-corpus pipelines (r9 continuation).

Web crawl dumps are the dominant input of large-scale training-data
pipelines, and HTML→text extraction is their first transform (the
WET-extraction / boilerplate-removal step of CCNet-style pipelines).
Two tiers, mirroring the repo's codec-tier philosophy:

1. **``strip_html``** — a pure-Catalyst expression chain (comment /
   script / style removal, tag stripping, the six standard entity
   decodes, whitespace collapse). Stays inside whole-stage codegen —
   zero Python on the hot path, trivially scales to 100 TB of pages
   as a map-only projection. Every regex used is valid in BOTH Java
   regex and RE2 (no backreferences, inline ``(?s)`` flags only), so
   the DuckDB oracle twin runs the literally-same patterns.

2. **``extract_main_content``** — boilerplate REMOVAL, not just tag
   stripping: a stdlib ``html.parser`` walk segments the page into
   block-level text blocks, scores each block by link density
   (anchor-text chars / block chars — the Boilerpipe/jusText
   signal) and length, and keeps content blocks while dropping
   nav/menu/footer link farms. Arrow-batched ``mapInPandas`` —
   payload bytes cross the JVM↔Python boundary once per batch; the
   parse is per-document and embarrassingly parallel.

Reference parity note: mrohitth/cdc-historical-warehouse-platform has
no text-extraction surface — this module is part of the
training-data-pipeline north star, not reference parity.
"""

from __future__ import annotations

from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "strip_html",
    "CONTENT_SCHEMA",
    "extract_main_content",
    "HTML_ENTITIES",
]

# decode order matters: && is decoded LAST so escaped entities
# ("&amp;lt;") surface as their literal text ("&lt;"), per the spec
HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def strip_html(col: Column) -> Column:
    """HTML → visible text, entirely JVM-side: drop comments and
    script/style subtrees, strip tags, decode the six standard
    entities, collapse whitespace. All patterns are shared verbatim
    with the DuckDB oracle (Java-regex ∩ RE2 dialect)."""
    c = F.regexp_replace(col, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script\s*>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style\s*>", " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, rep in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    # NOT \s: Java's \s includes \x0B (vertical tab) but RE2's does
    # not — the explicit class is identical in both dialects
    return F.trim(F.regexp_replace(c, r"[ \t\n\x{B}\f\r]+", " "))


def strip_html_sql(expr: str) -> str:
    """The DuckDB twin of :func:`strip_html` over SQL expression
    ``expr`` — the same regexes (RE2's default dot already spans
    newlines; the inline (?s) is accepted and redundant there)."""
    c = f"regexp_replace({expr}, '(?s)<!--.*?-->', ' ', 'g')"
    c = f"regexp_replace({c}, '(?is)<script[^>]*>.*?</script\\s*>', ' ', 'g')"
    c = f"regexp_replace({c}, '(?is)<style[^>]*>.*?</style\\s*>', ' ', 'g')"
    c = f"regexp_replace({c}, '<[^>]*>', ' ', 'g')"
    for ent, rep in HTML_ENTITIES:
        r = rep.replace("'", "''")
        c = f"replace({c}, '{ent}', '{r}')"
    return f"trim(regexp_replace({c}, '[ \\t\\n\\x{{B}}\\f\\r]+', ' ', 'g'))"


CONTENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("content", T.StringType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("n_kept", T.IntegerType()),
        T.StructField("kept_chars", T.IntegerType()),
        T.StructField("link_chars", T.IntegerType()),
    ]
)

# elements that terminate a text block when opened or closed
_BLOCK_TAGS = frozenset(
    "p div article section main li ul ol h1 h2 h3 h4 h5 h6 td th tr "
    "table pre blockquote br hr form nav header footer aside".split()
)
# subtrees whose text is never content
_SKIP_TAGS = frozenset(("script", "style", "noscript", "template"))


class _BlockParser(HTMLParser):
    """Segment a page into text blocks, tracking per-block anchor-text
    chars (the link-density numerator). stdlib html.parser is
    error-tolerant, so crawl-grade malformed markup parses without
    raising."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int]] = []
        self._parts: list[str] = []
        self._link_chars = 0
        self._anchor_depth = 0
        self._skip_depth = 0

    def _flush(self):
        text = " ".join("".join(self._parts).split())
        if text:
            self.blocks.append((text, self._link_chars))
        self._parts = []
        self._link_chars = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self._anchor_depth += 1

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)

    def handle_data(self, data):
        if self._skip_depth:
            return
        self._parts.append(data)
        if self._anchor_depth:
            self._link_chars += len(data.strip())

    def close(self):
        super().close()
        self._flush()


def parse_blocks_stdlib(html: str) -> list[tuple[str, int]]:
    """The stdlib ``html.parser`` segmentation — the semantic REFERENCE
    :func:`parse_blocks` must equal (pinned by the differential fuzz
    test). Kept callable so the equivalence is checkable forever."""
    p = _BlockParser()
    p.feed(html)
    p.close()
    return p.blocks


# --- fast scanner (r13 optimization round, guide §4.2) ----------------------
#
# The stdlib HTMLParser spends most of its time in per-event plumbing
# the block segmentation never uses: updatepos() line accounting
# (a count('\n') per chunk), attribute materialization + unescape,
# get_starttag_text bookkeeping, and 3-4 dynamic dispatches per tag.
# Boilerplate removal only needs (tag-open, tag-close, data) events, so
# this scanner re-implements HTMLParser.goahead + parse_starttag/
# parse_endtag/parse_html_declaration for the ONE-SHOT feed+close case,
# using the SAME regexes as html.parser and its ParserBase (copied
# below) so tokenization is byte-identical — including the
# tolerant/bogus-markup paths and their odd corners (data chunk
# boundaries matter: _link_chars strips per chunk). Equality with
# parse_blocks_stdlib is pinned by a differential fuzz test over
# malformed-markup corpora. Measured ~3x on crawl-shaped pages — the
# dominant CPU term of WARC ingestion (see OPTIMIZATION_r13.md).

from html import unescape as _unescape  # noqa: E402

import re as _re  # noqa: E402

# Copied from CPython 3.11.7 (Lib/html/parser.py and the ParserBase
# module it builds on) rather than imported: those names are private
# to the stdlib and may change between Python releases. The
# differential fuzz test pins the scanner against the stdlib parser
# of whatever Python runs it.
_tagfind = _re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_attrfind = _re.compile(
    r'((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*'
    r'(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*'
)
_locatestarttagend = _re.compile(
    r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""",
    _re.VERBOSE,
)
_endtagfind = _re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_commentclose = _re.compile(r"--\s*>")
_declname_match = _re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*").match
_markedsectionclose = _re.compile(r"]\s*]\s*>")
_msmarkedsectionclose = _re.compile(r"]\s*>")

_ASCII_LETTERS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
)
_AFTER_ATTR_INCOMPLETE = frozenset(
    "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
)
_CDATA_CLOSE = {
    t: _re.compile(r"</\s*%s\s*>" % t, _re.I) for t in ("script", "style")
}
_STD_SECTIONS = frozenset(("temp", "cdata", "ignore", "include", "rcdata"))
_MS_SECTIONS = frozenset(("if", "else", "endif"))


def parse_blocks(html: str) -> list[tuple[str, int]]:
    """HTML → [(block text, anchor chars)] — the segmentation
    :func:`extract_main_content` scores. Exposed for tests.
    Byte-identical to :func:`parse_blocks_stdlib` (differential-fuzz
    pinned), ~3x faster on crawl pages."""
    s = html
    n = len(s)
    i = 0
    blocks: list[tuple[str, int]] = []
    parts: list[str] = []
    link_chars = 0
    anchor = 0
    skip = 0
    cdata_tag = None  # 'script' / 'style' while in CDATA mode

    def flush():
        nonlocal parts, link_chars
        text = " ".join("".join(parts).split())
        if text:
            blocks.append((text, link_chars))
        parts = []
        link_chars = 0

    def data(chunk):
        nonlocal link_chars
        if skip:
            return
        parts.append(chunk)
        if anchor:
            link_chars += len(chunk.strip())

    def start(tag):
        nonlocal skip, anchor
        if tag in _SKIP_TAGS:
            skip += 1
            return
        if tag in _BLOCK_TAGS:
            flush()
        if tag == "a":
            anchor += 1

    def end(tag):
        nonlocal skip, anchor
        if tag in _SKIP_TAGS:
            skip = max(0, skip - 1)
            return
        if tag in _BLOCK_TAGS:
            flush()
        if tag == "a":
            anchor = max(0, anchor - 1)

    def recover(pos):
        # HTMLParser.goahead(end=1) fallback for an unterminated
        # construct: consume to just past the next '>', else to the
        # next '<', else one char, emitting the span as data
        k = s.find(">", pos + 1)
        if k < 0:
            k = s.find("<", pos + 1)
            if k < 0:
                k = pos + 1
        else:
            k += 1
        chunk = s[pos:k]
        data(_unescape(chunk) if "&" in chunk else chunk)
        return k

    while i < n:
        if cdata_tag is not None:
            # CDATA mode: only the exact close pattern is interesting
            m = _CDATA_CLOSE[cdata_tag].search(s, i)
            if not m:
                break  # unterminated script/style swallows the rest
            if i < m.start():
                data(s[i : m.start()])  # raw — no charref conversion
            end(cdata_tag)
            cdata_tag = None
            i = m.end()
            continue
        j = s.find("<", i)
        if j < 0:
            j = n
        if i < j:
            chunk = s[i:j]
            data(_unescape(chunk) if "&" in chunk else chunk)
        i = j
        if i == n:
            break
        c2 = s[i + 1 : i + 2]
        if c2 in _ASCII_LETTERS:
            # --- parse_starttag + check_for_whole_start_tag ---
            m = _locatestarttagend.match(s, i)
            j = m.end()
            nxt = s[j : j + 1]
            if nxt == ">":
                endpos = j + 1
            elif nxt == "/":
                if s.startswith("/>", j):
                    endpos = j + 2
                else:  # lone '/' at end of input
                    i = recover(i)
                    continue
            elif nxt == "":
                i = recover(i)
                continue
            elif nxt in _AFTER_ATTR_INCOMPLETE:
                i = recover(i)
                continue
            else:
                endpos = j if j > i else i + 1
            tm = _tagfind.match(s, i + 1)
            k = tm.end()
            tag = tm.group(1).lower()
            while k < endpos:
                am = _attrfind.match(s, k)
                if not am:
                    break
                k = am.end()
            endbit = s[k:endpos].strip()
            if endbit not in (">", "/>"):
                data(s[i:endpos])  # bogus tag text passes through raw
                i = endpos
                continue
            if endbit == "/>":
                start(tag)
                end(tag)
            else:
                start(tag)
                if tag in ("script", "style"):
                    cdata_tag = tag
            i = endpos
        elif c2 == "/":
            # --- parse_endtag ---
            gt = s.find(">", i + 1)
            if gt < 0:
                i = recover(i)
                continue
            em = _endtagfind.match(s, i)
            if em:
                end(em.group(1).lower())
                i = gt + 1
                continue
            nm = _tagfind.match(s, i + 2)
            if nm:
                end(nm.group(1).lower())
                # '>' after the name always exists: the name charset
                # excludes '>', so the one found above is at/after it
                i = s.find(">", nm.end()) + 1
                continue
            if s.startswith("</>", i):
                i += 3
                continue
            i = gt + 1  # bogus comment (s[i+1]=='/' so gt >= i+2)
        elif s.startswith("<!--", i):
            m = _commentclose.search(s, i + 4)
            if not m:
                i = recover(i)
                continue
            i = m.end()
        elif c2 == "?":
            gt = s.find(">", i + 2)
            if gt < 0:
                i = recover(i)
                continue
            i = gt + 1
        elif c2 == "!":
            # --- parse_html_declaration ---
            if s.startswith("<![", i):
                # parse_marked_section (AssertionError on unknown
                # keywords — stdlib behavior, mirrored exactly)
                if i + 3 == n:
                    i = recover(i)
                    continue
                nm = _declname_match(s, i + 3)
                if not nm:
                    raise AssertionError(
                        "expected name token at %r" % s[i : i + 20]
                    )
                if nm.end() == n:
                    i = recover(i)
                    continue
                sect = nm.group().strip().lower()
                if sect in _STD_SECTIONS:
                    m = _markedsectionclose.search(s, i + 3)
                elif sect in _MS_SECTIONS:
                    m = _msmarkedsectionclose.search(s, i + 3)
                else:
                    raise AssertionError(
                        "unknown status keyword %r in marked section"
                        % s[i + 3 : nm.end()]
                    )
                if not m:
                    i = recover(i)
                    continue
                i = m.end()
            elif s[i + 2 : i + 9].lower() == "doctype":
                gt = s.find(">", i + 9)
                if gt < 0:
                    i = recover(i)
                    continue
                i = gt + 1
            else:
                # bogus comment (also covers the empty '<!>')
                p = s.find(">", i + 2)
                if p < 0:
                    i = recover(i)
                    continue
                i = p + 1
        elif i + 1 < n:
            data("<")
            i += 1
        else:
            data("<")  # lone trailing '<' (unescapes to itself)
            i = n
    flush()
    return blocks


def extract_main_content(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_words: int = 10,
    max_link_density: float = 0.33,
) -> DataFrame:
    """Boilerplate removal: keep blocks with ≥ ``min_words`` words and
    link density ≤ ``max_link_density`` (nav bars, menus, and footer
    link farms are short and link-dense; article prose is long and
    link-sparse — the Boilerpipe observation). Returns the kept blocks
    joined by newlines plus the block-accounting columns."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, html in zip(pdf[id_col], pdf[html_col]):
                if html is None:
                    continue
                blocks = parse_blocks(str(html))
                kept = [
                    text
                    for text, link_chars in blocks
                    if len(text.split()) >= min_words
                    and link_chars <= max_link_density * len(text)
                ]
                out.append(
                    {
                        "doc_id": doc_id,
                        "content": "\n".join(kept),
                        "n_blocks": len(blocks),
                        "n_kept": len(kept),
                        "kept_chars": sum(len(t) for t in kept),
                        "link_chars": sum(lc for _t, lc in blocks),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in CONTENT_SCHEMA.fields])

    return df.select(
        F.col(id_col).alias(id_col), F.col(html_col).alias(html_col)
    ).mapInPandas(_extract, CONTENT_SCHEMA)
