"""Listing-card extraction from raw HTML — pure stdlib, no bs4/lxml.

Re-implements the selector semantics of the reference's transform stage
(reference: download_lambda.py:87-114):

- one *card* per ``<div class="listing-card__content">`` (``:88``),
- ``valor``  = text of the first ``<span class="price__actual">``,
  whitespace-stripped (``:99-100``),
- ``barrio`` = text of the first ``<div class="listing-card__location__geo">``
  (``:102-103``),
- ``num_habitaciones`` / ``num_banos`` / ``mts2`` = the ``content``
  attribute of the first ``<p data-test="bedrooms|bathrooms|floor-area">``
  (``:105-114``).

Missing element or attribute → ``None`` here (the reference emits the
sentinel string ``"N/A"`` — ``:100,103,107,111,114``; the Spark side keeps
real NULLs and applies the ``"N/A"`` compat mapping only at the sink).

Grammar contract. :func:`extract_cards` tokenizes exactly as CPython
3.11.7's ``html.parser.HTMLParser`` (``convert_charrefs=True``, one
``feed`` then ``close``), whatever ``html.parser`` the interpreter
ships, and so yields the same tags, attributes and data fragments.
Fragment boundaries matter: each fragment is stripped on its own before
an element's text is joined (``get_text(strip=True)`` parity).
``tests/html_reference.py`` keeps the ``HTMLParser`` subclass this
module replaced; it is the arbiter, and the differential tests hold
this module to it. There is one named divergence: ``<![`` followed by
anything but a known marked-section keyword (``cdata``, ``temp``,
``ignore``, ``include``, ``rcdata``, ``if``, ``else``, ``endif``) makes
``html.parser`` raise ``AssertionError``, which would fail the whole
Spark task. Here it is a bogus comment up to the next ``>``, the HTML5
tokenizer's rule.

How. One compiled regex (:data:`_TOKEN`) takes the constructs that make
up nearly all listing markup: start tags whose attributes are quoted or
valueless, end tags and comments. Attributes are parsed only for
``div``/``span``/``p`` and only when their raw text could match a
selector. Every other ``<`` (unquoted values, bogus or unterminated
tags, declarations, processing instructions, ``<`` as text) takes
``html.parser``'s own branch logic in :func:`_other_token`. The function
runs once per whole-file HTML string inside the Arrow-batched pandas UDF
of ``pipeline.parse``.
"""

from __future__ import annotations

import re
from html import unescape

FIELDS = ("valor", "barrio", "num_habitaciones", "num_banos", "mts2")

_DATA_TEST_FIELD = {
    "bedrooms": "num_habitaciones",
    "bathrooms": "num_banos",
    "floor-area": "mts2",
}

# Tags that never take a closing tag (HTML5 void elements) — must not
# affect the open-element depth bookkeeping.
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Tags whose opening implicitly closes an open <p> (the HTML5 subset
# that matters for listing markup) — mirrors how html.parser-backed
# BeautifulSoup recovers from the unclosed <p> tags that are endemic in
# real scraped pages.
_CLOSES_P = frozenset("p div section article ul ol li table form h1 h2 h3 h4 h5 h6".split())

# The common tokens, each with the text run before it. Every match is
# tokenized by html.parser exactly as the groups say: names are subsets
# of its name classes and separators are whitespace it also skips, so a
# tag it would split differently fails here and takes its own branches.
_TOKEN = re.compile(
    r"""([^<]*)<(?:                                         # 1 text before "<"
        ([a-zA-Z][-.:\w]*)                                  # 2 start-tag name
        ((?:[ \t\n\r\f]+[a-zA-Z_:][-.:\w]*                  # 3 attributes,
            (?:[ \t\n\r\f]*=[ \t\n\r\f]*(?:"[^"]*"|'[^']*'))?  #   quoted or no value
        )*)
        [ \t\n\r\f]*(/?)>                                   # 4 "/" of "/>"
      | /\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>                 # 5 end-tag name
      | !--.*?--\s*>                                        # comment
    )""",
    re.VERBOSE | re.DOTALL,
)
_FAST_ATTR = re.compile(r"""([^\s=]+)(?:\s*=\s*("[^"]*"|'[^']*'))?""")

# End of <script>/<style> raw text (html.parser's CDATA content mode).
_RAWTEXT_END = {t: re.compile(r"</\s*%s\s*>" % t, re.I) for t in ("script", "style")}

# html.parser (CPython 3.11.7) regexes for the constructs _TOKEN leaves out.
_STARTTAG_OPEN = re.compile("<[a-zA-Z]")
_TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND = re.compile(
    r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_LOCATE_STARTTAG_END = re.compile(
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
    re.VERBOSE,
)
_COMMENT_CLOSE = re.compile(r"--\s*>")
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_SECTION_CLOSE = {
    **dict.fromkeys(("temp", "cdata", "ignore", "include", "rcdata"), re.compile(r"]\s*]\s*>")),
    **dict.fromkeys(("if", "else", "endif"), re.compile(r"]\s*>")),
}

_START, _START_END, _END, _DATA = range(4)
_NO_TOKEN = (None, None, None)


def _parse_attrs(raw: str) -> dict[str, str | None]:
    """Attributes of a ``_TOKEN`` start tag, as html.parser reports them
    (names lowercased, values unescaped, last duplicate wins)."""
    attrs = {}
    for name, quoted in _FAST_ATTR.findall(raw):  # quoted: "" when valueless
        attrs[name.lower()] = unescape(quoted[1:-1]) if quoted else None
    return attrs


def _has_class(attrs: str | dict[str, str | None], cls: str) -> bool:
    """``cls`` is one of the tag's classes. ``attrs`` is a parsed dict or
    a ``_TOKEN`` tag's raw attribute text, which is parsed only when the
    class could be in it (an entity could spell it)."""
    if type(attrs) is str:
        if cls not in attrs and "&" not in attrs:
            return False
        attrs = _parse_attrs(attrs)
    return cls in (attrs.get("class") or "").split()


def _text(fragments: list[str]) -> str:
    """get_text(strip=True) parity: strip each fragment, then join."""
    return "".join(s.strip() for s in fragments)


def extract_cards(html: str | None) -> list[dict[str, str | None]]:
    """All listing cards in ``html``, in document order.

    The card state machine runs inline in the tokenizer loop. An explicit
    open-tag stack (not a bare depth counter) lets cards contain
    arbitrarily nested markup, survives the unclosed/misnested tags
    endemic in scraped HTML (implicit ``</p>``, stray end tags), and lets
    several concatenated ``<html>`` documents (the reference joins page
    bodies with ``"\\n"`` — download_lambda.py:40) be fed as one string.
    A card and the text field being read inside it (if any) are complete
    when the stack is popped below the depth at which they opened.
    """
    if not html:
        return []
    cards: list[dict[str, str | None]] = []
    stack: list[str] = []
    card: dict[str, str | None] | None = None
    card_depth = 0
    field: str | None = None  # the card's text field being read
    field_depth = 0
    buf: list[str] = []  # its data fragments so far
    n = len(html)
    i = 0
    while i < n:
        m = _TOKEN.match(html, i)
        if m is not None:
            i = m.end()
            text, tag, attrs, slash, end_tag = m.groups()
            if text and field is not None:
                buf.append(unescape(text))
            if tag is not None:
                kind, tag = (_START_END if slash else _START), tag.lower()
            elif end_tag is not None:
                kind, tag = _END, end_tag.lower()
            else:
                continue  # comment
        else:
            j = html.find("<", i)
            if j < 0:
                j = n
            if i < j and field is not None:
                buf.append(unescape(html[i:j]))
            if j == n:
                break
            i, (kind, tag, attrs) = _other_token(html, j)
            if kind == _DATA:
                if field is not None:
                    buf.append(tag)
                continue
            if kind is None:
                continue
        if tag in _VOID:
            continue
        if tag in _RAWTEXT_END:
            # <script>/<style> never stay open: their raw text runs to their
            # end tag, and html.parser drops it all if there is none.
            if kind == _START:
                m = _RAWTEXT_END[tag].search(html, i)
                if m is None:
                    break
                if i < m.start() and field is not None:
                    buf.append(html[i : m.start()])  # raw: no unescape
                i = m.end()
            continue
        if kind != _END:
            if tag in _CLOSES_P and stack and stack[-1] == "p":
                stack.pop()  # implicit </p>; a <p> is never a card or field element
            stack.append(tag)
            if card is None:
                if tag == "div" and _has_class(attrs, "listing-card__content"):
                    card, card_depth = dict.fromkeys(FIELDS), len(stack)
            # Inside a card: first match wins, like the reference's .find().
            elif field is None:
                if tag == "span" and card["valor"] is None and _has_class(attrs, "price__actual"):
                    field, field_depth, buf = "valor", len(stack), []
                elif (
                    tag == "div"
                    and card["barrio"] is None
                    and _has_class(attrs, "listing-card__location__geo")
                ):
                    field, field_depth, buf = "barrio", len(stack), []
                elif tag == "p":
                    a = _parse_attrs(attrs) if type(attrs) is str else attrs
                    name = _DATA_TEST_FIELD.get(a.get("data-test") or "")
                    # p present but no content attr → stays None ("N/A" at the
                    # sink), matching .get("content", "N/A") in the reference.
                    if name and card[name] is None and "content" in a:
                        card[name] = a["content"]
            if kind == _START:
                continue
        # An end tag (or the end half of "<tag/>") closes the innermost open
        # element of that name; a stray one is ignored.
        d = len(stack) - 1
        while d >= 0 and stack[d] != tag:
            d -= 1
        if d < 0:
            continue
        if field is not None and field_depth > d:
            card[field] = _text(buf)
            field = None
        if card is not None and card_depth > d:
            cards.append(card)
            card = None
        del stack[d:]
    # Unclosed trailing elements.
    if field is not None:
        card[field] = _text(buf)
    if card is not None:
        cards.append(card)
    return cards


def _other_token(html: str, i: int) -> tuple[int, tuple]:
    """html.parser's branches (``goahead`` at EOF) for a ``<`` at ``i``
    that ``_TOKEN`` does not take: the end of the construct and its
    token ``(kind, name or data text, attrs)``."""
    if _STARTTAG_OPEN.match(html, i):
        k, token = _parse_starttag(html, i)
    elif html.startswith("</", i):
        k, token = _parse_endtag(html, i)
    elif html.startswith("<!--", i):
        m = _COMMENT_CLOSE.search(html, i + 4)
        k, token = (m.end() if m else -1), _NO_TOKEN
    elif html.startswith("<![", i):
        k, token = _parse_marked_section(html, i), _NO_TOKEN
    elif html.startswith("<!", i) or html.startswith("<?", i):
        # <!DOCTYPE …>, any other declaration (a bogus comment) and a
        # processing instruction all run to the next ">".
        k, token = _bogus_comment_end(html, i), _NO_TOKEN
    else:
        return i + 1, (_DATA, "<", None)
    if k >= 0:
        return k, token
    # Unterminated: the text up to the next ">" (else up to the next
    # "<", else the "<" alone) is data.
    k = html.find(">", i + 1)
    if k < 0:
        k = html.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    return k, (_DATA, unescape(html[i:k]), None)


def _bogus_comment_end(html: str, i: int) -> int:
    gt = html.find(">", i + 2)
    return gt + 1 if gt >= 0 else -1


def _parse_marked_section(html: str, i: int) -> int:
    m = _DECLNAME.match(html, i + 3)
    close = _MARKED_SECTION_CLOSE.get(m.group().strip().lower()) if m else None
    if close is None:
        # html.parser raises AssertionError here; HTML5 reads a bogus comment.
        return _bogus_comment_end(html, i)
    m = close.search(html, i + 3)
    return m.end() if m else -1


def _parse_endtag(html: str, i: int) -> tuple[int, tuple]:
    """An end tag that ``_TOKEN`` (html.parser's ``endtagfind``) did not
    take. Every html.parser branch for it ends at the first ``>``."""
    gt = html.find(">", i + 1)
    if gt < 0:
        return -1, _NO_TOKEN
    m = _TAGFIND.match(html, i + 2)
    return gt + 1, ((_END, m.group(1).lower(), None) if m else _NO_TOKEN)


def _parse_starttag(html: str, i: int) -> tuple[int, tuple]:
    endpos = _starttag_end(html, i)
    if endpos < 0:
        return endpos, _NO_TOKEN
    m = _TAGFIND.match(html, i + 1)
    k = m.end()
    tag = m.group(1).lower()
    attrs = {}
    while k < endpos:
        m = _ATTRFIND.match(html, k)
        if not m:
            break
        name, rest, value = m.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        if value:
            value = unescape(value)
        attrs[name.lower()] = value
        k = m.end()
    end = html[k:endpos].strip()
    if end not in (">", "/>"):
        return endpos, (_DATA, html[i:endpos], None)  # raw: no unescape
    return endpos, ((_START_END if end == "/>" else _START), tag, attrs)


def _starttag_end(html: str, i: int) -> int:
    """End of the start tag at ``i``, or -1 if it is unterminated."""
    j = _LOCATE_STARTTAG_END.match(html, i).end()
    nxt = html[j : j + 1]
    if nxt == ">":
        return j + 1
    if nxt == "/":
        return j + 2 if html.startswith("/>", j) else -1
    if nxt == "" or nxt in "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ":
        return -1
    return j if j > i else i + 1
