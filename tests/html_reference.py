"""Reference listing-card extractor: the stdlib ``HTMLParser`` subclass
that ``pipeline.html_extract`` replaced, kept unchanged as the arbiter
for the differential tests.

``pipeline.html_extract.extract_cards`` must return exactly what
:func:`extract_cards` here returns on every input this one accepts.
Inputs on which this one raises (malformed ``<![`` marked sections, an
``AssertionError`` inside ``_markupbase``) are the one named divergence.

The tokenizer pins CPython 3.11.7's ``html.parser`` grammar, while this
extractor runs on whatever ``html.parser`` the interpreter ships; later
releases changed its end-of-file handling. :data:`SAME_GRAMMAR` says
whether the running one is still the pinned grammar, i.e. whether this
module can arbitrate here.
"""

from __future__ import annotations

from html.parser import HTMLParser

from parcialbigdata_spark.pipeline.html_extract import _CLOSES_P, _DATA_TEST_FIELD, _VOID, FIELDS


def _has_class(attrs: dict[str, str | None], cls: str) -> bool:
    return cls in (attrs.get("class") or "").split()


class _CardExtractor(HTMLParser):
    """Streaming extractor: accumulates one dict per listing card.

    An explicit open-tag stack (not a bare depth counter) lets cards
    contain arbitrarily nested markup, survives the unclosed/misnested
    tags endemic in scraped HTML (implicit ``<p>`` close, stray end
    tags), and lets several concatenated ``<html>`` documents (the
    reference joins page bodies with ``"\\n"`` — download_lambda.py:40)
    be fed as one string.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.cards: list[dict[str, str | None]] = []
        self._stack: list[str] = []
        self._card: dict[str, str | None] | None = None
        self._card_depth = -1
        self._text_field: str | None = None
        self._text_depth = -1
        self._buf: list[str] = []

    def _close_to_depth(self, depth: int) -> None:
        """Pop the stack to ``depth``, firing card/text completion."""
        while len(self._stack) > depth:
            if self._text_field is not None and len(self._stack) == self._text_depth:
                # get_text(strip=True) parity: strip fragments, drop empties.
                self._card[self._text_field] = "".join(s.strip() for s in self._buf)
                self._text_field = None
            if self._card is not None and len(self._stack) == self._card_depth:
                self.cards.append(self._card)
                self._card = None
            self._stack.pop()

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in _VOID:
            return
        if self._stack and self._stack[-1] == "p" and tag in _CLOSES_P:
            self._close_to_depth(len(self._stack) - 1)  # implicit </p>
        a = dict(attrs)
        self._stack.append(tag)
        if self._card is None:
            if tag == "div" and _has_class(a, "listing-card__content"):
                self._card = dict.fromkeys(FIELDS)
                self._card_depth = len(self._stack)
            return
        # Inside a card: first match wins, like the reference's .find().
        if self._text_field is None:
            if tag == "span" and _has_class(a, "price__actual") and self._card["valor"] is None:
                self._text_field, self._text_depth, self._buf = "valor", len(self._stack), []
            elif (
                tag == "div"
                and _has_class(a, "listing-card__location__geo")
                and self._card["barrio"] is None
            ):
                self._text_field, self._text_depth, self._buf = "barrio", len(self._stack), []
            elif tag == "p":
                field = _DATA_TEST_FIELD.get(a.get("data-test") or "")
                # p present but no content attr → stays None ("N/A" at the
                # sink), matching .get("content", "N/A") in the reference.
                if field and self._card[field] is None and "content" in a:
                    self._card[field] = a["content"]

    def handle_data(self, data: str) -> None:
        if self._text_field is not None:
            self._buf.append(data)

    def handle_endtag(self, tag: str) -> None:
        if tag in _VOID:
            return
        # Close the innermost matching open tag; ignore stray end tags.
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i] == tag:
                self._close_to_depth(i)
                break

    def finish(self) -> list[dict[str, str | None]]:
        self.close()
        self._close_to_depth(0)  # unclosed trailing elements
        return self.cards


def extract_cards(html: str | None) -> list[dict[str, str | None]]:
    """All listing cards in ``html``, in document order."""
    if not html:
        return []
    p = _CardExtractor()
    p.feed(html)
    return p.finish()


# A start tag cut off by the end of input: the pinned grammar emits it
# as text, the later end-of-file rules drop it.
SAME_GRAMMAR = (
    extract_cards('<div class="listing-card__content"><span class="price__actual">x<b')[0]["valor"] == "x<b"
)
