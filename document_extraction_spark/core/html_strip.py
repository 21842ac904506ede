"""HTML boilerplate stripping (operator O20 in SURVEY.md §2.2).

Arc90/Readability-style main-content extraction: segment the document into
blocks at block-level tags, then score each block with shallow text features
(text length, link density, boilerplate ancestry) and keep only main-content
blocks. Published basis: Arc90 Readability heuristics; Kohlschütter et al.,
"Boilerplate Detection Using Shallow Text Features" (WSDM 2010). This is the
deterministic replacement for the reference's VLM extraction call
(/root/reference/src/pdf_extractor/client.py:37-38).

Deterministic scoring rules (documented so the oracle is pinned):

* a block whose open-tag ancestry includes a BOILERPLATE tag is dropped;
* a block with no text is ignored (counted neither kept nor dropped);
* link density  = anchor-text chars / total chars; ``> 0.33`` -> dropped;
* text shorter than ``MIN_BLOCK_CHARS`` is dropped unless it is a heading.

The one production tokenizer is a single regex pass over the payload that
runs the block state machine in local variables — no DOM build, O(payload
bytes); inside ``mapInPandas`` this runs batched over Arrow record batches.
Its equality oracles, a stdlib ``html.parser`` tokenizer and the event-sink
tokenizer it replaced, live in ``tests/html_oracles.py``.
"""

from __future__ import annotations

import re
from html import unescape

BOILERPLATE_TAGS = frozenset(
    {"nav", "footer", "header", "aside", "script", "style", "form", "noscript",
     "button", "iframe", "select", "option"}
)
BLOCK_TAGS = frozenset(
    {"p", "div", "section", "article", "main", "li", "ul", "ol", "table", "tr",
     "td", "th", "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6",
     "body", "html"}
)
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6", "title"})
VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "area", "base", "col",
     "embed", "source", "track", "wbr"}
)
MAX_LINK_DENSITY = 0.33
MIN_BLOCK_CHARS = 15


_BLOCKISH = BLOCK_TAGS | BOILERPLATE_TAGS
# end and start tags that never touch the block state: void elements, and a
# stray script/style tag left by the rawtext strip below
_INERT = VOID_TAGS | {"script", "style"}

# raw-text elements removed wholesale, comments likewise. An unterminated
# rawtext element swallows to end-of-payload, like html.parser, which emits
# none of its content as data.
_RE_RAWTEXT = re.compile(r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>")
_RE_RAWTEXT_OPEN = re.compile(r"(?is)<(?:script|style)\b[^>]*>.*\Z")
_RE_COMMENT = re.compile(r"<!--.*?-->", re.S)
# one pass over the payload: a tag token or a text run. Attribute values may
# contain '>' inside quotes — the attr body alternation respects quoting.
_RE_TOKEN = re.compile(
    r"""<\s*(?P<close>/?)\s*(?P<name>[a-zA-Z][a-zA-Z0-9]*)"""
    r"""(?P<attrs>(?:"[^"]*"|'[^']*'|[^>"'])*)>"""
    r"""|(?P<text>[^<]+)""",
    re.S,
)


def _blocks(payload: str) -> list[list]:
    """Tokenize one payload into blocks ``[tag, text parts, anchor chars,
    inside boilerplate]``, in opening order.

    A block opens at a block-level or boilerplate start tag, or at text
    outside any open block (tag ``_text``), and ends at a block-level end
    tag. An end tag pops the open-tag stack down to its match, which
    tolerates misnesting deterministically. Boilerplate ancestry and anchor
    nesting are depth counters kept at push/pop time. A self-closing
    ``<tag/>`` pushes and pops at once, so all it leaves is a block-level
    tag's end. Void tags add nothing: ``<br>`` would only add whitespace,
    and scoring joins the parts on whitespace anyway."""
    payload = _RE_RAWTEXT_OPEN.sub("", _RE_COMMENT.sub("", _RE_RAWTEXT.sub("", payload)))
    blocks: list[list] = []
    stack: list[str] = []
    cur: list | None = None
    boiler = anchor = 0
    for close, name, attrs, text in _RE_TOKEN.findall(payload):
        if text:
            if "&" in text:
                text = unescape(text)
            text = text.strip()
            if not text:
                continue
            if cur is None:
                cur = ["_text", [], 0, boiler > 0]
                blocks.append(cur)
            cur[1].append(text)
            if anchor:
                cur[2] += len(text)
            continue
        name = name.lower()
        if name in _INERT:
            continue
        if close:
            if name in stack:
                while True:
                    top = stack.pop()
                    if top in BOILERPLATE_TAGS:
                        boiler -= 1
                    elif top == "a":
                        anchor -= 1
                    if top == name:
                        break
            if name in _BLOCKISH:
                cur = None
        elif attrs.rstrip().endswith("/"):
            if name in _BLOCKISH:
                cur = None
        else:
            stack.append(name)
            if name in BOILERPLATE_TAGS:
                boiler += 1
            elif name == "a":
                anchor += 1
            if name in _BLOCKISH:
                cur = [name, [], 0, boiler > 0]
                blocks.append(cur)
    return blocks


def html_strip_one(payload: str) -> tuple[list[str], int, int, bool]:
    """Strip boilerplate from one HTML payload.

    Returns ``(kept_block_texts, n_kept, n_dropped, parse_failed)``.
    The drop test needs no check of a block's own tag: a boilerplate tag
    raises the boilerplate depth before it opens its block.
    """
    try:
        blocks = _blocks(payload)
    except Exception:
        return [], 0, 0, True
    kept: list[str] = []
    n_dropped = 0
    for tag, parts, anchor_chars, boiler in blocks:
        text = " ".join(" ".join(parts).split())
        if not text:
            continue
        chars = len(text)
        if (boiler or anchor_chars / chars > MAX_LINK_DENSITY
                or (chars < MIN_BLOCK_CHARS and tag not in HEADING_TAGS)):
            n_dropped += 1
        else:
            kept.append(text)
    return kept, len(kept), n_dropped, False
