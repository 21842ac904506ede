"""Equality oracles for ``core.html_strip.html_strip_one``: two tokenizers
that drive one event sink (``start`` / ``end`` / ``data``), so their block
scoring is identical by construction.

* :func:`html_strip_one_stdlib` tokenizes with ``html.parser``.
* :func:`html_strip_one_sink` is the regex tokenizer that production ran
  before its state machine was folded into one function.

tests/test_html_tokenizer_differential.py pins the production tokenizer
equal to both."""

from __future__ import annotations

from html import unescape
from html.parser import HTMLParser

from document_extraction_spark.core.html_strip import (
    _BLOCKISH,
    _RE_COMMENT,
    _RE_RAWTEXT,
    _RE_RAWTEXT_OPEN,
    _RE_TOKEN,
    BOILERPLATE_TAGS,
    HEADING_TAGS,
    MAX_LINK_DENSITY,
    MIN_BLOCK_CHARS,
    VOID_TAGS,
)

_RAWTEXT_NAMES = ("script", "style")


class _BlockSink:
    """Block-building state machine driven by three tokenizer events.
    Boilerplate ancestry and anchor nesting are depth counters kept at
    push/pop time."""

    def __init__(self) -> None:
        self.stack: list[str] = []
        self.blocks: list[dict] = []
        self._cur: dict | None = None
        self._boiler_depth = 0
        self._anchor_depth = 0

    def flush(self) -> None:
        if self._cur is not None:
            self.blocks.append(self._cur)
            self._cur = None

    def _open_block(self, tag: str) -> None:
        if self._cur is not None:
            self.blocks.append(self._cur)
        self._cur = {
            "tag": tag,
            "parts": [],
            "anchor_chars": 0,
            "boiler": self._boiler_depth > 0,
        }

    def start(self, tag: str) -> None:
        if tag in VOID_TAGS:
            if self._cur is not None and (tag == "br" or tag == "hr"):
                self._cur["parts"].append("\n")
            return
        self.stack.append(tag)
        if tag in BOILERPLATE_TAGS:
            self._boiler_depth += 1
        elif tag == "a":
            self._anchor_depth += 1
        if tag in _BLOCKISH:
            self._open_block(tag)

    def end(self, tag: str) -> None:
        # pop to the matching open tag (tolerates misnesting deterministically)
        stack = self.stack
        if tag in stack:
            while stack:
                top = stack.pop()
                if top in BOILERPLATE_TAGS:
                    self._boiler_depth -= 1
                elif top == "a":
                    self._anchor_depth -= 1
                if top == tag:
                    break
        if tag in _BLOCKISH:
            self.flush()

    def data(self, data: str) -> None:
        stripped = data.strip()
        if not stripped:
            return
        if self._cur is None:
            self._open_block("_text")
        self._cur["parts"].append(data)
        if self._anchor_depth > 0:
            self._cur["anchor_chars"] += len(stripped)


class _BlockParser(HTMLParser):
    """html.parser driving the sink. script/style elements are fully
    invisible (tag AND content), matching the regex tokenizers' wholesale
    elision: an inline ``<p>a <script>..</script> b</p>`` must not split
    the block."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.sink = _BlockSink()
        self._suppress = 0

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        tag = tag.lower()
        if tag in _RAWTEXT_NAMES:
            self._suppress += 1
            return
        self.sink.start(tag)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in _RAWTEXT_NAMES:
            self._suppress = max(self._suppress - 1, 0)
            return
        self.sink.end(tag)

    def handle_data(self, data: str) -> None:
        if self._suppress:
            return
        self.sink.data(data)


def _tokenize_sink(payload: str, sink: _BlockSink) -> None:
    payload = _RE_RAWTEXT_OPEN.sub("", _RE_COMMENT.sub("", _RE_RAWTEXT.sub("", payload)))
    for m in _RE_TOKEN.finditer(payload):
        close, name, attrs, text = m.group(1, 2, 3, 4)
        if text is not None:
            if "&" in text:
                text = unescape(text)
            sink.data(text)
            continue
        name = name.lower()
        if name in _RAWTEXT_NAMES:
            continue  # stray </script> etc. — invisible, like the stdlib path
        if close:
            sink.end(name)
        else:
            sink.start(name)
            if name not in VOID_TAGS and attrs.rstrip().endswith("/"):
                sink.end(name)  # self-closing <tag/>


def _score_blocks(blocks: list[dict]) -> tuple[list[str], int, int]:
    kept: list[str] = []
    n_kept = 0
    n_dropped = 0
    for blk in blocks:
        text = " ".join(" ".join(blk["parts"]).split())
        if not text:
            continue
        chars = len(text)
        link_density = blk["anchor_chars"] / chars if chars else 0.0
        drop = (
            blk["boiler"]
            or blk["tag"] in BOILERPLATE_TAGS
            or link_density > MAX_LINK_DENSITY
            or (chars < MIN_BLOCK_CHARS and blk["tag"] not in HEADING_TAGS)
        )
        if drop:
            n_dropped += 1
        else:
            n_kept += 1
            kept.append(text)
    return kept, n_kept, n_dropped


def html_strip_one_sink(payload: str) -> tuple[list[str], int, int, bool]:
    """The regex tokenizer driving the event sink."""
    sink = _BlockSink()
    try:
        _tokenize_sink(payload, sink)
    except Exception:
        return [], 0, 0, True
    sink.flush()
    kept, n_kept, n_dropped = _score_blocks(sink.blocks)
    return kept, n_kept, n_dropped, False


def html_strip_one_stdlib(payload: str) -> tuple[list[str], int, int, bool]:
    """html.parser's tokenizer driving the event sink."""
    parser = _BlockParser()
    try:
        parser.feed(payload)
        parser.close()
    except Exception:
        return [], 0, 0, True
    parser.sink.flush()
    kept, n_kept, n_dropped = _score_blocks(parser.sink.blocks)
    return kept, n_kept, n_dropped, False
