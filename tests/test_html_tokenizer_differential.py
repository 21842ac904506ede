"""Differential test: the production tokenizer, the stdlib html.parser
tokenizer and the event-sink regex tokenizer it replaced
(tests/html_oracles.py) produce identical block scoring on the engine's
payload distribution (generator corpus) and on adversarial hand-written
markup."""

from __future__ import annotations

import numpy as np
import pytest

from html_oracles import html_strip_one_sink, html_strip_one_stdlib

from document_extraction_spark.core.html_strip import html_strip_one
from document_extraction_spark.sources.transcripts import _html_payload

ADVERSARIAL = [
    "<div><p>unclosed paragraph drifting",
    "<p></p><div> </div>",
    "<P>UPPERCASE TAGS keep working fine here</P>",
    '<a href="/x?a=1&amp;b=2">entity &amp; link</a><p>body text with &lt;escapes&gt; inside it</p>',
    "<div class='q\"uote'><p>single-quoted attr with a double quote and enough text</p></div>",
    '<img src="x.png" alt="a > b"/><p>attr containing a gt sign plus plenty of padding text</p>',
    "<script>var x = '<p>not a block</p>';</script><p>visible content after the script tag</p>",
    "<!-- <p>commented out</p> --><p>real paragraph following an html comment here</p>",
    "<br><hr><p>void elements before a normal paragraph with sufficient length</p>",
    "<div/>self-closed div then<p>a normal paragraph with plenty of characters</p>",
    "<ul><li>item one is reasonably long</li><li>item two is also long enough</li></ul>",
    "text before any tag at all <p>then a paragraph with enough text to keep</p>",
    "<style>p{color:red}</style><p>styling stripped but this body text remains</p>",
    # inline rawtext inside a block must not split the block
    "<p>hello before the script <script>var x=1;</script> and world after it</p>",
    # unterminated rawtext swallows to end of payload in both tokenizers
    "<p>kept paragraph before an unterminated script tag</p><script>gone",
    # stray close tag without an opener is invisible in both
    "<p>text before a stray close</p></script><p>text after the stray close tag</p>",
]
# misnested and self-closed markup: end tags pop to their match, <div/>
# opens and closes at once
MISNESTED = ["<p>a <b>b</p> c</b>", "<nav>x<a>y</nav> z</a>", "<div/>"]


@pytest.mark.parametrize("payload", ADVERSARIAL + MISNESTED)
def test_adversarial_markup_agrees(payload):
    assert html_strip_one(payload) == html_strip_one_stdlib(payload)


@pytest.mark.parametrize("payload", ADVERSARIAL + MISNESTED)
def test_state_machine_equals_sink_tokenizer(payload):
    assert html_strip_one(payload) == html_strip_one_sink(payload)


def test_state_machine_equals_sink_tokenizer_on_corpus():
    rng = np.random.default_rng(321)
    for _ in range(1000):
        payload = _html_payload(rng)
        assert html_strip_one(payload) == html_strip_one_sink(payload)


def test_generator_corpus_agrees():
    rng = np.random.default_rng(123)
    for _ in range(300):
        payload = _html_payload(rng)
        assert html_strip_one(payload) == html_strip_one_stdlib(payload)
