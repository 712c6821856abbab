"""Byte-identity between the extractor's fast (ASCII split/join) and
general (regex collapse) paths — the per-row invariant of the input_hint
must hold regardless of which path a document takes.
"""

from html import unescape

from seq2rel_ds_spark.operators.extract import (
    _TAG_SPLIT,
    _WS,
    extract_text_from_html,
)


def _general(html: bytes) -> str:
    """The general path, inlined as the reference implementation."""
    text = unescape(_TAG_SPLIT.sub(b" ", html).decode("utf-8", errors="replace"))
    return _WS.sub(" ", text).strip()


ADVERSARIAL = [
    b"",
    b"plain text no tags",
    b"  <p> s </p>  ",
    b"<p>tab\there</p>\n<p>two  spaces</p>",
    b"<p>a &amp; b</p>",          # entity -> general path
    b"<p>x &nbsp; y</p>",         # entity decoding to unicode whitespace
    b"&#10;line&#10;",            # entity decoding to ascii whitespace
    b"<p>&unknown; stays</p>",    # non-entity ampersand
    b"<p>A\x1cB</p>",             # \x1c-\x1f: str \s matches, bytes.split not
    b"\x1d\x1e\x1f",
    "<p>café   test</p>".encode(),  # non-ascii -> general path
    "a b".encode(),          # raw NBSP bytes
    b"<html><head><title>T</title></head><body><p>s.</p></body></html>",
]


def test_fast_and_general_paths_byte_identical():
    for h in ADVERSARIAL:
        assert extract_text_from_html(h) == _general(h), h[:60]


def test_fast_path_taken_for_plain_ascii():
    """The synthesized-corpus shape must hit the fast path (this is the
    throughput case); entity/unicode/control inputs must not."""
    from seq2rel_ds_spark.operators.extract import _FAST_UNSAFE

    plain = b"<html><body><p>Aspirin treats headache.</p></body></html>"
    assert plain.isascii() and not _FAST_UNSAFE.search(plain)
    for h in (b"<p>a &amp; b</p>", "café".encode(), b"A\x1cB"):
        assert (not h.isascii()) or _FAST_UNSAFE.search(h)


def test_corpus_parity_sample():
    """Both paths agree on real synthesized pages (fast path eligible)."""
    from seq2rel_ds_spark.sources.pages import (
        _compose_doc,
        _render_html,
        knowledge_base,
    )

    entities, _ = knowledge_base()
    for i in range(200):
        title, sentences, _ = _compose_doc(i, entities)
        h = _render_html(title, sentences)
        assert extract_text_from_html(h) == _general(h)


def test_fast_path_byte_check_agrees_with_regex():
    """The hot path's translate-based check finds exactly the bytes
    ``_FAST_UNSAFE`` finds: on every single byte and on ADVERSARIAL."""
    from seq2rel_ds_spark.operators.extract import _FAST_UNSAFE, _has_fast_unsafe

    for h in [bytes([b]) for b in range(256)] + ADVERSARIAL:
        assert _has_fast_unsafe(h) == bool(_FAST_UNSAFE.search(h)), h[:60]
