"""The fused kernel's per-document body (operators/mention.py:
_make_doc_relations, behind make_triple_partial_processor) must equal the
reference composition on every document: the Unicode ``_scan_doc``, then
``link_doc_mentions``, then ``select_relations``.  The kernel picks ASCII
word boundaries per document and selects each relation by position; the
reference does neither.
Pure Python, no Spark session needed."""

import re
from collections import Counter

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from seq2rel_ds_spark.core.link import (
    build_dictionary,
    link_doc_mentions,
    select_relations,
)
from seq2rel_ds_spark.operators.extract import extract_text_from_html
from seq2rel_ds_spark.operators.mention import (
    _cue_regex,
    _dictionary_regex,
    _make_doc_relations,
    _scan_doc,
    make_triple_partial_processor,
)

DICT_ROWS = [
    ("vexanib0", "DRUG0", "DRUG", True),
    ("vexa-0", "DRUG0", "DRUG", False),
    ("vexal", "DRUG1", "DRUG", True),
    ("vexal", "GENE9", "GENE", True),  # ambiguous surface
    ("cardiosis", "DIS1", "DISEASE", True),
    ("cardio syndrome 1", "DIS1", "DISEASE", False),  # multi-token
    ("causes syndrome", "DIS2", "DISEASE", True),  # cue word inside a surface
    ("AT&T", "ORG1", "ORG", True),  # written as AT&amp;T in the html
    ("élixir", "DRUG2", "DRUG", True),  # non-ASCII surface
]
# the empty surface matches zero-width at every word boundary
EMPTY_ROW = ("", "NIL", "NONE", True)
PREDICATES = {"causes": "CAUSES", "treats": "TREATS"}

TOKENS = [r[0] for r in DICT_ROWS if r[0] != "AT&T"] + [
    "causes",
    "treats",
    "the",
    "of",
    "é",
    "écauses",
    "vexanib0é",
    "&amp;",
    "AT&amp;T",
    "<b>",
    "</b>",
    ".",  # a sentence boundary inside a paragraph
    "e.g.",
    "vexal.cardiosis",
]


def _reference(text, dict_rows, flags=0):
    dictionary = build_dictionary(dict_rows)
    pat = re.compile(_dictionary_regex(list(dictionary)), flags)
    cue_pat = re.compile(_cue_regex(PREDICATES), flags)
    mentions, cues = _scan_doc(text, pat, cue_pat)
    linked = link_doc_mentions([(si, s, e, tok) for si, _ss, s, e, tok in mentions], dictionary)
    return select_relations(linked, [(si, s, PREDICATES[w]) for si, _ss, s, _e, w in cues])


def _check(htmls, dict_rows):
    """Kernel == Unicode reference per doc, and the processor's partial
    counts equal the reference's triple counts."""
    relations = _make_doc_relations(dict_rows, PREDICATES)
    want = []
    for html in htmls:
        text = extract_text_from_html(html)
        ref = _reference(text, dict_rows)
        assert relations(text) == ref, text
        want.extend(ref)
    pdf = pd.DataFrame({"url": [f"u{i}" for i in range(len(htmls))], "html": htmls})
    partials = next(make_triple_partial_processor(dict_rows, PREDICATES)(pdf))
    got = {(r.subj_uid, r.pred, r.obj_uid): r.cnt for r in partials.itertuples()}
    assert got == Counter((s, p, o) for _si, s, p, o in want)
    return want


def _html(sentences):
    return ("<html><body>" + "".join(f"<p>{s}</p>" for s in sentences) + "</body></html>").encode()


sentence = st.tuples(
    st.lists(st.sampled_from(TOKENS), min_size=1, max_size=8),
    st.lists(st.sampled_from([" ", " ", "", ", "]), min_size=8, max_size=8),
).map(lambda ts: "".join(t + sep for t, sep in zip(*ts)).rstrip(" ,") + ".")
doc = st.lists(sentence, min_size=1, max_size=5).map(_html)
# raw text, not extracted: whitespace runs other than one space
raw_text = st.tuples(
    st.lists(sentence, min_size=1, max_size=5),
    st.sampled_from([" ", "  ", "\n", " \t"]),
).map(lambda ss: ss[1].join(ss[0]))


def test_property_kernel_equals_reference():
    seen = Counter()

    @settings(max_examples=400, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=6), raw_text, st.booleans())
    def check(htmls, text, with_empty_surface):
        dict_rows = DICT_ROWS + [EMPTY_ROW] if with_empty_surface else DICT_ROWS
        assert _make_doc_relations(dict_rows, PREDICATES)(text) == _reference(text, dict_rows)
        rels = _check(htmls, dict_rows)
        seen["relations"] += len(rels)
        for html in htmls:
            text = extract_text_from_html(html)
            seen["ascii" if text.isascii() else "non_ascii"] += 1
            seen["entity" if b"&amp;" in html else "plain"] += 1
            seen["ambiguous" if re.search(r"\bvexal\b", text) else "unambiguous"] += 1
            seen["cue_free" if not re.search(r"\b(causes|treats)\b", text) else "cued"] += 1

    check()
    # every branch the kernel has was reached by the generator
    assert all(
        seen[k] > 0
        for k in (
            "relations",
            "ascii",
            "non_ascii",
            "entity",
            "plain",
            "ambiguous",
            "unambiguous",
            "cue_free",
            "cued",
        )
    ), seen


def test_named_cases_equal_reference():
    cases = [
        # two cues in one sentence; mentions at both sentence edges
        ["vexanib0 causes cardiosis treats vexa-0.", "cardiosis of vexal."],
        # ambiguous surface: label coherence (DRUG wins by 2 mentions to 1)
        ["vexal treats cardiosis.", "vexanib0 and vexa-0."],
        # cue word inside a surface: the spanning mention is neither side
        ["vexanib0 causes syndrome cardiosis.", "vexanib0 causes causes syndrome."],
        # entity reference and a tag inside a sentence
        ["AT&amp;T <b>causes</b> cardiosis.", "vexa-0 &amp; treats élixir."],
        # cue-free doc
        ["vexanib0 and cardiosis."],
        # subject and object in other sentences: no relation
        ["vexanib0. causes. cardiosis."],
    ]
    rels = _check([_html(c) for c in cases], DICT_ROWS)
    assert (0, "DRUG0", "CAUSES", "DIS1") in rels
    assert (0, "DRUG1", "TREATS", "DIS1") in rels
    assert (0, "ORG1", "CAUSES", "DIS1") in rels
    _check([_html(c) for c in cases], DICT_ROWS + [EMPTY_ROW])


def test_empty_dictionary_yields_no_relations():
    """An empty dictionary compiles to a pattern that matches the empty
    string at every word boundary; no such match has a uid, so no doc gets
    a relation, cues or not."""
    docs = [["vexanib0 causes cardiosis treats vexa-0."], ["é causes écauses."], ["x."]]
    assert _check([_html(c) for c in docs], []) == []


def test_non_ascii_doc_takes_unicode_boundaries():
    """'é' is a word char to a Unicode \\b only.  In 'vexanib0é' and
    'écauses' an ASCII \\b would match the surface or the cue; the doc is
    not ASCII, so the kernel must give the Unicode result — no relation —
    while the ASCII twin gives the relation."""
    relations = _make_doc_relations(DICT_ROWS, PREDICATES)
    for text in ("vexanib0é causes cardiosis.", "vexanib0 écauses cardiosis."):
        assert _reference(text, DICT_ROWS, re.ASCII) == [(0, "DRUG0", "CAUSES", "DIS1")]
        assert relations(text) == _reference(text, DICT_ROWS) == [], text
    assert relations("vexanib0 causes cardiosis.") == [(0, "DRUG0", "CAUSES", "DIS1")]
    assert relations("vexanib0 causes cardiosis é.") == [(0, "DRUG0", "CAUSES", "DIS1")]
