"""Equivalence of the cue scanner used inside the flagship's fused
processors with the Unicode \\b-regex scanner, on every text: for ASCII
word cues the scanner takes the find() loop on ASCII documents only; any
other cue set takes the Unicode regex on every document."""

import re

from seq2rel_ds_spark.operators.mention import (
    _compile_cue_pattern,
    _cue_regex,
    _make_cue_scanner,
)


def _regex_scan(preds, text, flags=0):
    pat = re.compile(_cue_regex(preds), flags) if flags else _compile_cue_pattern(preds)
    return [(c.start(), c.group(0)) for c in pat.finditer(text)]


TEXTS = [
    "",
    "treats",
    "x treats y causes z.",
    "pretreats treats treatsx treats.",          # \b edges
    "treat treats treated treats",               # prefix-overlap words
    "causes causes causes",                      # repeats
    "a.treats,causes;treats?end",                # punctuation boundaries
    "TREATS treats Treats",                      # case sensitivity
    "word_treats treats_word treats",            # underscore is a word char
    "9treats treats9 treats",                    # digits are word chars
]


def test_fast_path_matches_regex():
    preds = {"treats": "TREATS", "causes": "CAUSES", "treat": "TREAT"}
    scan = _make_cue_scanner(preds)
    assert scan.ascii_path.__name__ == "scan_find"
    for t in TEXTS:
        assert scan(t) == _regex_scan(preds, t) == _regex_scan(preds, t, re.ASCII), t


def test_non_word_cues_fall_back_to_regex():
    preds = {"linked to": "LINKED", "co-occurs": "COOCCURS"}
    scan = _make_cue_scanner(preds)
    assert scan.ascii_path.__name__ == "scan_regex"
    for t in ("a linked to b, co-occurs with c; linked tox.", "élinked to b co-occursé"):
        assert scan(t) == _regex_scan(preds, t), t


def test_unicode_boundaries_fall_back():
    """'é' is a word char to a Unicode \\b but not to an ASCII one: an ASCII
    scan would find 'causes' in 'écauses' and 'causesé'; the Unicode scan,
    which the scanner must equal, does not."""
    preds = {"causes": "CAUSES", "treats": "TREATS"}
    scan = _make_cue_scanner(preds)
    for t in ("écauses x", "x causesé", "é treats écauses"):
        assert _regex_scan(preds, t, re.ASCII) != _regex_scan(preds, t), t
        assert scan(t) == _regex_scan(preds, t), t
    assert scan("é treats écauses") == [(2, "treats")]
    # the ASCII twin keeps the cue
    assert scan("e treats causes") == [(2, "treats"), (9, "causes")]
