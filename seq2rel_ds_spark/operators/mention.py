"""Sentence-windowed dictionary scanning (batched, vectorized).

One Arrow pass over the extracted text does ALL sentence-window work the
downstream stages need:
  * mention rows    — dictionary surface hits (longest-surface-first regex)
  * predicate cues  — relation cue-word hits (when a predicate dict is given)

Emitting both from the single scan matters at scale: the alternative
(re-joining sentences against full document text later) ships every document
body through a shuffle once per consumer.  Here text is read exactly once and
only small typed rows flow on.

Offsets are document-level character spans (sentence start + in-sentence
match span) so downstream ordering matches the parse path's semantics.

The fused flagship kernel (``make_triple_partial_processor``, behind
``fused_triple_partials`` and ``fused_triple_partials_arrow``) runs extract,
scan, link and relation selection per page and emits only per-task
(subj_uid, pred, obj_uid, cnt) partials.  It chooses its word-boundary mode
per document: an ASCII text is scanned with ``re.ASCII`` patterns and a
``str.find`` cue loop, any other text with the Unicode patterns.  On ASCII
text ``\\b`` matches the same positions in both modes, so the output is
that of the Unicode scan on every input.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from functools import cache
from typing import Dict, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SENT_SPLIT = re.compile(r"(?<=\.)\s+")
# Fast twin of _SENT_SPLIT for computing boundary END positions only: the
# literal '.' prefix lets the regex engine skip between dots (memchr)
# instead of probing the lookbehind at every position — measured 2.9x
# faster.  End-equivalence proof: both enumerate the maximal \s+ runs whose
# preceding char is '.'; finditer's non-overlap cannot lose a run because a
# '.' is never inside the previously consumed \s+ run, and m.end() is the
# run end in both.  (Match STARTS differ — use only .end().)
_SENT_BOUND_FAST = re.compile(r"\.\s+")

# ASCII \w exactly as re.ASCII's \b sees it — used by the find()-based cue
# scanner to replicate \b(word)\b token semantics in C-level substring scans
_ASCII_WORD = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
)


def _sent_bounds(text: str) -> list:
    """Sentence boundary end-offsets (see _SENT_BOUND_FAST equivalence)."""
    return [m.end() for m in _SENT_BOUND_FAST.finditer(text)]


SCAN_SCHEMA = (
    "url string, sent_idx int, sent_start int, start int, end int, "
    "kind string, token string"
)

MENTION_COLUMNS = ["url", "sent_idx", "sent_start", "start", "end", "surface"]


def _compile_dictionary(surfaces: List[str]) -> "re.Pattern":
    """Trie-compressed alternation over the surface dictionary (Unicode
    ``\\b``; see ``_dictionary_regex``)."""
    return re.compile(_dictionary_regex(surfaces))


def _dictionary_regex(surfaces: List[str]) -> str:
    """Source of the trie-compressed alternation over the surface dictionary.

    A flat longest-first alternation re-scans every alternative at every
    text position; sharing prefixes in a trie makes the match walk each
    position once (measured 5x faster on the bench dictionary — the scan
    regex is ~3/4 of the per-doc Python cost).  Match semantics are
    identical to the sorted(-len) alternation: within the trie,
    continuations are emitted BEFORE the terminal branch, so Python's
    leftmost-first backtracking yields the longest dictionary match at
    each position (prefix-comparable surfaces), and non-prefix surfaces
    can never match at the same position.  Equivalence is pinned by the
    fused-scan parity tests.

    Word-boundary mode is chosen per document, not per corpus: the fused
    kernel compiles this source with ``re.ASCII`` for ASCII documents
    (measured ~30% faster scanning; ``\\b`` matches the same positions on
    ASCII text in both modes) and without it, on first need, for any other
    document.

    Alternatives evaluated and rejected (same 20k-doc measurement):
    a pure-Python token-level phrase matcher (Aho-Corasick at word
    granularity) runs 0.31x the speed of this pattern — the C regex
    engine's per-position scan beats any Python-level token loop — and
    the third-party ``regex`` module adds no speed for this shape.
    """
    # The downstream scanner (_scan_doc) matches once over the FULL text and
    # assigns sentence ids by offset — correct only while no surface can
    # cross a sentence boundary.  Enforce that assumption here instead of
    # documenting it: a surface containing a sentence split (". " etc.,
    # e.g. "U.S. Army") would silently match across sentences.
    for s in surfaces:
        if _SENT_SPLIT.search(s):
            raise ValueError(
                f"dictionary surface {s!r} contains a sentence boundary "
                f"({_SENT_SPLIT.pattern!r}); the single-pass scanner would "
                "match it across sentences — strip or re-tokenize it"
            )
    trie: dict = {}
    for s in sorted(set(surfaces)):
        node = trie
        for ch in s:
            node = node.setdefault(ch, {})
        node[""] = {}  # terminal marker

    # iterative post-order emit: surfaces are bounded only by memory, so the
    # pattern build must not recurse one frame per character of the longest
    # surface (a >1000-char surface would hit the interpreter recursion limit)
    order: List[dict] = []
    stack = [trie]
    while stack:
        node = stack.pop()
        order.append(node)
        for k in node:
            if k != "":
                stack.append(node[k])
    pats: Dict[int, str] = {}
    for node in reversed(order):
        alts = [re.escape(k) + pats[id(node[k])] for k in sorted(node) if k != ""]
        body = alts[0] if len(alts) == 1 else ("(?:" + "|".join(alts) + ")" if alts else "")
        if "" in node and body:
            body = "(?:" + body + ")?"
        pats[id(node)] = body

    return r"\b(" + pats[id(trie)] + r")\b"


def _compile_cue_pattern(words) -> "re.Pattern":
    """Cue-word alternation (Unicode ``\\b``; see ``_cue_regex``)."""
    return re.compile(_cue_regex(words))


def _cue_regex(words) -> str:
    """Source of the cue-word alternation, with the same no-sentence-boundary
    guarantee the dictionary pattern enforces (the single-pass scanner
    depends on it)."""
    for w in words:
        if _SENT_SPLIT.search(w):
            raise ValueError(
                f"predicate cue {w!r} contains a sentence boundary; the "
                "single-pass scanner would match it across sentences"
            )
    return r"\b(" + "|".join(re.escape(w) for w in sorted(words)) + r")\b"


def _make_cue_scanner(preds: dict):
    """text -> [(start, word)] sorted by position, equal to the Unicode cue
    regex's finditer output on every text.

    When every cue is an ASCII ``\\w+`` word, word-boundary mode is chosen
    per document.  An ASCII text, on which ``\\b`` matches the same
    positions in ASCII and Unicode mode, takes ``scan_find``: one C-level
    str.find() loop per cue word with manual ``\\b`` neighbor checks —
    measured ~6x faster than the Unicode regex scan.  Equivalence: a
    ``\\b``-delimited match spans a complete token, so matches of distinct
    whole words never overlap and position-sorting reproduces finditer
    order; the i+1 step cannot skip a valid match because a new ``\\b``
    match cannot start inside the word-char run just matched.  Any other
    text takes the Unicode regex, compiled when the first such document
    arrives.  Any other cue set takes the Unicode regex on every text.

    The returned scanner's ``ascii_path`` attribute is the function it
    applies to ASCII text (``scan_find`` or ``scan_regex``)."""
    src = _cue_regex(preds)
    words = sorted(preds)
    unicode_pat = cache(lambda: re.compile(src))

    def scan_regex(text: str) -> list:
        return [(c.start(), c.group(0)) for c in unicode_pat().finditer(text)]

    if not all(w and all(ch in _ASCII_WORD for ch in w) for w in words):
        scan_regex.ascii_path = scan_regex
        return scan_regex

    def scan_find(text: str) -> list:
        out = []
        n = len(text)
        find = text.find
        for w in words:
            lw = len(w)
            i = find(w)
            while i >= 0:
                if (i == 0 or text[i - 1] not in _ASCII_WORD) and (
                    i + lw == n or text[i + lw] not in _ASCII_WORD
                ):
                    out.append((i, w))
                i = find(w, i + 1)
        out.sort()
        return out

    def scan(text: str) -> list:
        return scan_find(text) if text.isascii() else scan_regex(text)

    scan.ascii_path = scan_find
    return scan


def _scan_doc(
    text: str,
    pat: "re.Pattern",
    cue_pat: Optional["re.Pattern"],
) -> Tuple[list, list]:
    """One full-text pass per pattern (not one per sentence): sentence ids
    are assigned to match offsets by bisect over the boundary list.  Match
    sets are identical to per-sentence scanning because no dictionary
    surface or cue contains a sentence terminator, so no match can cross a
    boundary; measured faster by skipping ~25 finditer calls + substring
    searches per document.

    Returns (mentions, cues): mentions = (sent_idx, sent_start, start, end,
    token); cues likewise with the raw cue word as token.
    """
    bounds = _sent_bounds(text)
    mentions = []
    for m in pat.finditer(text):
        s = m.start()
        si = bisect_right(bounds, s)
        mentions.append((si, bounds[si - 1] if si else 0, s, m.end(), m.group(0)))
    cues = []
    if cue_pat is not None:
        for c in cue_pat.finditer(text):
            s = c.start()
            si = bisect_right(bounds, s)
            cues.append((si, bounds[si - 1] if si else 0, s, c.end(), c.group(0)))
    return mentions, cues


def scan_sentences(
    texts: DataFrame,
    surfaces: List[str],
    predicates: Optional[Dict[str, str]] = None,
    text_col: str = "text",
) -> DataFrame:
    """texts(url, text) -> scan rows (kind = 'mention' | 'cue').

    For cue rows, ``token`` carries the predicate LABEL (not the cue word)
    and (start, end) the cue span.  The dictionaries ship via
    ``SparkContext.broadcast`` — once per executor, not re-pickled into
    every task closure (the difference matters for multi-GB dictionaries).
    """
    bc = texts.sparkSession.sparkContext.broadcast(
        (list(surfaces), dict(predicates or {}))
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pattern_surfaces, preds = bc.value
        pat = _compile_dictionary(pattern_surfaces)
        cue_pat = _compile_cue_pattern(preds) if preds else None
        for pdf in batches:
            out = {
                k: []
                for k in ("url", "sent_idx", "sent_start", "start", "end", "kind", "token")
            }

            def emit(url, sent_idx, sent_start, s, e, kind, token):
                out["url"].append(url)
                out["sent_idx"].append(sent_idx)
                out["sent_start"].append(sent_start)
                out["start"].append(s)
                out["end"].append(e)
                out["kind"].append(kind)
                out["token"].append(token)

            for url, text in zip(pdf["url"], pdf[text_col]):
                mentions, cues = _scan_doc(text, pat, cue_pat)
                for si, ss, s, e, tok in mentions:
                    emit(url, si, ss, s, e, "mention", tok)
                for si, ss, s, e, w in cues:
                    emit(url, si, ss, s, e, "cue", preds[w])
            yield pd.DataFrame(out)

    return texts.select("url", text_col).mapInPandas(scan, schema=SCAN_SCHEMA)


def _make_doc_relations(dict_rows: List[tuple], predicates: Dict[str, str]):
    """Per-document body of the fused kernel: extracted text ->
    [(sent_idx, subj_uid, pred, obj_uid)], one per cue that has a subject
    and an object in its sentence, in cue order — equal to
    ``select_relations(link_doc_mentions(mentions), cues)`` over the
    Unicode ``_scan_doc`` of the text.

    * Word-boundary mode per document: ASCII text is scanned with the
      ``re.ASCII`` dictionary pattern and the find-based cue scanner, any
      other text with the Unicode patterns (compiled on first need).
    * Cue scan first: a cue-free doc can emit nothing, so the sentence-bound
      regex and the dictionary scan are skipped for it.  The win is on real
      webtext, where most pages mention no relation cue at all.
    * Only the sentences that hold a cue are scanned for mentions: a
      relation's subject and object lie in its cue's sentence, and an
      unambiguous mention's uid does not depend on the rest of the doc.
      ``finditer(text, lo, hi)`` over one sentence yields exactly the
      full-text matches inside it: no match crosses a sentence boundary
      (``_dictionary_regex`` rejects such surfaces), ``\\b`` at ``lo``
      sees the real preceding character, and no match ends at ``hi`` in
      either view: it would end in the boundary's whitespace run, and a
      surface can neither start inside that run (no ``\\b`` there) nor
      contain the '.' and whitespace before it (rejected).
    * Relations by position.  One sentence's mentions come from one
      ``finditer``, so they never overlap and their starts and ends both
      strictly increase.  The subject of a cue (max end <= cue) is then the
      last mention with end <= cue and the object (min start > cue) the
      first with start > cue — two bisects, and a uid lookup for the two
      chosen mentions only.  The uid tie-breaks of ``select_relations``
      never fire: no two mentions share an end or a start.
    * An ambiguous surface in a cue's sentence sends the doc down the
      linker path over every mention, since label coherence counts them
      all.  So does an empty match, whose zero-width span can share an end
      with the mention before it.  The pattern yields them when "" is a
      dictionary surface, and at every word boundary when the dictionary
      is empty (the linker then drops them as unknown surfaces).
    """
    from seq2rel_ds_spark.core.link import (
        build_dictionary,
        make_doc_linker,
        select_relations,
    )

    dictionary = build_dictionary(dict_rows)
    preds = dict(predicates)
    if not preds:
        return lambda text: []
    src = _dictionary_regex(list(dictionary))
    ascii_pat = re.compile(src, re.ASCII)
    unicode_pat = cache(lambda: re.compile(src))
    cue_scan = _make_cue_scanner(preds)
    uid_of = {s: c[0][0] for s, c in dictionary.items() if len(c) == 1}
    needs_link = frozenset(s for s, c in dictionary.items() if len(c) > 1) | {""}
    link_doc = make_doc_linker(dictionary)

    def linked_relations(text, pat, bounds, hits):
        mentions = [
            (bisect_right(bounds, m.start()), m.start(), m.end(), m.group(0))
            for m in pat.finditer(text)
        ]
        cues = [(bisect_right(bounds, c), c, preds[w]) for c, w in hits]
        return select_relations(link_doc(mentions), cues)

    def relations(text: str) -> list:
        hits = cue_scan(text)
        if not hits:
            return []
        pat = ascii_pat if text.isascii() else unicode_pat()
        bounds = _sent_bounds(text)
        out = []
        sent = -1
        for c, w in hits:
            si = bisect_right(bounds, c)
            if si != sent:  # first cue of its sentence: scan that sentence
                sent = si
                starts, ends, surfaces = [], [], []
                lo = bounds[si - 1] if si else 0
                hi = bounds[si] if si < len(bounds) else len(text)
                for m in pat.finditer(text, lo, hi):
                    s, e = m.span()
                    starts.append(s)
                    ends.append(e)
                    surfaces.append(m.group(0))
                if not needs_link.isdisjoint(surfaces):
                    return linked_relations(text, pat, bounds, hits)
            i = bisect_right(ends, c) - 1  # last mention ending at or before c
            j = bisect_right(starts, c)  # first mention starting after c
            if i >= 0 and j < len(starts):
                out.append((si, uid_of[surfaces[i]], preds[w], uid_of[surfaces[j]]))
        return out

    return relations


TRIPLE_PARTIAL_SCHEMA = "subj_uid string, pred string, obj_uid string, cnt long"


def make_triple_partial_processor(dict_rows: List[tuple], predicates: Dict[str, str]):
    """Per-batch body of both fused scans (JVM parquet -> mapInPandas, and
    the Arrow-native pyarrow source): pandas frame of html -> one frame of
    per-(subj, pred, obj) partial COUNTS, with the MAP-SIDE COMBINE fused
    into the scan task, so no row per relation instance is ever emitted.
    Compiled state (dictionary, patterns) is built once per call; callers
    build the processor once per task, not per batch.

    Why this is the 100 TB shape: the doc-local scan produces ~17 relation
    instances per page but only ever |distinct triples seen by the task|
    distinct keys, so aggregating inside the Python task bounds what crosses
    the Arrow IPC boundary AND what the JVM has to hash at
    O(distinct-per-task), not O(instances) — the same bound the salted
    two-phase aggregate provides, obtained one stage earlier.  Canonical ids
    and the global merge stay in Catalyst (``canonicalize_from_partials``).
    Parity with the modular Catalyst operators through the salted
    ``canonicalize_triples`` is pinned by tests/operators/test_fused_scan.py
    (identical triples AND n_support).

    Counts accumulate in place, with no per-instance rows or intermediate
    frame.  Counter.update over a generator was tried for the count loop
    and REJECTED: measured ~0.85x (a generator frame per instance costs
    more than the plain loop's C-level dict __setitem__).
    """
    from collections import Counter

    from seq2rel_ds_spark.operators.extract import extract_text_from_html

    relations = _make_doc_relations(dict_rows, predicates)

    def process(pdf: pd.DataFrame):
        counts: Counter = Counter()
        for html in pdf["html"]:
            for _sent, subj, pred, obj in relations(extract_text_from_html(bytes(html))):
                counts[(subj, pred, obj)] += 1
        keys = list(counts)
        yield pd.DataFrame(
            {
                "subj_uid": [k[0] for k in keys],
                "pred": [k[1] for k in keys],
                "obj_uid": [k[2] for k in keys],
                "cnt": [counts[k] for k in keys],
            }
        )

    return process


def fused_triple_partials(
    pages: DataFrame,
    dictionary_rows: List[tuple],
    predicates: Dict[str, str],
) -> DataFrame:
    """JVM-scan variant of the fused-combine flagship stage: parquet scan ->
    ONE Arrow pass doing extract+scan+link+select+partial-aggregate.  Output
    rows are (subj_uid, pred, obj_uid, cnt) partials; feed to
    ``canonicalize_from_partials``."""
    bc = pages.sparkSession.sparkContext.broadcast(
        (list(dictionary_rows), dict(predicates))
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        process = make_triple_partial_processor(*bc.value)
        for pdf in batches:
            yield from process(pdf)

    return pages.select("html").mapInPandas(scan, schema=TRIPLE_PARTIAL_SCHEMA)


def fused_triple_partials_arrow(
    spark,
    pages_path: str,
    dictionary_rows: List[tuple],
    predicates: Dict[str, str],
    batch_size: int = 20000,
) -> DataFrame:
    """Arrow-native + fused-combine flagship stage (the bench default):
    one Python task per core slot reads its balanced list of (file,
    row_group) splits directly with pyarrow (one decode, no inbound IPC —
    sources/arrow_pages.py) and emits pre-aggregated triple partials (no
    per-instance outbound IPC either), one frame per batch.  The JVM's
    remaining work is scheduling plus a final merge over
    O(distinct-triples x batches) skinny rows."""
    from seq2rel_ds_spark.sources.arrow_pages import scan_parquet_python

    bc = spark.sparkContext.broadcast((list(dictionary_rows), dict(predicates)))

    # cloudpickle ships this dict inside the task closure, so every task
    # unpickles an empty one: it holds one compiled processor per task,
    # built on the task's first batch and reused for every row group in the
    # task's split list, so a scan builds at most defaultParallelism of them
    state: dict = {}

    def process(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        if "proc" not in state:
            state["proc"] = make_triple_partial_processor(*bc.value)
        yield from state["proc"](pdf)

    return scan_parquet_python(
        spark,
        pages_path,
        process,
        schema=TRIPLE_PARTIAL_SCHEMA,
        columns=["html"],  # url never reaches the combine — prune at the reader
        batch_size=batch_size,
    )


def detect_mentions(texts: DataFrame, surfaces: List[str], text_col: str = "text") -> DataFrame:
    """Mention rows only (back-compat surface of the scanner)."""
    scans = scan_sentences(texts, surfaces, predicates=None, text_col=text_col)
    return scans.filter(F.col("kind") == "mention").select(
        "url", "sent_idx", "sent_start", "start", "end", F.col("token").alias("surface")
    )


def cue_rows(scans: DataFrame) -> DataFrame:
    """Predicate-cue rows from a scan (url, sent_idx, cue_pos, pred)."""
    return scans.filter(F.col("kind") == "cue").select(
        "url",
        "sent_idx",
        F.col("start").alias("cue_pos"),
        F.col("token").alias("pred"),
    )


def mention_rows(scans: DataFrame) -> DataFrame:
    return scans.filter(F.col("kind") == "mention").select(
        "url", "sent_idx", "sent_start", "start", "end", F.col("token").alias("surface")
    )


def link_mentions(
    mentions: DataFrame, dictionary: DataFrame, texts: DataFrame = None
) -> DataFrame:
    """Dictionary + context entity linking.

    Broadcast-join mentions to candidate uids on surface; ambiguous surfaces
    (one surface, many uids) resolve by a deterministic context score — a
    label-coherence prior (count of mentions in the same document sharing the
    candidate's label) — with (score desc, canonical first, uid asc)
    tie-break.  All Catalyst: one broadcast join + two windows over the same
    url partitioning; no Python, no extra shuffle for the score.
    """
    from pyspark.sql import Window

    cands = mentions.join(F.broadcast(dictionary), "surface", "inner")
    # one exchange on url serves BOTH windows below: hash(url) satisfies the
    # clustering needs of (url,label) and (url,start,end) alike, so Catalyst
    # inserts no further shuffles (vs two back-to-back exchanges otherwise)
    cands = cands.repartition("url")
    label_w = Window.partitionBy("url", "label")
    scored = cands.withColumn("label_hits", F.count("*").over(label_w))
    pick_w = Window.partitionBy("url", "start", "end").orderBy(
        F.desc("label_hits"), F.desc("is_canonical"), F.asc("uid")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(pick_w))
        .filter(F.col("rnk") == 1)
        .select("url", "sent_idx", "sent_start", "start", "end", "surface", "uid", "label")
    )
