"""Text analytics over a documents table — first-class large-scale
training-data-pipeline operators (language ID, quality scoring, token
counting, fingerprinting).

Everything here is pure Catalyst (JVM, whole-stage codegen, no shuffle except
where aggregation is requested) and deterministic, so every operator has an
exact external-SQL oracle.  Floating outputs are rounded explicitly to keep
cross-engine comparisons stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic.  Deterministic and intentionally small; real deployments swap in
# fuller profiles via the same operator.
LANG_PROFILES = {
    "en": ["the", "a", "of", "and", "to", "in"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
}

STOPWORDS = LANG_PROFILES["en"]


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of the normalized text.

    One regex pass (r07): splitting the trimmed text on ``\\s+`` directly
    yields exactly the tokens of replace-whitespace-runs-then-split-on-
    space (runs collapse either way; trim removes boundary runs; the
    empty string maps to [''] in both forms) without materializing the
    normalized copy of every document."""
    return F.split(F.trim(text), r"\s+")


def _check_temp_cols(docs: DataFrame, *names: str) -> None:
    """Raise if ``docs`` already has a column named like one of the helper's
    temporary columns: ``withColumn`` would overwrite it and the final
    ``drop`` would remove it from the output."""
    clash = sorted(set(names) & set(docs.columns))
    if clash:
        raise ValueError(
            f"input already has column(s) {clash}, which this helper uses as "
            "temporary columns; rename them first"
        )


def with_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens, n_distinct_tokens, avg_token_len (rounded, 4dp)."""
    # materialize the token array once (r07): three consumers of an inline
    # split would each re-evaluate it (no CSE across interpreted exprs)
    toks = F.col("_toks")
    # sum of token lengths == length of the concatenation (r07): one
    # codegen'd array_join+length instead of an interpreted aggregate fold
    sum_len = F.length(F.array_join(toks, "")).cast("long")
    _check_temp_cols(docs, "_toks")
    return (
        docs.withColumn("_toks", tokens_col(F.col(text_col)))
        .withColumn("n_tokens", F.size(toks))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)))
        .withColumn(
            "avg_token_len",
            F.round(sum_len / F.greatest(F.size(toks), F.lit(1)), 4),
        )
        .drop("_toks")
    )


def with_repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style intra-document repetition signals: the fraction of
    duplicate tokens and duplicate token trigrams — high values mark the
    degenerate boilerplate/keyword-stuffing pages a pre-training filter
    drops.  Adds n_tokens, dup_token_frac, dup_trigram_frac (4dp).

    Pure Catalyst (split + transform + array_distinct; no UDF, partial-
    aggregation-free per-row math), and integer-count arithmetic so the
    DuckDB oracle reproduces every value exactly.  Trigrams are counted
    WITH multiplicity (unlike dedup.shingles_col, which is a set): the
    signal is how much of the doc is repeats, so duplicates must weigh.
    """
    # materialize tokens AND trigrams (r07): the trigram transform's lambda
    # references the token array per position, so an inline split made the
    # pass O(tokens^2) in split work; the distinct/size consumers likewise
    # re-evaluated their argument per reference
    toks = F.col("_toks")
    k = F.size(toks) - F.lit(2)
    tris_expr = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array_join(F.slice(toks, i + 1, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tris = F.col("_tris")
    _check_temp_cols(docs, "_toks", "_tris")
    return (
        docs.withColumn("_toks", tokens_col(F.col(text_col)))
        .withColumn("_tris", tris_expr)
        .withColumn("n_tokens", F.size(toks))
        .withColumn(
            "dup_token_frac",
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(toks))
                / F.greatest(F.size(toks), F.lit(1)).cast("double"),
                4,
            ),
        )
        .withColumn(
            "dup_trigram_frac",
            F.when(
                F.size(tris) > 0,
                F.round(
                    F.lit(1.0)
                    - F.size(F.array_distinct(tris)) / F.size(tris).cast("double"),
                    4,
                ),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_toks", "_tris")
    )


def with_quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0, 1]:

        0.4 * stopword presence + 0.3 * lexical diversity + 0.3 * length fit

    Deterministic arithmetic only; 4dp rounding for oracle stability.
    """
    # token array materialized once for its four consumers (r07)
    toks = F.col("_toks")
    n = F.greatest(F.size(toks), F.lit(1)).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t)))).cast(
        "long"
    )
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    n_toks = F.size(toks).cast("long")
    # single-division exact-integer form of
    #   0.4*min(4*stop/n, 1) + 0.3*(distinct/n) + 0.3*min(toks/100, 1):
    # num/den with int64 numerator/denominator -> the one double division is
    # IEEE-identical in any engine (cross-oracle stability).
    num = (
        40000 * F.least(4 * n_stop, n)
        + 30000 * n_distinct
        + 300 * F.least(n_toks, F.lit(100).cast("long")) * n
    )
    den = 100000 * n
    # half-up rounding to 4dp in pure integer math (floor((20000*num+den)
    # / (2*den))): engines disagree on rounding exact decimal halves of
    # binary doubles, integer arithmetic never does.  The floor-division runs
    # in decimal(38,0) — `/` on longs is IEEE double division, which loses
    # exactness once 20000*num exceeds 2^53 (multi-million-token docs).
    x = num.cast("decimal(38,0)") * 20000 + den.cast("decimal(38,0)")
    y = den.cast("decimal(38,0)") * 2
    # x and y are each referenced twice by the floor-division — materialize
    # them (and the token array) so the stopword filter runs once per row
    score4 = (
        (F.col("_x") - F.pmod(F.col("_x"), F.col("_y"))) / F.col("_y")
    ).cast("long")
    _check_temp_cols(docs, "_toks", "_x", "_y")
    return (
        docs.withColumn("_toks", tokens_col(F.col(text_col)))
        .withColumn("_x", x)
        .withColumn("_y", y)
        .withColumn("quality_score", score4 / 10000.0)
        .drop("_toks", "_x", "_y")
    )


def with_lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language guess: argmax of per-language hit counts,
    deterministic tie-break on language code; 'und' when nothing matches."""
    # materialize the lowered token array (one eval instead of one per
    # profile) and the winning struct (one argmax instead of one per
    # output column) — r07
    toks = F.col("_toks")

    def profile_hits(words):
        word_arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(word_arr, t)))

    scored = F.array(
        *[
            F.struct(
                (-profile_hits(words)).cast("long").alias("neg_hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(LANG_PROFILES.items())
        ]
    )
    best = F.col("_best")
    _check_temp_cols(docs, "_toks", "_best")
    return (
        docs.withColumn(
            "_toks", F.transform(tokens_col(F.col(text_col)), lambda t: F.lower(t))
        )
        .withColumn("_best", F.get(F.array_sort(scored), 0))
        .withColumn(
            "lang_guess",
            F.when(best["neg_hits"] < 0, best["lang"]).otherwise(F.lit("und")),
        )
        .withColumn("lang_guess_hits", -best["neg_hits"])
        .drop("_toks", "_best")
    )


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprints:

    * ``fp_md5``  — md5 of the whitespace-normalized, lowercased text
      (portable: identical in any engine with md5) — the exact-dup key.
    * ``fp_roll`` — 53-bit Karp-Rabin rolling hash over normalized bytes,
      computed JVM-side via ``aggregate`` (no UDF); used for shard-local
      chunk fingerprinting at scale.
    """
    # normalized text materialized once for the md5 and the rolling fold
    norm = F.col("_norm")
    # largest prime < 2^53: keeps acc*131+c < 2^63 (no ANSI long overflow)
    mod = F.lit(9007199254740881).cast("long")
    roll = F.aggregate(
        F.transform(F.split(norm, ""), lambda ch: F.ascii(ch).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * 131 + c, mod),
    )
    _check_temp_cols(docs, "_norm")
    return (
        docs.withColumn(
            "_norm", F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
        )
        .withColumn("fp_md5", F.md5(norm))
        .withColumn("fp_roll", roll)
        .drop("_norm")
    )


def token_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide token frequencies (two-phase: map-side partial aggregation
    happens automatically for the count aggregate after explode)."""
    # lower the document once before splitting (r07) — lowercasing commutes
    # with whitespace splitting, so the grouped token set and counts are
    # unchanged while the per-token lower() calls disappear
    toks = tokens_col(F.lower(F.col(text_col)))
    return (
        docs.select(F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


# (name, pattern, replacement) — the RE2-compatible regex subset so the same
# patterns run identically under Java regex (Spark) and RE2 (DuckDB/others).
REDACTION_RULES = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("PHONE", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    ("IPV4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
]


def with_redaction(docs: DataFrame, text_col: str = "text", rules=None) -> DataFrame:
    """PII-style redaction: sequential regexp_replace rules, pure Catalyst
    (narrow, codegen — the cheapest possible pass over a 100 TB text
    column).  Adds ``redacted`` plus ``n_redactions`` (count of replaced
    spans, derived from the length delta per rule application order)."""
    rules = rules if rules is not None else REDACTION_RULES
    # count each rule's matches on the PROGRESSIVELY-redacted text (rule k
    # counted after rules 1..k-1 applied), so spans consumed by an earlier
    # rule are not double-counted — e.g. the digits of a phone-shaped email
    # local part count once, as the email they are part of; n_redactions
    # equals the number of placeholder insertions exactly
    out = F.col(text_col)
    n = F.lit(0)
    for _, pat, repl in rules:
        # regexp_count == size(split)-1 (non-overlapping matches) without
        # materializing the split array per rule (r07)
        n = n + F.regexp_count(out, F.lit(pat))
        out = F.regexp_replace(out, pat, repl)
    return docs.withColumn("redacted", out).withColumn("n_redactions", n)


def with_filter_flags(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    avg_len_lo_x10: int = 20,
    avg_len_hi_x10: int = 120,
    dup3_pct_max: int = 25,
    stop_per_64_min: int = 4,
) -> DataFrame:
    """C4/Gopher-style composite quality FILTER verdict: one 0/1 flag per
    rule plus the final ``keep``.  Thresholds are integers by design —
    every rule is evaluated in pure int64 arithmetic (counts and
    cross-multiplied ratio comparisons, never a float), so the verdicts
    are bit-identical in any engine and the DuckDB oracle restates them
    exactly.

    Rules (a set flag means the document FAILS that rule):
      f_short    n_tokens < min_tokens
      f_long     n_tokens > max_tokens
      f_wordlen  mean word length outside [avg_len_lo_x10, avg_len_hi_x10]/10
                 (compared as 10*sum_len <=> threshold * n_tokens)
      f_dup3     duplicate-trigram fraction > dup3_pct_max/100
                 (compared as 100*(n_tri - n_distinct_tri) > pct * n_tri)
      f_stop     stopword fraction < stop_per_64_min/64
                 (compared as 64*n_stop < min * n_tokens)
      keep       no flag set

    Scale shape: per-row Catalyst expressions only — no shuffle, no UDF;
    the filter runs inside the scan stage's codegen like the rest of this
    module.  Downstream drops rows with ``keep = 0`` (the common case
    keeps the corpus streaming with zero exchange).
    """
    # token and trigram arrays materialized once (r07): the trigram
    # transform's lambda reads the token array per position (an inline
    # split would be re-evaluated per trigram — O(tokens^2)), and the six
    # rule expressions share both arrays
    toks = F.col("_toks")
    n = F.size(toks).cast("long")
    # same array_join trick as with_token_stats: codegen, no HOF fold
    sum_len = F.length(F.array_join(toks, "")).cast("long")
    k = F.size(toks) - F.lit(2)
    tris_expr = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array_join(F.slice(toks, i + 1, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tris = F.col("_tris")
    n_tri = F.size(tris).cast("long")
    n_tri_d = F.size(F.array_distinct(tris)).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t)))).cast(
        "long"
    )
    f_short = (n < min_tokens).cast("int")
    f_long = (n > max_tokens).cast("int")
    f_wordlen = (
        (10 * sum_len < avg_len_lo_x10 * n) | (10 * sum_len > avg_len_hi_x10 * n)
    ).cast("int")
    f_dup3 = ((n_tri > 0) & (100 * (n_tri - n_tri_d) > dup3_pct_max * n_tri)).cast("int")
    f_stop = (64 * n_stop < stop_per_64_min * n).cast("int")
    _check_temp_cols(docs, "_toks", "_tris")
    return (
        docs.withColumn("_toks", tokens_col(F.col(text_col)))
        .withColumn("_tris", tris_expr)
        .withColumn("f_short", f_short)
        .withColumn("f_long", f_long)
        .withColumn("f_wordlen", f_wordlen)
        .withColumn("f_dup3", f_dup3)
        .withColumn("f_stop", f_stop)
        .withColumn(
            "keep",
            (
                (F.col("f_short") + F.col("f_long") + F.col("f_wordlen")
                 + F.col("f_dup3") + F.col("f_stop")) == 0
            ).cast("int"),
        )
        .drop("_toks", "_tris")
    )


def with_rarity_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> DataFrame:
    """(doc_id, n_tokens, rarity_sum, rarity_per_token): an integer
    corpus-rarity score — the perplexity-proxy quality signal (CCNet
    scores docs with a reference LM; at hygiene level what matters is
    "how unusual are this doc's tokens vs the corpus"), computed with NO
    floating point: each token occurrence contributes
    ``scale DIV df(token)`` where df is the token's corpus document
    frequency.  Common tokens contribute ~0, hapaxes contribute
    ``scale``; a high per-token score marks gibberish/rare-vocab pages,
    a very low one boilerplate.  Pure int64 -> bit-identical in any
    engine.

    Scale shape: the df dictionary is vocab-sized (power-law: far smaller
    than the corpus) built by one distinct + partial-agg count; tokens
    travel as md5 hashes, never text, and the per-occurrence join is an
    equi-join on the hash — hot tokens ('the') fan out across partitions
    by doc, and the build side is 1 row per key, so the join cannot skew.
    The final per-doc sum partial-aggregates.
    """
    occ = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    ).select("id", F.md5("tok").alias("h"))
    df_tbl = (
        occ.distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
    )
    return (
        occ.join(df_tbl, "h")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.expr(f"{int(scale)} DIV df")).alias("rarity_sum"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("rarity_sum").cast("long").alias("rarity_sum"),
            F.expr("rarity_sum DIV n_tokens").alias("rarity_per_token"),
        )
    )
