"""Deduplication operators over a documents table — exact, n-gram Jaccard,
MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale notes (the design constraints, not afterthoughts):
  * exact dedup aggregates on a *hash* of the normalized text, never the
    text itself (tiny shuffle rows), with optional two-phase salting for
    pathological duplicate skew (the same boilerplate page a billion times).
  * candidate generation for near-dup is always bucket-join shaped (shingle,
    LSH band, or simhash chunk) — never an all-pairs cross join.
  * all hashing is md5-derived, so every step is engine-portable and every
    operator has an exact SQL oracle (no Spark-private hash functions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalized_text(text: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", salt_buckets: int = 0
) -> DataFrame:
    """Exact duplicate groups: (keep_id, n_dups) per distinct normalized text
    with >1 occurrence.  keep_id = min id (deterministic survivor).

    With ``salt_buckets > 0`` the aggregation runs two-phase (salted partial
    then final) so a single mega-duplicate key cannot hot-spot one reducer —
    the mandated pattern for hub skew.
    """
    keyed = docs.select(
        F.md5(normalized_text(F.col(text_col))).alias("text_hash"), F.col(id_col).alias("id")
    )
    if salt_buckets > 0:
        partial = keyed.groupBy(
            "text_hash", F.pmod(F.xxhash64("id"), F.lit(salt_buckets)).alias("_salt")
        ).agg(F.min("id").alias("min_id"), F.count("*").alias("cnt"))
        grouped = partial.groupBy("text_hash").agg(
            F.min("min_id").alias("keep_id"), F.sum("cnt").alias("n_dups")
        )
    else:
        grouped = keyed.groupBy("text_hash").agg(
            F.min("id").alias("keep_id"), F.count("*").alias("n_dups")
        )
    return grouped.filter(F.col("n_dups") > 1).select("text_hash", "keep_id", "n_dups")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Survivors only: one row per distinct normalized text (min id wins)."""
    keyed = docs.withColumn("text_hash", F.md5(normalized_text(F.col(text_col))))
    ranked = keyed.groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    return ranked.join(docs, id_col, "inner").drop("text_hash")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles over a MATERIALIZED token-array column.

    ``toks`` must be an attribute (not an inline expression): it is
    referenced inside the per-position transform lambda, and a lambda-body
    subexpression is re-evaluated per element — an inline split makes the
    shingle pass O(tokens^2) in split work (measured 3.7s vs 0.4s at
    sf0.1, r07)."""
    k = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def tokens_for_shingles(text: Column) -> Column:
    """The token array :func:`shingles_from_tokens` expects — materialize
    this as its own projection before shingling."""
    return F.split(normalized_text(text), " ")


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (JVM-side).

    Convenience form: inlines the token split into the per-position
    lambda, which re-evaluates it per shingle (see shingles_from_tokens).
    Operators materialize the token column and use the two-step form."""
    return shingles_from_tokens(tokens_for_shingles(text), n)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int = 0,
) -> DataFrame:
    """All document pairs (a < b) with shingle-set Jaccard >= threshold.

    Candidate generation is a shingle-bucket self-join, and no stage joins
    the pairs back against shingles.  With R the rare and S the stop
    shingles, ``n_inter = |A∩B∩R| + |A∩B∩S|``: the first term is the row
    count of the self-join over rare shingles (its ``groupBy(id_a, id_b)``
    also dedups the candidates), the second ``size(array_intersect(...))``
    over each doc's small stop-shingle array, collected in the per-doc
    aggregate that also counts the set size.

    ``max_shingle_df`` (0 = off) is the scale knob: shingles appearing in
    more than this many documents (a ``count(*)`` window per shingle) are
    stop shingles, excluded from CANDIDATE GENERATION ONLY (the classic
    stop-shingle cut — a shingle shared by k docs contributes k^2 join
    rows).  Both terms cover the full shingle sets, so reported Jaccard
    stays exact; the only recall loss is pairs whose every shared shingle
    is a stop shingle.  With the cut off, the stop arrays are empty.
    """
    # the explicit non-null filter sits under every branch, so all of them
    # read one reused shingle exchange (an inferred filter pushed under
    # only some branches broke that reuse)
    sh = (
        docs.select(
            F.col(id_col).alias("id"), tokens_for_shingles(F.col(text_col)).alias("_toks")
        )
        .select("id", F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"))
        .filter(F.col("id").isNotNull() & F.col("shingle").isNotNull())
        .withColumn("df", F.count("*").over(Window.partitionBy("shingle")))
    )
    rare = (F.col("df") <= max_shingle_df) if max_shingle_df > 0 else F.lit(True)
    per_doc = sh.groupBy("id").agg(
        F.count("*").alias("sz"),
        F.collect_list(F.when(~rare, F.col("shingle"))).alias("stops"),
    )
    a, b = sh.filter(rare).alias("a"), sh.filter(rare).alias("b")
    n_rare = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_rare"))
    )

    def side(s: str) -> DataFrame:
        return per_doc.select(*(F.col(c).alias(f"{c}_{s}") for c in ("id", "sz", "stops")))

    n_inter = F.col("n_rare") + F.size(F.array_intersect("stops_a", "stops_b"))
    jaccard = F.round(n_inter / (F.col("sz_a") + F.col("sz_b") - n_inter), 4)
    return (
        n_rare.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .select("id_a", "id_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_sig_over(sh: Column, num_hashes: int) -> Column:
    """Signature expression over an (ideally materialized) shingle column."""

    def hashed_min(k: int):
        prefix = F.lit(f"{k}:")
        return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(prefix, s))))

    return F.array(*[hashed_min(k) for k in range(num_hashes)])


def minhash_signature(text: Column, n: int = 3, num_hashes: int = 16) -> Column:
    """MinHash signature as an array of hex-string minima.

    h_k(shingle) = md5(k || ':' || shingle); the signature entry is the
    lexicographic minimum — a valid min-wise scheme over a random permutation
    per k, and byte-portable to any engine with md5.

    NOTE (r07): this convenience form embeds the shingle expression
    ``num_hashes`` times in one projection, and interpreted HOF trees get
    no common-subexpression elimination — the shingles are recomputed per
    hash function (measured 10x slower at 16 hashes).  Performance-
    sensitive callers (minhash_lsh_pairs) materialize the shingle column
    in its own projection and use :func:`_minhash_sig_over` on the
    attribute instead."""
    return _minhash_sig_over(shingles_col(text, n), num_hashes)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    bands of r = num_hashes/bands rows; a pair is a candidate iff some band
    hashes identically; candidates are then verified so the output is exact
    (LSH only prunes).  Probability a true pair at Jaccard s survives:
    1 - (1 - s^r)^bands.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # materialize the shingle array ONCE per row, then derive the
    # num_hashes minima from the attribute (r07): inlining the shingle
    # expression into every minimum recomputed it per hash function
    # (no CSE for interpreted HOF trees; measured 53s -> 5s at sf0.1)
    with_sig = (
        docs.select(
            F.col(id_col).alias("id"), tokens_for_shingles(F.col(text_col)).alias("_toks")
        )
        .select("id", shingles_from_tokens(F.col("_toks"), n).alias("_sh"))
        .select("id", _minhash_sig_over(F.col("_sh"), num_hashes).alias("sig"))
    )
    band_rows = with_sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.md5(F.array_join(F.slice(F.col("sig"), bi * r + 1, r), "|")).alias(
                            "bucket"
                        ),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a, b = band_rows.alias("a"), band_rows.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verify candidates with exact shingle Jaccard (join back to shingles).
    sh = docs.select(
        F.col(id_col).alias("id"), tokens_for_shingles(F.col(text_col)).alias("_toks")
    ).select("id", F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"))
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("shingle").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("_idb"), F.col("shingle").alias("sh_b"))
    inter = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, (F.col("id_b") == F.col("_idb")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _simhash_over(hashed: Column, bits: int) -> Column:
    """SimHash bit string from an (ideally materialized) md5-per-token
    array column."""

    def vote(i: int):
        nibble_pos, bit_mask = i // 4 + 1, 1 << (i % 4)
        return F.aggregate(
            hashed,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                F.conv(F.substring(h, nibble_pos, 1), 16, 10)
                .cast("int")
                .bitwiseAND(F.lit(bit_mask))
                > 0,
                1,
            ).otherwise(-1),
        )

    bit_votes = [vote(i) for i in range(bits)]
    return F.concat(*[F.when(v > 0, F.lit("1")).otherwise(F.lit("0")) for v in bit_votes]).alias(
        "simhash"
    )


def simhash_col(text: Column, bits: int = 64) -> Column:
    """SimHash of the token multiset: per token, md5-derived bit pattern;
    each output bit is the sign of the summed (+1/-1) votes.  Pure Catalyst.

    Bits come from 4-bit nibbles of the token's md5 hex (16 nibbles x 4 bits
    = 64).  Deterministic and engine-portable.

    NOTE (r07): embeds the tokenize+md5 array in all ``bits`` vote folds —
    recomputed per bit in interpreted evaluation (no CSE for HOF trees;
    measured 2.8x slower at 64 bits).  simhash_pairs materializes the
    hashed-token column and applies :func:`_simhash_over` instead."""
    toks = F.split(normalized_text(text), " ")
    return _simhash_over(F.transform(toks, lambda t: F.md5(t)), bits)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    chunks: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with simhash Hamming distance <= max_hamming.

    Candidate generation: pigeonhole on ``chunks`` bit-chunks — any pair
    within distance < chunks shares at least one identical chunk, so the
    self-join runs on chunk-value buckets, never all pairs.
    """
    assert chunks > max_hamming, "pigeonhole requires chunks > max_hamming"
    width = bits // chunks
    # materialize md5-per-token once, then the 64 vote folds read the
    # attribute (r07; see simhash_col note — measured 13.5s -> 4.9s)
    hashed = F.transform(F.split(normalized_text(F.col(text_col)), " "), lambda t: F.md5(t))
    sh = docs.select(F.col(id_col).alias("id"), hashed.alias("_hashed")).select(
        "id", _simhash_over(F.col("_hashed"), bits).alias("sh")
    )
    chunked = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("chunk_idx"),
                        F.substring("sh", ci * width + 1, width).alias("chunk"),
                    )
                    for ci in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "sh", "cc.chunk_idx", "cc.chunk")
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.size(
        F.filter(
            F.arrays_zip(F.split("sh_a", ""), F.split("sh_b", "")),
            lambda z: z["0"] != z["1"],
        )
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def neardup_cluster_assignments(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 2,
    num_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate CLUSTER resolution — the full 100 TB dedup op:
    MinHash-LSH candidate pairs -> verified near-dup edges -> connected
    components -> (doc_id, keep_id) survivor assignment (keep_id = min doc
    id of the cluster; deterministic regardless of partitioning).

    Pair detection alone under-deletes: near-dup similarity is not
    transitive-closed at the pair level (A~B, B~C but A!~C still form one
    redundancy cluster), so dedup must delete per *component*, keeping one
    survivor.  Only docs belonging to some cluster appear in the output;
    singletons are implicitly their own survivor.
    """
    from seq2rel_ds_spark.operators.cluster import connected_components

    pairs = minhash_lsh_pairs(
        docs, threshold=threshold, n=n, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col,
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("keep_id")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    planes_per_band: int = 3,
    scale: int = 1000,
    all_pairs: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicates: same-bucket pairs with cosine >=
    threshold.

    Candidate generation is OR-amplified sign-LSH (similarity.sign_lsh_bands):
    explode (band, bucket) per vector, equi-join on the pair, distinct — a
    shuffle hash join, never a cartesian, so the pair space at 10^9 vectors
    is ~bands * n^2 / 2^planes_per_band-bucketed instead of n^2.  Exact
    verification then re-joins the (integer-quantized) vectors by id and
    scores only the candidates; quantized dots/norms are exact integers, so
    the rounded cosine is engine-portable.

    Recall: a qualifying pair at angle theta collides in a band with
    p = (1-theta/pi)^planes_per_band and is missed with (1-p)^bands
    (~3e-5 at cosine 0.95 with the 8x3 default).  ``all_pairs=True`` keeps
    the exact O(n^2) form — small-N test oracle ONLY, not a scale path.
    """
    from seq2rel_ds_spark.operators.similarity import quantize_vec, sign_lsh_bands

    v = quantize_vec(F.col(vec_col), scale)
    # quantize once; the norm fold reads the materialized attribute (r07)
    e = embeddings.select(F.col(id_col).alias("id"), v.alias("v")).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(F.col("v"), F.lit(0).cast("long"), lambda a, x: a + x * x).cast(
                "double"
            )
        ),
    )

    if all_pairs:
        cand = (
            e.select("id").alias("x")
            .join(e.select("id").alias("y"), F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        )
    else:
        bb = e.select(
            "id", F.explode(sign_lsh_bands(F.col("v"), dim, bands, planes_per_band)).alias("bb")
        ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        x, y = bb.alias("x"), bb.alias("y")
        cand = (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )

    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x_, y_: x_ * y_),
        F.lit(0).cast("long"),
        lambda acc, x_: acc + x_,
    )
    return (
        cand.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, F.col("id_b") == F.col("b.id"))
        .withColumn(
            "cosine", F.round(dot.cast("double") / (F.col("a.nrm") * F.col("b.nrm")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
