"""URL canonicalization and crawl-snapshot dedup over Common-Crawl-style
pages(url, warc_ts, ...).

Training-data-pipeline extension (SURVEY.md §2.10) — a crawl contains the
same resource many times under trivially-different URLs (case-varied
scheme/host, default ports, fragments, tracking parameters) and across
many fetch timestamps; pipelines canonicalize the URL and keep one
snapshot per resource (latest-wins) BEFORE any content-level dedup, which
removes the dominant duplicate class for free.

Canonicalization rules (each a pure Catalyst expression, shared verbatim
with the SQL oracle):
  1. drop the fragment (``#...``),
  2. lowercase scheme and host[:port],
  3. drop the scheme's default port (http:80 / https:443),
  4. drop tracking query parameters (utm_*, fbclid, gclid),
  5. empty path -> "/", query kept in original order minus tracking.

Scale shape: canonicalization is per-row string work inside the scan's
codegen — zero shuffle; crawl_dedup is one hash shuffle on the canonical
key with a window top-1 (AQE handles moderate key skew; a pathological
hot key — one URL refetched billions of times — would take the salted
two-phase max like operators/dedup.py, documented, not the common case).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid)="


def canonical_url(url: Column) -> Column:
    """The canonical form of ``url`` per the module rules."""
    u = F.regexp_replace(url, "#.*", "")
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    rest = F.regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+", "")
    path = F.regexp_extract(rest, "^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: ~(p.rlike(TRACKING_PARAM_RE)) & (p != ""),
    )
    kept = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept)),
    )


def with_canonical_url(
    pages: DataFrame, url_col: str = "url", out_col: str = "url_canon"
) -> DataFrame:
    """Adds the canonical-URL column; rows whose url has no parseable
    scheme://host canonicalize to '://' + path and are left for the
    caller's hygiene filter (a crawl source guarantees real URLs)."""
    return pages.withColumn(out_col, canonical_url(F.col(url_col)))


def crawl_dedup(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """One row per canonical URL: the LATEST snapshot (max ``ts_col``,
    deterministic tie-break on the raw url string, then on remaining
    column values never — ties beyond (ts, url) cannot occur for distinct
    rows of a crawl, where url+ts is the fetch identity).

    Shape (r07, closes the r6 hot-key item): latest-wins is the
    lexicographic MAX of struct(ts, url, payload...) per canonical key,
    computed by a groupBy aggregate — Catalyst's partial aggregation
    collapses every task to one candidate row per key BEFORE the
    exchange, so a pathologically hot canonical URL (one resource
    refetched billions of times) costs O(tasks) merge rows instead of the
    previous window top-1, which shuffled ALL of the hot key's rows into
    one partition to sort them (the documented-but-unimplemented salted
    two-phase max; partial+final aggregation IS the two-phase max with
    the map side as the salt).  Row-identical: row_number over
    (ts desc, url desc) = 1 picks exactly the lexicographic max of
    (ts, url), and later struct fields never decide because (url, ts) is
    the fetch identity.

    Every payload column (each column of ``pages`` besides ``ts_col`` and
    ``url_col``) must be of an orderable type, because the struct ``max``
    compares whole structs: a map column (or a struct or array holding a
    map) fails analysis.  Convert such columns first, for example with
    ``to_json``."""
    cu = with_canonical_url(pages, url_col=url_col)
    payload = [c for c in pages.columns if c not in (ts_col, url_col)]
    s = F.struct(F.col(ts_col), F.col(url_col), *[F.col(c) for c in payload])
    return (
        cu.groupBy("url_canon")
        .agg(F.max(s).alias("_s"))
        .select(*[F.col(f"_s.{c}").alias(c) for c in pages.columns], "url_canon")
    )
