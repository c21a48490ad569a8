"""URL canonicalization + URL-keyed dedup.

Real crawl corpora hit URL aliasing on day one: the same page reachable as
``HTTP://Example.COM:80/a/b/?utm_source=feed`` and ``http://example.com/a/b``.
The reference pipeline (MokshaDill/OCR-System) keys work by exact filename /
url string (``main.pyw`` folder scan), so aliased fetches double-count; this
module adds the normalize step a web-scale corpus needs before url-keyed
dedup, resume manifests, or metrics.

Everything is a pure JVM expression chain (``substr``/``instr``/``split``/
``regexp_replace`` — whole-stage-codegen friendly, zero Python), and every
regex stays inside the RE2-safe subset (same rule as ``operators/scrub.py``)
so an independent SQL engine replays it exactly.

Canonical form (documented, deliberately minimal and deterministic):
  * scheme and host lowercased;
  * default ports dropped (``:80`` for http, ``:443`` for https); other
    ports kept;
  * fragment (``#...``) dropped;
  * tracking query params dropped (``utm_*``, ``gclid``, ``fbclid``,
    ``ref``), remaining params kept IN ORDER (param reordering is a
    semantic change for some sites, so we do not sort);
  * empty path becomes ``/``; ALL trailing slashes on a non-root path are
    stripped (``/a//`` → ``/a`` — stripping only one would make
    canonicalization non-idempotent, and idempotence is what keeps
    url-keyed dedup groups stable under re-ingestion of already-canonical
    urls);
  * inputs without ``://`` are passed through trimmed (not URLs we claim
    to understand — never silently mangled);
  * authorities containing userinfo (``user:pass@host``) are likewise
    passed through trimmed: the colon-based port logic would mis-split
    them, and credentialed URLs are a policy question (usually dropped
    wholesale by crawl pipelines), not a normalization one.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["TRACKING_PARAM_RE", "canonicalize_url", "url_dedup_groups",
           "url_dedup", "host_of", "host_suffixes", "url_blocklist_filter"]

# anchored, RE2-safe (no lookarounds/backrefs) — replayable in DuckDB
TRACKING_PARAM_RE = "^(utm_[^=]*|gclid|fbclid|ref)="


def canonicalize_url(col: Column) -> Column:
    """Canonical URL string per the module-docstring rules. Pure JVM
    expression tree — no UDF, no shuffle, codegen-friendly."""
    u = F.trim(col)
    p3 = F.instr(u, "://")
    scheme = F.lower(F.substr(u, F.lit(1), p3 - 1))
    rest = F.substring_index(F.substr(u, p3 + 3), "#", 1)  # drop fragment
    slash = F.instr(rest, "/")
    hostport = F.when(slash > 0, F.substr(rest, F.lit(1), slash - 1)) \
                .otherwise(rest)
    pathq = F.when(slash > 0, F.substr(rest, slash)).otherwise(F.lit(""))
    colon = F.instr(hostport, ":")
    host = F.lower(
        F.when(colon > 0, F.substr(hostport, F.lit(1), colon - 1))
        .otherwise(hostport))
    port = F.when(colon > 0, F.substr(hostport, colon + 1)).otherwise(F.lit(""))
    port = F.when(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit("")).otherwise(port)
    qm = F.instr(pathq, "?")
    path = F.when(qm > 0, F.substr(pathq, F.lit(1), qm - 1)).otherwise(pathq)
    qs = F.when(qm > 0, F.substr(pathq, qm + 1)).otherwise(F.lit(""))
    params = F.filter(
        F.split(qs, "&"),
        lambda x: (x != "") & (~x.rlike(TRACKING_PARAM_RE)))
    qs2 = F.array_join(params, "&")
    # strip ALL trailing slashes, then restore root: '/a//' → '/a',
    # '' / '/' / '//' → '/' — a fixed point, so re-canonicalizing an
    # already-canonical url never moves it to a different dedup group
    stripped = F.regexp_replace(path, "/+$", "")
    path2 = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    canon = F.concat(
        scheme, F.lit("://"), host,
        F.when(port != "", F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path2,
        F.when(qs2 != "", F.concat(F.lit("?"), qs2)).otherwise(F.lit("")))
    # not an absolute URL we understand (no scheme, or userinfo in the
    # authority) → pass through trimmed, never mangled
    return F.when((p3 > 0) & (F.instr(hostport, "@") == 0), canon) \
            .otherwise(u)


def url_dedup_groups(df: DataFrame, url_col: str = "url",
                     id_col: str = "doc_id") -> DataFrame:
    """Alias groups under canonicalization: one row per canonical URL with
    the copy count and the kept (minimum) id — the url analog of
    ``exact_dedup_groups``. One shuffle, keyed by the canonical string."""
    return (
        df.withColumn("canon_url", canonicalize_url(F.col(url_col)))
        .groupBy("canon_url")
        .agg(F.count(F.lit(1)).alias("n_copies"),
             F.min(id_col).alias("keep_id"))
    )


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row per canonical URL (the minimum id — stable,
    engine-independent). Same single shuffle as ``url_dedup_groups``."""
    canon = df.withColumn("canon_url", canonicalize_url(F.col(url_col)))
    keep = (canon.groupBy("canon_url")
            .agg(F.min(id_col).alias(id_col)))
    return canon.join(keep, ["canon_url", id_col])


def host_of(col: Column) -> Column:
    """Lowercased registered host of an absolute URL: the authority with
    userinfo and port stripped. Pure JVM expression (RE2-safe pattern —
    replayable verbatim in DuckDB's regexp_extract). Non-URL strings
    yield ''."""
    return F.lower(F.regexp_extract(
        F.trim(col), r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)", 1))


def host_suffixes(host: Column) -> Column:
    """All dot-suffixes of a host, longest first: ``a.b.co`` →
    ``['a.b.co', 'b.co', 'co']`` — the relation a domain blocklist joins
    against so that an entry blocks its subdomains too (the public
    UT1/RefinedWeb blocklists are registered-domain lists). Bounded by
    the label count (browsers cap hostnames at 253 bytes), so the
    explode below is a constant-factor expansion, never a blowup."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."))


def url_blocklist_filter(
    df: DataFrame,
    blocked_hosts: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    soft_words: list[str] | None = None,
    max_soft_hits: int = 1,
) -> DataFrame:
    """RefinedWeb-style URL filtering: drop documents whose host (or any
    parent domain) is on a blocklist, and documents whose URL accumulates
    too many "soft" flagged words. Returns the KEPT rows with
    (id, url, host, n_soft_hits).

    ``blocked_hosts``: a one-column ``host`` relation (lowercase
    registered domains). Public lists run to millions of rows — far past
    an IN-literal, so membership is a join and Spark picks it from the
    list's size: a broadcast while it fits the auto-broadcast threshold,
    a shuffle join past it.

    Scale shape (100 TB): hosts explode into ≤ label-count suffix rows
    (slim: id + suffix string); the suffix join marks blocked ids and a
    left_anti on the id removes them. With a broadcast blocklist the only
    corpus shuffle is the anti-join's id-keyed exchange, and AQE converts
    even that to a broadcast when the blocked-id set is small. The
    soft-word score is a pure JVM expression chain (no join at all).

    Reference: the reference system has no URL layer (it enumerates local
    files, /root/reference/ocr/pdf.py); this operator covers the URL-
    filtering stage every public web-curation pipeline runs ahead of
    content filters (RefinedWeb §3.1 "URL filtering", C4's blocklist)."""
    host = host_of(F.col(url_col)).alias("host")
    base = df.select(F.col(id_col), F.col(url_col), host)

    lurl = F.lower(F.col(url_col))
    n_hits: Column = F.lit(0)
    for w in soft_words or []:
        n_hits = n_hits + F.when(F.contains(lurl, F.lit(w)), 1).otherwise(0)
    base = base.withColumn("n_soft_hits", n_hits.cast("int"))

    blocked_ids = (
        base.select(id_col, F.explode(host_suffixes(F.col("host"))).alias("h"))
        .join(blocked_hosts.select(F.col("host").alias("h")), "h")
        .select(id_col))
    return (base.join(blocked_ids, id_col, "left_anti")
            .filter(F.col("n_soft_hits") <= max_soft_hits))
