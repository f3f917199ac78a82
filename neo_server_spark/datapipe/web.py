"""Web-corpus curation operators: URL normalization, host extraction, and
per-domain caps.

These are the dedup/diversity controls a crawl-derived training corpus
applies BEFORE text-level dedup (the reference engine has no web layer;
this extends the pipeline the way CommonCrawl-style curation does):

- normalize_url: canonicalize scheme/host case, strip fragments, default
  ports and tracking parameters, so URL-level exact dedup keys match.
- url_host / url_domain: grouping keys for per-site statistics.
- domain_caps: keep at most N documents per domain, chosen by a
  deterministic hash order (not arrival order) so the sample is stable
  and unbiased across reruns and repartitions.

All pure ``pyspark.sql.functions`` expressions — JVM-side, codegen'd, no
UDFs; per-domain capping is one window rank over the domain key.  At
100 TB the only shuffle is the rank's hash partition on domain (skewed
mega-domains are exactly what the cap cuts, so the skew self-limits:
rank > cap rows short-circuit).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

#: tracking query parameters stripped by normalize_url (the common
#: analytics suffixes; the list is deliberately conservative)
TRACKING_PARAMS = ("utm_source", "utm_medium", "utm_campaign", "utm_term",
                   "utm_content", "gclid", "fbclid", "ref")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_url(url: Column | str) -> Column:
    """Canonical URL: lowercase scheme+host, strip '#fragment', default
    :80/:443 ports, tracking params and trailing '?' debris.

    Every pattern is RE2-safe (no lookarounds) so the SAME regex chain is
    expressible in the DuckDB oracle verbatim."""
    u = _c(url)
    # lowercase scheme://host[:port] only — paths stay case-sensitive
    head = F.lower(F.regexp_extract(
        u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1))
    tail = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    u = F.concat(head, tail)
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"^(https://[^/?#:]+):443([/?#].*)?$", "$1$2")
    u = F.regexp_replace(u, r"^(http://[^/?#:]+):80([/?#].*)?$", "$1$2")
    for p in TRACKING_PARAMS:
        # mid-query param keeps its separator for the NEXT param...
        u = F.regexp_replace(u, rf"([?&]){p}=[^&#]*&", "$1")
        # ...a trailing param takes its separator with it
        u = F.regexp_replace(u, rf"[?&]{p}=[^&#]*$", "")
    return u


def url_host(url: Column | str) -> Column:
    """Lowercased host (no port, no credentials)."""
    u = _c(url)
    return F.lower(F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^@/]*@)?([^:/?#]+)", 1))


def url_domain(url: Column | str) -> Column:
    """Registrable-ish domain: the last two host labels (good enough for
    per-site capping without a public-suffix list; 'www.' is dropped)."""
    h = F.regexp_replace(url_host(url), r"^www\.", "")
    return F.regexp_extract(h, r"([^.]+\.[^.]+)$", 1)


def domain_caps(docs: DataFrame, url_col: str = "url", cap: int = 2,
                id_col: str = "doc_id") -> DataFrame:
    """Keep at most ``cap`` documents per domain, selected by md5(id)
    order — a deterministic uniform sample within each domain (arrival
    order would bias toward whatever the crawler fetched first)."""
    from pyspark.sql.window import Window
    d = docs.withColumn("__dom", url_domain(F.col(url_col)))
    w = Window.partitionBy("__dom").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (d.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= cap)
            .drop("__rk"))

