"""Domain/URL-level corpus gating — the C4/RefinedWeb web-pipeline
stage that runs before any dedup (Raffel et al. 2020, C4 §2.2; Penedo
et al. 2023, RefinedWeb §3.1 "URL filtering"): extract the host from
each document's URL, drop documents whose host is on a blocklist, and
cap how many documents any single host may contribute.

Reference analog: the filter/group-limit surface this composes from is
fiat2's EFilter + the per-group top-k idiom (fiat2/src/fiat2/
Interpret.v:369-404, Interpret.v:212-238). Spark-first realization:
host extraction is a scan-side codegen'd regexp projection, the
blocklist drop is a BROADCAST hash anti-join — the corpus never
shuffles for the drop decision (plan-asserted in tests) — and the
per-domain cap is the rank-limit shape Catalyst rewrites to
WindowGroupLimit (group-local partial limit before the exchange).

At 100 TB: the blocklist is model-sized (broadcast); host extraction
and the anti-join are one scan pipeline with zero corpus movement; the
only shuffle is the per-domain cap's host-keyed exchange, which
carries (id, host) pairs — never text — and WindowGroupLimit trims
each map-side partition to ``max_per_domain`` rows per host first, so
a megahost contributes at most tasks×cap rows to the exchange, not its
full document set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# authority = [userinfo@]host[:port]; capture the host only. Plain
# character classes + a non-capturing group, so the IDENTICAL pattern
# runs under Java regex (Spark) and RE2 (DuckDB oracles).
URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)"


def url_host(url: Column) -> Column:
    """Lowercased host of an absolute URL — the authority minus
    userinfo and port. A regexp_extract, NOT Spark's parse_url, so a
    DuckDB oracle recomputes the identical value; unparseable strings
    yield ''."""
    return F.lower(F.regexp_extract(url, URL_HOST_RE, 1))


def domain_filter(
    df: DataFrame,
    id_col: str,
    url_col: str,
    blocked: DataFrame,
    max_per_domain: int,
) -> DataFrame:
    """C4/RefinedWeb-style domain gate. ``blocked``'s FIRST column is
    the blocklisted-host relation (must be broadcast-small — it is a
    curated list, model-sized by construction). Returns (doc, host)
    for every surviving document: host not blocklisted, and within the
    first ``max_per_domain`` documents of its host by ascending id
    (the deterministic keep-first rule the dedup family uses).

    Plan shape: scan-side host projection → broadcast LEFT ANTI hash
    join (no corpus exchange for the drop) → row_number ≤ k that
    Catalyst executes as WindowGroupLimit (partial per-partition limit
    before the host-keyed exchange)."""
    from pyspark.sql import Window as W

    hosts = df.select(
        F.col(id_col).alias("doc"), url_host(F.col(url_col)).alias("host")
    )
    bl = blocked.select(F.col(blocked.columns[0]).alias("host"))
    kept = hosts.join(F.broadcast(bl), "host", "left_anti")
    rn = F.row_number().over(W.partitionBy("host").orderBy("doc"))
    return (
        kept.withColumn("rn", rn)
        .filter(F.col("rn") <= max_per_domain)
        .select("doc", "host")
    )


def url_normalize(url: Column) -> Column:
    """Canonical URL — the exact-dedup KEY every crawl pipeline applies
    before any content dedup: lowercase scheme and host, strip
    userinfo, strip the port when it is the scheme default (http:80 /
    https:443) but keep a non-default one, drop query and fragment,
    trim trailing '/' runs from the path. Pure regexp/string
    expressions (codegen'd, oracle-recomputable); unparseable URLs
    normalize to ''."""
    scheme = F.lower(F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = url_host(url)
    port = F.regexp_extract(
        url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?[^/:?#]+:([0-9]+)", 1
    )
    keep_port = F.when(
        (port == "")
        | ((scheme == F.lit("http")) & (port == "80"))
        | ((scheme == F.lit("https")) & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1),
        r"/+$",
        "",
    )
    return F.when(host == "", F.lit("")).otherwise(
        F.concat(scheme, F.lit("://"), host, keep_port, path)
    )


def url_dedup(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """Exact URL dedup by normalized URL: one representative per
    canonical URL (smallest id — the keep-first rule), with the
    duplicate count. One partial-agg pass keyed on the normalized
    string; text never moves. Returns (url_norm, keeper, n_dups)."""
    return (
        df.select(
            F.col(id_col).alias("doc"), url_normalize(F.col(url_col)).alias("url_norm")
        )
        .groupBy("url_norm")
        .agg(
            F.min("doc").alias("keeper"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_dups"),
        )
    )
