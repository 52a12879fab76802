"""URL canonicalization + canonical-URL dedup for web corpora.

Common-Crawl-style pipelines dedup fetches of the SAME resource that
differ only in URL spelling: scheme/host case, default ports, fragment,
tracking parameters (utm_*, gclid, fbclid), empty query strings, and
query-parameter order.  Canonicalization rewrites every URL to one
normal form so a plain exact dedup on the canonical string collapses
them — no fuzzy matching, no shuffle beyond the final groupBy.

Everything here is pure JVM expression (regexp_extract /
regexp_replace / split / array_sort / concat): whole-stage codegen,
no Python, no higher-order-function lambdas (array_sort is used with
its natural string ordering, which is the same binary ordering DuckDB's
list_sort applies — byte-identical for the ASCII charset URLs live in).
Every rewrite is replayed by an exact DuckDB twin (`sql_url_canonical`)
built from the same patterns in the same order; the patterns are in the
java.regex ∩ RE2 subset (no lookaround, no backreferences).

Canonical form (applied in this order):
1. lowercase the scheme and the host[:port]
2. drop the fragment (#... to end)
3. drop tracking params utm_*/gclid/fbclid (value and separator)
4. drop a default port (:80 on http, :443 on https)
5. sort remaining query params byte-lexicographically
6. drop an empty query ('?' with nothing after it)
7. drop a single trailing slash on a non-root path (both at the end
   of the URL and immediately before the query string)

The reference has no URL operator (its keys are tile ids); this module
is part of the engine's training-data surface (brief: "the operations
a large-scale training-data pipeline would need").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import min_id_survivors

__all__ = [
    "url_canonical", "url_dedup", "sql_url_canonical",
    "url_host", "host_suffixes", "url_blocklist_filter",
]

# (java_pattern == re2_pattern for every entry — kept as one string)
_TRACK = r"(?:utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&#]*"


def url_canonical(url: Column) -> Column:
    """Canonical form of `url` as a pure-JVM expression chain."""
    u = F.coalesce(url, F.lit(""))
    # 1. lowercase scheme://host[:port] (authority ends at /, ?, or #)
    scheme_host = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    u = F.concat(scheme_host, rest)
    # 2. drop fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # 3. drop tracking params: as first param (keep the '?'), as a
    #    later param (eat the '&'), repeated-pass-free because the 'g'
    #    flag handles every non-overlapping occurrence and the two
    #    rewrites cannot re-create each other's pattern
    u = F.regexp_replace(u, r"&" + _TRACK, "")
    u = F.regexp_replace(u, r"\?" + _TRACK + r"&", "?")
    u = F.regexp_replace(u, r"\?" + _TRACK + r"$", "")
    # 4. default ports
    u = F.regexp_replace(u, r"^(http://[^/?#:]*):80(?=[/?#]|$)", "$1")
    u = F.regexp_replace(u, r"^(https://[^/?#:]*):443(?=[/?#]|$)", "$1")
    # 5. sort query params (split on '?': base + query)
    base = F.regexp_extract(u, r"^([^?]*)", 1)
    query = F.regexp_extract(u, r"^[^?]*\?(.*)$", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&", -1)), "&")
    u = F.when(query == "", base).otherwise(F.concat(base, F.lit("?"), sorted_q))
    # 6. empty query
    u = F.regexp_replace(u, r"\?$", "")
    # 7. single trailing slash on a non-root path — at end of URL or
    #    just before the query (unmatched optional group substitutes ""
    #    in both java.regex and RE2)
    u = F.regexp_replace(
        u,
        r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*/[^?#]*[^/?#])/(\?.*)?$",
        "$1$2",
    )
    return u


def sql_url_canonical(url: str = "url") -> str:
    """DuckDB twin of url_canonical: identical patterns, same order.
    Returns a SQL expression over column/expression `url`."""
    u = f"COALESCE({url}, '')"
    sh = f"LOWER(REGEXP_EXTRACT({u}, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))"
    rest = f"REGEXP_REPLACE({u}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '')"
    u = f"({sh} || {rest})"
    u = f"REGEXP_REPLACE({u}, '#.*$', '')"
    u = f"REGEXP_REPLACE({u}, '&{_TRACK}', '', 'g')"
    u = f"REGEXP_REPLACE({u}, '\\?{_TRACK}&', '?', 'g')"
    u = f"REGEXP_REPLACE({u}, '\\?{_TRACK}$', '')"
    # RE2 has no lookahead: spell the default-port rule with a captured
    # tail instead of (?=...) — same language, same rewrite
    u = f"REGEXP_REPLACE({u}, '^(http://[^/?#:]*):80([/?#].*)?$', '\\1\\2')"
    u = f"REGEXP_REPLACE({u}, '^(https://[^/?#:]*):443([/?#].*)?$', '\\1\\2')"
    base = f"REGEXP_EXTRACT({u}, '^([^?]*)', 1)"
    query = f"REGEXP_EXTRACT({u}, '^[^?]*\\?(.*)$', 1)"
    sq = f"ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT({query}, '&')), '&')"
    u = f"(CASE WHEN {query} = '' THEN {base} ELSE {base} || '?' || {sq} END)"
    u = f"REGEXP_REPLACE({u}, '\\?$', '')"
    u = (
        f"REGEXP_REPLACE({u}, "
        f"'^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*/[^?#]*[^/?#])/(\\?.*)?$', "
        f"'\\1\\2')"
    )
    return u


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """The rows of the lowest id per CANONICAL url (`min_id_survivors`,
    skew-safe for a hot redirect target): `df`'s columns + url_canon."""
    canon = df.withColumn("url_canon", url_canonical(F.col(url_col)))
    return min_id_survivors(canon, F.col("url_canon"), id_col)


def url_host(url: Column) -> Column:
    """Lowercased host of `url` (authority minus scheme and port;
    userinfo is out of the supported grammar — web-corpus URLs do not
    carry it).  Pure JVM; pattern in the java.regex ∩ RE2 subset."""
    return F.lower(F.regexp_extract(
        F.coalesce(url, F.lit("")),
        r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)", 1,
    ))


def host_suffixes(df: DataFrame, host_col: str = "host") -> DataFrame:
    """One row per (row, domain suffix): host a.b.example.com yields
    a.b.example.com / b.example.com / example.com / com.  This turns
    suffix matching (block a registered domain and every subdomain)
    into an EQUI-join a blocklist table can broadcast against — the
    standard trick that keeps domain filtering off non-equi joins at
    corpus scale.  Map-only x label-count (~4); posexplode + slice +
    array_join are plain built-ins, no HOF lambda reaches the plan."""
    labels = F.split(F.col(host_col), r"\.")
    return (
        df.withColumn("_labels", labels)
        .select(
            "*",
            F.posexplode("_labels").alias("_pos", "_lab"),
        )
        .withColumn(
            "suffix",
            F.array_join(
                F.slice(
                    "_labels",
                    F.col("_pos") + 1,
                    F.size("_labels") - F.col("_pos"),
                ),
                ".",
            ),
        )
        .drop("_labels", "_pos", "_lab")
    )


def url_blocklist_filter(
    df: DataFrame,
    blocked_hosts: DataFrame,
    blocked_fragments: list[str] | None = None,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4/RefinedWeb-style URL filtering: (id, host, reason) for every
    input row — reason = 'host' if the host or ANY parent domain is in
    `blocked_hosts` (one column `blocked`), else 'fragment' if the
    lowercased URL contains any of `blocked_fragments` (the C4
    bad-words-in-URL rule), else NULL (kept).

    Scale shape: the host path is suffix-explode (map-only) + ONE
    broadcast equi-semi-join + a distinct over BLOCKED ids only (the
    small side); the fragment path is an OR of literal `contains`
    predicates — map-only, zero shuffle.  At 100 TB the blocklist
    (1e4-1e6 rows) broadcasts; the fact table never shuffles except
    the blocked-id distinct, which is bounded by the blocked subset.
    """
    base = df.select(
        F.col(id_col), F.col(url_col),
        url_host(F.col(url_col)).alias("host"),
    )
    bl = F.broadcast(
        blocked_hosts.select(F.lower(F.col("blocked")).alias("suffix"))
        .distinct()
    )
    host_hits = (
        host_suffixes(base.select(id_col, "host"))
        .join(bl, "suffix", "leftsemi")
        .select(id_col).distinct()
        .withColumn("_host_hit", F.lit(True))
    )
    frag = F.lit(False)
    for f in blocked_fragments or []:
        frag = frag | F.contains(F.lower(F.col(url_col)), F.lit(f.lower()))
    return (
        base.withColumn("_frag_hit", frag)
        .join(host_hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("host"),
            F.when(F.col("_host_hit"), F.lit("host"))
            .when(F.col("_frag_hit"), F.lit("fragment"))
            .otherwise(F.lit(None).cast("string"))
            .alias("reason"),
        )
    )
