"""URL/domain curation operators — the standard web-corpus companions to
the quality filter: host extraction, blocklist filtering, per-domain doc
caps, per-domain rollups.

Everything here is narrow JVM expressions plus at most one host-keyed
shuffle, so the operators compose with scans and push through the plan.
Host extraction uses regexp_extract with an explicit ASCII class (the
repo's engine-portable regex subset — identical semantics in Spark, RE2,
DuckDB and Python re; Spark's parse_url(url, 'HOST') would work too but
has no DuckDB twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .guards import rank_cap

# scheme://[userinfo@]host[:port]/... → host. Evasion-hardened (review
# r4): userinfo is skipped via a non-capturing group (a URL like
# https://x@spam.example.net would otherwise extract 'x@spam.example.net'
# and slip every blocklist/cap), and matching runs over the LOWERCASED
# url so HTTPS:// schemes and mixed-case hosts fold into one bucket
# (host names are case-insensitive). No match → ''.
HOST_RE = "^[a-z]+://(?:[^/@]*@)?([^/:@]+)"


def host_expr(url_col) -> object:
    """Host of a URL column as a narrow expression ('' when unparseable —
    never NULL, so blocklists and caps treat junk URLs as one bucket)."""
    return F.coalesce(
        F.regexp_extract(F.lower(url_col), HOST_RE, 1), F.lit(""))


def host_sql(url_expr: str) -> str:
    """DuckDB twin of host_expr."""
    return f"coalesce(regexp_extract(lower({url_expr}), '{HOST_RE}', 1), '')"


def with_host(df: DataFrame, url_col: str = "url",
              host_col: str = "host") -> DataFrame:
    return df.withColumn(host_col, host_expr(F.col(url_col)))


# Embedded mini public-suffix table: common multi-label public suffixes
# where the registered domain is THREE labels (example.co.uk), not two.
# A pragmatic subset of the Mozilla PSL — the full list is an external
# artifact this zero-dependency repo deliberately doesn't vendor; pass
# extra entries via the `multi_suffixes` parameter when you carry one.
MULTI_LABEL_SUFFIXES = (
    "ac.uk", "co.uk", "gov.uk", "org.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "co.in", "net.in", "org.in", "co.kr", "or.kr",
    "co.nz", "net.nz", "org.nz", "co.za", "org.za",
    "com.mx", "com.ar", "com.tr", "com.sg", "com.hk", "com.tw",
)


def registered_domain_expr(host_col,
                           multi_suffixes: tuple[str, ...] =
                           MULTI_LABEL_SUFFIXES) -> object:
    """Reduce a host to its registered domain (eTLD+1):
    a.spam.example.net → example.net; shop.example.co.uk →
    example.co.uk (via the embedded multi-label suffix table). Hosts
    with ≤ 2 labels pass through. Narrow expressions only."""
    parts = F.split(host_col, "[.]")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2),
                        F.element_at(parts, -1))
    last3 = F.concat_ws(".", F.element_at(parts, -3),
                        F.element_at(parts, -2), F.element_at(parts, -1))
    return (F.when(n <= 2, host_col)
            .when(last2.isin(*multi_suffixes) & (n >= 3), last3)
            .otherwise(last2))


def registered_domain_sql(host_expr: str,
                          multi_suffixes: tuple[str, ...] =
                          MULTI_LABEL_SUFFIXES) -> str:
    """DuckDB twin of registered_domain_expr."""
    quoted = ", ".join("'" + s + "'" for s in multi_suffixes)
    return f"""(
  SELECT CASE WHEN len(p) <= 2 THEN {host_expr}
              WHEN len(p) >= 3 AND (p[-2] || '.' || p[-1]) IN ({quoted})
                THEN p[-3] || '.' || p[-2] || '.' || p[-1]
              ELSE p[-2] || '.' || p[-1] END
  FROM (SELECT string_split({host_expr}, '.') AS p)
)"""


def _host_suffix_chain(host_col) -> object:
    """All dot-suffixes of a host: a.spam.example.net →
    [a.spam.example.net, spam.example.net, example.net, net] — the
    bounded explode (≤ label count, ~10) behind suffix blocklisting."""
    parts = F.split(host_col, "[.]")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n), "."))


def blocklist_filter(df: DataFrame, blocked_hosts: list[str],
                     host_col: str = "host",
                     match: str = "exact") -> DataFrame:
    """Drop documents whose host is on the blocklist. A literal list
    becomes a broadcast anti-join (blocklists are small — 10^4..10^6
    hosts — and the corpus must never shuffle for one); pass a DataFrame
    of (host) instead for a blocklist too large to broadcast.

    match='exact' (default) keys on the exact host string — which a
    subdomain trivially evades (a.spam.example.net vs the blocked
    spam.example.net; r4 ADVICE). match='suffix' closes that: each row's
    host explodes into its dot-suffix chain (bounded by label count) and
    a row is dropped when ANY suffix is blocked, so blocking
    spam.example.net also blocks every subdomain while leaving sibling
    other.example.net alone. Still one broadcast anti-join — the explode
    multiplies rows ~5-10x before the join prunes, never shuffles."""
    if match not in ("exact", "suffix"):
        raise ValueError(f"blocklist_filter: unknown match={match!r}")
    if isinstance(blocked_hosts, DataFrame):
        bl = blocked_hosts.select(F.col(blocked_hosts.columns[0])
                                  .alias(host_col))
        bcast = bl
    else:
        spark = df.sparkSession
        bl = spark.createDataFrame([(h,) for h in blocked_hosts],
                                   f"{host_col} string")
        bcast = F.broadcast(bl)
    if match == "exact":
        return df.join(bcast, host_col, "left_anti")
    chained = df.withColumn(
        "_sfx", F.explode(_host_suffix_chain(F.col(host_col))))
    hit = (chained.join(bcast.withColumnRenamed(host_col, "_sfx"),
                        "_sfx").select(host_col).distinct())
    return df.join(hit, host_col, "left_anti")


def domain_caps(df: DataFrame, max_per_host: int,
                host_col: str = "host",
                id_col: str = "doc_id",
                key: str = "host") -> DataFrame:
    """Per-domain document cap (anti-spam / diversity): keep at most
    `max_per_host` docs per host — deterministically the smallest ids, so
    the kept set is reproducible across runs and engines.

    key='host' buckets each exact host separately — a hot domain can
    mint subdomains to evade the cap (r4 ADVICE); key='registered' caps
    at eTLD+1 granularity (registered_domain_expr), so every subdomain
    of example.net shares one bucket.

    One host-keyed shuffle — and Catalyst inserts a PARTIAL
    WindowGroupLimit before it (verified via .explain: each map task
    keeps only its local top-max_per_host rows per host pre-shuffle), so
    a hot domain never even ships its full row set, let alone sorts it
    in one partition; the residual reduce-side sort is over ≤
    max_per_host · n_map_tasks rows per host. That pre-trim exists ONLY
    while max_per_host ≤ spark.sql.optimizer.windowGroupLimitThreshold
    (1000) — a larger cap warns (operators/guards.py)."""
    if key == "registered":
        cap_key = registered_domain_expr(F.col(host_col))
    elif key == "host":
        cap_key = F.col(host_col)
    else:
        raise ValueError(f"domain_caps: unknown key={key!r}")
    return rank_cap(df, [cap_key], id_col, max_per_host, "max_per_host")


def domain_stats(df: DataFrame, host_col: str = "host",
                 text_col: str = "text") -> DataFrame:
    """Per-domain rollup (the audit view the caps/blocklists are tuned
    from): docs and total chars per host. Map-side combinable."""
    return (df.groupBy(host_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.coalesce(F.length(text_col), F.lit(0)))
                 .cast("long").alias("n_chars")))


def domain_caps_sql(source_sql: str, max_per_host: int,
                    blocked_hosts: list[str] | None = None,
                    url_expr: str = "url") -> str:
    """DuckDB twin of with_host → blocklist_filter → domain_caps over any
    (doc_id, ..., url) source."""
    where = ""
    if blocked_hosts:
        quoted = ", ".join("'" + h.replace("'", "''") + "'"
                           for h in blocked_hosts)
        where = f"WHERE host NOT IN ({quoted})"
    return f"""
WITH src AS ({source_sql}),
h AS (SELECT doc_id, {host_sql(url_expr)} AS host FROM src),
b AS (SELECT * FROM h {where}),
r AS (SELECT doc_id, host,
        row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rk
      FROM b)
SELECT doc_id, host FROM r WHERE rk <= {max_per_host}
"""


def domain_stats_sql(source_sql: str, url_expr: str = "url") -> str:
    """DuckDB twin of with_host → domain_stats."""
    return f"""
WITH src AS ({source_sql})
SELECT {host_sql(url_expr)} AS host,
  count(*) AS n_docs,
  CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS n_chars
FROM src GROUP BY 1
"""
