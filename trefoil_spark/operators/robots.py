"""robots.txt parsing + URL gating (late r7) — the politeness layer a
crawl-derived corpus is expected to honor retroactively: given the
robots.txt bodies a crawl captured (one per host), drop documents
whose URL the site disallowed for the crawler's user-agent.

RFC 9309 subset implemented (and stated as the contract):
  * groups = consecutive `User-agent:` lines followed by rules; a rule
    line belongs to the nearest preceding group;
  * group selection: groups naming the requested agent exactly
    (case-insensitive) win; if none exist, groups naming `*` apply —
    the RFC's most-specific-agent rule collapsed to exact-vs-wildcard
    (no prefix-matching of product tokens);
  * matching: longest-prefix match between the URL path and all
    Allow/Disallow values of the selected groups; Allow wins ties at
    equal length (RFC 9309 §2.2.2); empty Disallow means allow-all;
    no `*`/`$` wildcard support (raising fidelity documented out).

Everything is relational: per-host line explode → two windows
PARTITIONED BY HOST (robots files are KBs, so a host's partition is
tiny and the window never sees corpus-scale data) → a host-keyed
equi-join from URLs to rules with a max_by longest-match pick. DuckDB
twin mirrors the same windows and the same tie-break struct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .textstats import url_host_col, url_path_col

__all__ = ["parse_robots_rules", "gate_disallowed_urls"]


def parse_robots_rules(robots: DataFrame, agent: str = "*",
                       host_col: str = "host",
                       body_col: str = "body") -> DataFrame:
    """(host, body) → (host, allow boolean, prefix string) rules for
    `agent` (exact case-insensitive match, falling back to `*` groups
    when the agent has no group on that host)."""
    agent = agent.lower()
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(body_col), r"\r?\n")).alias("idx", "raw"),
    ).select(
        "host", "idx",
        # comments stripped, whitespace trimmed
        F.trim(F.regexp_replace("raw", r"#.*$", "")).alias("line"),
    )
    parsed = lines.select(
        "host", "idx",
        F.lower(F.regexp_extract("line", r"^([A-Za-z-]+)\s*:", 1)).alias("key"),
        F.trim(F.regexp_extract("line", r"^[A-Za-z-]+\s*:(.*)$", 1)).alias("val"),
    ).filter(F.col("key").isin("user-agent", "allow", "disallow"))
    w = Window.partitionBy("host").orderBy("idx")
    is_ua = (F.col("key") == "user-agent").cast("int")
    prev_ua = F.coalesce(
        F.lag(is_ua, 1).over(w), F.lit(0)
    )
    grouped = parsed.withColumn(
        "grp",
        F.sum(
            F.when((is_ua == 1) & (prev_ua == 0), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    agents = (
        grouped.filter(F.col("key") == "user-agent")
        .groupBy("host", "grp")
        .agg(
            F.max(
                (F.lower(F.col("val")) == agent).cast("int")
            ).alias("has_agent"),
            F.max(
                (F.col("val") == "*").cast("int")
            ).alias("has_star"),
        )
    )
    # fallback: exact-agent groups if any exist on the host, else *
    host_has_agent = agents.groupBy("host").agg(
        F.max("has_agent").alias("host_has_agent")
    )
    selected = (
        agents.join(host_has_agent, "host")
        .filter(
            ((F.col("host_has_agent") == 1) & (F.col("has_agent") == 1))
            | ((F.col("host_has_agent") == 0) & (F.col("has_star") == 1))
        )
        .select("host", "grp")
    )
    return (
        grouped.filter(F.col("key").isin("allow", "disallow"))
        .join(selected, ["host", "grp"])
        .filter(F.col("val") != "")  # empty Disallow = allow-all: no rule
        .select(
            "host",
            (F.col("key") == "allow").alias("allow"),
            F.col("val").alias("prefix"),
        )
        .distinct()
    )


def gate_disallowed_urls(docs: DataFrame, rules: DataFrame,
                         url_col: str = "url") -> DataFrame:
    """Drop docs whose URL path longest-prefix-matches a Disallow rule
    of its host (Allow wins length ties). One host-keyed join; the
    longest-match pick is a map-side-combining max_by over
    (prefix_len, allow) — allow=true sorts above disallow at equal
    length, implementing the RFC tie-break."""
    host = F.lower(url_host_col(url_col))
    path = url_path_col(url_col)
    keyed = docs.select(
        F.col(url_col).alias("__url"),
        host.alias("__host"),
        F.when(path == "", "/").otherwise(path).alias("__path"),
    ).distinct()
    matched = (
        keyed.join(rules, keyed["__host"] == rules["host"])
        .filter(F.col("__path").startswith(F.col("prefix")))
        .groupBy("__url")
        .agg(
            F.max_by(
                "allow",
                F.struct(F.length("prefix").alias("l"), F.col("allow")),
            ).alias("winner_allow")
        )
    )
    blocked = matched.filter(~F.col("winner_allow")).select(
        F.col("__url").alias(url_col)
    )
    return docs.join(blocked, url_col, "left_anti")
