"""URL canonicalization (r7) — the normalization pass that makes
URL-keyed crawl operators (dedup_latest, per-domain caps, URL-level
blocklists) see through cosmetic variation. Common-Crawl-style
corpora carry the same page as `HTTP://Example.COM:80/a?utm_source=x`
and `http://example.com/a`; keying on the raw string under-deduplicates
exactly the hottest pages (they collect the most tracking-tagged
inbound links).

Canonical form (one pure-Catalyst expression, no UDF; the DuckDB twin
is string-equal — shared Java-regex/RE2 dialect throughout):

  1. fragment dropped (`#...` never reaches the server);
  2. URLs without a `scheme://` are returned fragment-stripped but
     otherwise untouched (not parseable as web URLs);
  3. scheme and host lowercased; userinfo dropped; a single trailing
     dot on the host dropped (DNS-equivalent); bracketed IPv6 hosts
     pass through;
  4. default ports dropped (`:80` for http, `:443` for https); other
     ports kept;
  5. empty path becomes `/`;
  6. query params split on `&`: empties and tracking params dropped
     (utm_*, gclid, fbclid, msclkid, yclid, igshid, mc_cid, mc_eid,
     _ga, ref — the de-facto analytics/click-id set), survivors
     sorted bytewise and rejoined; an emptied query drops its `?`.

Percent-encoding is deliberately NOT rewritten: %-normalization
(case, unreserved decoding) changes bytes servers may treat as
significant, and the cost of skipping it is only missed merges, never
wrong merges — the safe side of the tradeoff for dedup keys.

100 TB shape: a narrow per-row expression — no shuffle, no Python,
whole-stage-codegen friendly; feeds the max_by dedup and the domain
cap without changing their plans.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["canonical_url_col", "TRACKING_PARAM_RE"]

# name(=value)? of analytics/click-tracking params; anchored, shared
# Java/RE2 dialect ('(=|$)' so 'refresh=1' survives while 'ref=x' and
# bare 'ref' drop)
TRACKING_PARAM_RE = (
    r"^(utm_[^=&]*|gclid|fbclid|msclkid|yclid|igshid|mc_cid|mc_eid"
    r"|_ga|ref)(=.*)?$"
)

_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_HOST_IN_HP_RE = r"^(\[[^\]]*\]|[^:]*)"
_PORT_RE = r"(:[0-9]+)$"


def canonical_url_col(url_col: str = "url") -> Column:
    u = F.regexp_replace(F.col(url_col), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    rest = F.regexp_replace(u, _SCHEME_RE, "")
    authority = F.regexp_extract(rest, r"^([^/?]*)", 1)
    host_port = F.regexp_replace(authority, r"^[^@]*@", "")
    host = F.lower(
        F.regexp_replace(
            F.regexp_extract(host_port, _HOST_IN_HP_RE, 1), r"\.$", ""
        )
    )
    port = F.regexp_extract(host_port, _PORT_RE, 1)
    keep_port = F.when(
        ((scheme == "http") & (port == ":80"))
        | ((scheme == "https") & (port == ":443")),
        F.lit(""),
    ).otherwise(port)
    path = F.regexp_extract(rest, r"^[^/?]*([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    rebuilt = F.concat(
        scheme, F.lit("://"), host, keep_port, path,
        F.when(params == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), params)
        ),
    )
    return F.when(scheme == "", u).otherwise(rebuilt)
