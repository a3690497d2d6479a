"""URL canonicalization for crawl-scale URL-level deduplication.

The first dedup every web pipeline runs (before any content hashing):
two fetches of the same page differ only in tracking query params,
fragments, host case, default ports, or a trailing slash — canonicalize
and group. Pure Catalyst regexp chain (JVM, codegen); every regex stays
in the common Java-regex/RE2 subset — no lookaround and no
backreference REPLACEMENTS (Spark spells them $1, DuckDB \\1; staying
literal keeps the two chains mechanically identical).

Rules, in order (each motivated by an equivalence RFC 3986 §6 allows):
  0. strip surrounding whitespace — not only hygiene: Java regex lets a
     bare '$' match BEFORE a trailing newline while RE2 ('$' = end of
     text) does not, so every later $-anchored rule would diverge
     between the Spark chain and its DuckDB twin on a '\\n'-terminated
     URL; with the ends stripped the anchors agree (interior newlines
     never match '.'/'[^...]' classes in either engine)
  1. drop the fragment            (#... never reaches the server)
  2. drop tracking params         (utm_*, fbclid — content-neutral),
     anchored at a [?&] boundary  (a param NAMED xutm_a, or a VALUE
     so legit names/values that    containing 'utm_x=', is untouched)
     merely contain 'utm_' survive
  3. mend separators              ('&&..' -> '&', leading '?&' -> '?',
                                   trailing '?'/'&' cut)
     Stages 2-3 run on the QUERY SUBSTRING only (everything from the
     FIRST '?'): there, any unencoded '&' IS a parameter separator by
     parsing rules, so the boundary-anchored rewrites are exact — a
     literal '&utm_x=...' in a PATH segment ('/a&utm_source=x/b') or a
     '?&' inside a query VALUE ('?x=?&b=2') survives untouched (both
     were over-merged when the rules ran globally; flagged in review)
  4. lowercase scheme://authority (scheme+host are case-insensitive per
     and strip the DEFAULT port    RFC 3986 §3.2.2; ':443' only under
     anchored on the authority     https, ':80' only under http — the
                                   same port is NON-default elsewhere.
     Simplification: a userinfo@ part, if present, is lowercased with
     the host; credentialed URLs are out of scope for crawl dedup)
  5. strip the trailing slash of the PATH only ('/p/' -> '/p',
     '/?q' -> '?q') — '/' inside query values is legal and survives

Scale shape: a projection — no shuffle, no Python; the dedup that
follows is one hash aggregate on the canonical string.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# authority prefix = scheme://host[:port] — everything before the first
# path/query/fragment delimiter
_AUTHORITY = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
_TRACK = "(utm_[a-z]+|fbclid)=[^&#]*"
_WS_ENDS = r"^\s+|\s+$"


def canonicalize_url(url: Column | str) -> Column:
    """Canonical form of `url` under the equivalence rules above."""
    u = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(u, _WS_ENDS, "")             # 0. whitespace
    u = F.regexp_replace(u, r"#.*$", "")              # 1. fragment
    head = F.regexp_extract(u, r"^[^?]*", 0)          # pre-'?' part
    q = F.regexp_replace(u, r"^[^?]*", "")            # '' or '?...'
    q = F.regexp_replace(q, rf"^\?{_TRACK}", "?")     # 2. tracking 1st
    q = F.regexp_replace(q, rf"&{_TRACK}", "&")       #    tracking at &
    q = F.regexp_replace(q, r"&&+", "&")              # 3. separators
    q = F.regexp_replace(q, r"^\?&+", "?")
    q = F.regexp_replace(q, r"[?&]+$", "")
    prefix = F.lower(F.regexp_extract(head, _AUTHORITY, 0))
    prefix = F.when(                                   # 4. default port,
        prefix.startswith("https://"),                 #    per scheme
        F.regexp_replace(prefix, r":443$", ""),
    ).when(
        prefix.startswith("http://"),
        F.regexp_replace(prefix, r":80$", ""),
    ).otherwise(prefix)
    path = F.regexp_replace(                           # 5. path slash
        F.regexp_replace(head, _AUTHORITY, ""), r"/$", ""
    )
    return F.concat(prefix, path, q)


def canonical_clean_sql(expr: str) -> str:
    """Stages 0-1 (whitespace, fragment) as DuckDB SQL over `expr` —
    regexes character-identical to the Spark chain (DuckDB
    regexp_replace needs the explicit 'g' flag). Bind the result ONCE (a
    CTE column) and feed it to `canonical_compose_sql`: the compose step
    references its input several times, and inlining this chain at each
    mention multiplies the generated SQL."""
    u = f"regexp_replace({expr}, '{_WS_ENDS}', '', 'g')"
    return f"regexp_replace({u}, '#.*$', '', 'g')"


def canonical_compose_sql(expr: str) -> str:
    """Stages 2-5 (query-scoped tracking + separator mends, authority
    case + default port, path-only trailing slash) over an
    already-cleaned `expr` (ideally a plain column)."""
    head = f"regexp_extract({expr}, '^[^?]*')"
    q = f"regexp_replace({expr}, '^[^?]*', '', 'g')"
    q = f"regexp_replace({q}, '^\\?{_TRACK}', '?', 'g')"
    q = f"regexp_replace({q}, '&{_TRACK}', '&', 'g')"
    q = f"regexp_replace({q}, '&&+', '&', 'g')"
    q = f"regexp_replace({q}, '^\\?&+', '?', 'g')"
    q = f"regexp_replace({q}, '[?&]+$', '', 'g')"
    lowered = f"lower(regexp_extract({head}, '{_AUTHORITY}'))"
    prefix = (
        f"CASE WHEN starts_with({lowered}, 'https://')"
        f" THEN regexp_replace({lowered}, ':443$', '')"
        f" WHEN starts_with({lowered}, 'http://')"
        f" THEN regexp_replace({lowered}, ':80$', '')"
        f" ELSE {lowered} END"
    )
    path = (
        f"regexp_replace(regexp_replace({head}, '{_AUTHORITY}', ''),"
        f" '/$', '')"
    )
    return f"({prefix} || {path} || {q})"

