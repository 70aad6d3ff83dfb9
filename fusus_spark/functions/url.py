"""URL curation expressions: features, canonicalization, URL-level dedup.

Large-scale training pipelines curate by URL before they ever parse a
byte of HTML: domain allow/block lists, tracking-parameter stripping,
and canonical-URL dedup (the same page fetched as http/https,
with/without utm_* tags, with/without fragment). Everything here is a
column EXPRESSION built from JVM regex/string functions — whole-stage
codegen, zero Python, zero shuffle until the caller aggregates — and
every pattern is RE2-compatible so a DuckDB oracle reproduces the
results bit-for-bit (cross-checked in tests/test_url.py the same way
the registry queries are driver-checked).

Reference role analog: the page-selection/filtering front door of the
reference's book scan (fusus/book.py:189-240 file filtering) — here the
"file name" is the url.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves the hints here
from pyspark.sql import Column, DataFrame, functions as F

from fusus_spark.session import drop_zip_finders

# scheme://host[:port]/path?query#fragment — RE2-safe piecewise extracts.
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
# non-greedy prefix anchored before the first '#': a '?' INSIDE the
# fragment (http://h/p#sec?x) is not a query separator
_QUERY_RE = r"^[^#]*?\?([^#]*)"


def url_host(url) -> Column:
    """Lowercased registrable host (userinfo/port stripped)."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def idna_fold(host) -> Column:
    """Unicode form of a lowercased host: ``xn--`` punycode labels are
    decoded via stdlib ``encodings.idna.ToUnicode`` so ``bücher.de``
    and ``xn--bcher-kva.de`` unify under one host/domain key (IDN
    twins are the same site; unfolded they defeat host policy and
    URL-level dedup at crawl scale).

    The one Python surface in this module, and deliberately Arrow-
    batched: the hot path is a vectorized ``str.contains('xn--')``
    mask over the whole batch — punycode hosts are a small fraction of
    any real crawl — and only the masked rows pay the per-label decode
    loop. Undecodable labels (junk punycode) stay verbatim, so the
    fold is total and idempotent; ASCII hosts pass through untouched.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def fold(hosts: pd.Series) -> pd.Series:
        drop_zip_finders()
        import encodings.idna as stdlib_idna

        mask = hosts.str.contains("xn--", na=False)
        if not mask.any():
            return hosts

        def one(h: str) -> str:
            out = []
            for lab in h.split("."):
                if lab.startswith("xn--"):
                    try:
                        lab = stdlib_idna.ToUnicode(lab)
                    except UnicodeError:
                        pass  # junk punycode: keep the raw label
                out.append(lab)
            return ".".join(out)

        res = hosts.copy()
        res[mask] = hosts[mask].map(one)
        return res

    return fold(host)


def url_path(url) -> Column:
    """Path component ('' for bare host urls)."""
    return F.regexp_extract(url, _PATH_RE, 1)


def url_domain(url, fold_idna: bool = False) -> Column:
    """Registrable domain of the url's host, public-suffix-list backed:
    ``a.b.example.co.uk`` -> ``example.co.uk`` (the last-two-labels
    heuristic would return ``co.uk`` and mis-aggregate every
    ccTLD-registered host). Pure-JVM InSet lookups over the static PSL
    snapshot — see functions/psl.py; '' when the host IS a public
    suffix or has no dot. ``fold_idna=True`` decodes punycode labels
    first (``idna_fold``) so IDN twins share one domain key — off by
    default because it adds the module's only Python stage."""
    from fusus_spark.functions.psl import registrable_domain

    host = url_host(url)
    if fold_idna:
        host = idna_fold(host)
    return registrable_domain(host)


def url_path_depth(url) -> Column:
    """Number of non-empty path segments."""
    p = url_path(url)
    return F.size(F.filter(F.split(p, "/"), lambda s: s != "")).cast("int")


def url_query_param_count(url) -> Column:
    q = F.regexp_extract(url, _QUERY_RE, 1)
    return F.when(q == "", F.lit(0)).otherwise(
        F.size(F.filter(F.split(q, "&"), lambda s: s != ""))
    ).cast("int")


def url_has_tracking(url) -> Column:
    """Any utm_* / gclid / fbclid style tracking parameter present.
    Tested on the fragment-stripped url: '#sec?utm_source=x' carries a
    fragment, not a tracking parameter (same fix as _QUERY_RE)."""
    return F.regexp_extract(
        F.regexp_replace(url, r"#.*$", ""),
        r"[?&](utm_[a-z]+|gclid|fbclid|mc_cid|mc_eid)=", 1,
    ) != ""


# Anchored at the START of a parameter: `my_gclid=5` and `xutm_source=1`
# are ordinary params and must survive canonicalization.
_TRACKING_PARAM_RE = r"^(utm_[a-zA-Z]+|gclid|fbclid|mc_cid|mc_eid)="

# RFC 3986 §2.3 unreserved octets as UPPERCASE hex pairs. Equal-length
# uppercase-hex comparison IS numeric comparison, so the range tests
# run identically in Spark and the DuckDB oracle.
_HEX_PAIR_RE = r"^[0-9a-fA-F]{2}"

# default index pages: /index.html == / (the same resource on every
# mainstream server default; RE2-safe so the oracle matches)
_INDEX_PAGE_RE = r"/(index|default)\.(html?|htm|php|aspx?)$"


def _is_unreserved_pair(pair: Column) -> Column:
    """True when the UPPERCASE hex pair encodes an RFC 3986 unreserved
    octet (ALPHA / DIGIT / '-' / '.' / '_' / '~')."""
    return (
        pair.between("30", "39")  # DIGIT
        | pair.between("41", "5A")  # ALPHA upper
        | pair.between("61", "7A")  # ALPHA lower
        | pair.isin("2D", "2E", "5F", "7E")  # - . _ ~
    )


def normalize_percent(c: Column) -> Column:
    """RFC 3986 §6.2.2.1-2 percent-encoding normalization: uppercase
    every %XX escape's hex digits and DECODE escapes of unreserved
    characters (%41 -> A, %7E -> ~); reserved escapes (%2F, %3F, ...)
    keep their meaning and stay encoded. Malformed escapes ('%zz', a
    trailing '%') pass through verbatim.

    Pure-JVM: split on '%', one ``transform`` over the tail pieces
    (each begins with the candidate hex pair), rejoin. Decoded
    characters are unreserved only — they can never introduce a
    separator ('&', '=', '/', '?'), so this runs safely BEFORE query
    parsing. Idempotent: output escapes are uppercase-reserved only.
    """
    parts = F.split(c, "%")

    def fix(p: Column) -> Column:
        pair = F.upper(F.substring(p, 1, 2))
        tail = F.regexp_replace(p, _HEX_PAIR_RE, "")
        return F.when(
            ~p.rlike(_HEX_PAIR_RE), F.concat(F.lit("%"), p)
        ).when(
            _is_unreserved_pair(pair),
            F.concat(F.char(F.conv(pair, 16, 10).cast("int")), tail),
        ).otherwise(F.concat(F.lit("%"), pair, tail))

    rest = F.transform(F.slice(parts, 2, F.size(parts) - 1), fix)
    return F.when(F.size(parts) == 1, c).otherwise(
        F.concat(F.element_at(parts, 1), F.array_join(rest, ""))
    )


def _is_kept_param(p: Column) -> Column:
    """Non-empty query parameter that is not a tracking parameter."""
    return (p != "") & ~p.rlike(_TRACKING_PARAM_RE)


def canonical_url(url) -> Column:
    """Canonical form for URL-level dedup:

    1. scheme + host lowercased, https normalized to http (protocol
       twins are the same document);
    2. default ports stripped (:80 / :443);
    3. fragment removed;
    4. percent-encoding normalized (RFC 3986 §6.2.2: uppercase hex,
       unreserved escapes decoded — %7Euser == ~user);
    5. tracking parameters removed (utm_*, gclid, fbclid, mc_cid/eid):
       the query string is split on '&', parameters whose NAME matches
       (anchored — `my_gclid=5` is kept) and empty parameters are
       dropped, and the survivors rejoined — a dangling '?' disappears
       with them;
    6. default index pages collapsed (/index.html, /default.asp ... ==
       the directory itself);
    7. trailing slash dropped from non-root paths.

    The query rewrite uses split/filter/array_join higher-order
    expressions rather than a regexp_replace: a single replace pass
    cannot strip ADJACENT tracking params (`?utm_a=1&utm_b=2&id=3`)
    because the separator consumed by one match anchors the next, and
    an unanchored pattern merges distinct urls (`?my_gclid=5` vs `=7`).
    All JVM-side, one projection per row.
    """
    # lowercase scheme+authority only (path/query are case-sensitive)
    c = F.concat(
        F.lower(F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)),
        F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""),
    )
    c = F.regexp_replace(c, r"^https://", "http://")
    # RE2-safe default-port strip (no lookahead: capture the boundary)
    c = F.regexp_replace(c, r"^(http://[^/?#:]+):(?:80|443)([/?#])", r"$1$2")
    c = F.regexp_replace(c, r"^(http://[^/?#:]+):(?:80|443)$", r"$1")
    # fragment: everything from the FIRST '#' (messy crawl urls carry
    # doubled '#'s; '#[^#]*$' would leave '#a' behind in 'p#a#b')
    c = F.regexp_replace(c, r"#.*$", "")
    c = normalize_percent(c)
    # query rewrite: drop tracking + empty params, rejoin survivors
    base = F.regexp_replace(c, r"\?.*$", "")
    base = F.regexp_replace(base, _INDEX_PAGE_RE, "/")  # /index.html == /
    q = F.regexp_extract(c, r"\?(.*)$", 1)
    kept = F.array_join(F.filter(F.split(q, "&"), _is_kept_param), "&")
    c = F.when(kept == "", base).otherwise(F.concat(base, F.lit("?"), kept))
    # trailing slash (non-root): the preceding char must not be ':' or
    # '/' — else a degenerate 'http://' (empty authority after a
    # fragment-only url) loses one separator slash per application and
    # canonicalization stops being idempotent (caught by the fuzz test)
    c = F.regexp_replace(c, r"([^:/])/$", r"$1")
    return c


def url_features(docs: DataFrame, url_col: str = "url",
                 fold_idna: bool = False) -> DataFrame:
    """Per-url curation features, one codegen'd projection (plus one
    Arrow-batched fold stage when ``fold_idna`` — host and domain are
    then computed over the decoded punycode form)."""
    u = F.col(url_col)
    host = idna_fold(url_host(u)) if fold_idna else url_host(u)
    from fusus_spark.functions.psl import registrable_domain

    return docs.select(
        u.alias("url"),
        host.alias("host"),
        registrable_domain(host).alias("domain"),
        url_path_depth(u).alias("path_depth"),
        url_query_param_count(u).alias("n_params"),
        url_has_tracking(u).alias("has_tracking"),
        canonical_url(u).alias("canonical"),
    )


def url_repeated_segments(url) -> Column:
    """Number of DUPLICATED path-segment positions: ``len(segments) -
    len(distinct segments)``. ``/a/b/a/b/a/b`` -> 4, ``/x/y/z`` -> 0.
    The signature of a self-referencing crawl trap (a relative link
    resolving back into its own directory grows ``/foo/bar/foo/bar/...``
    one level per hop) — counting duplicated POSITIONS rather than
    max multiplicity keeps the expression pure-JVM (no nested
    higher-order aggregation) and monotone in trap depth."""
    segs = F.filter(F.split(url_path(url), "/"), lambda s: s != "")
    return (F.size(segs) - F.size(F.array_distinct(segs))).cast("int")


def url_trap_features(
    docs: DataFrame,
    url_col: str = "url",
    *,
    max_depth: int = 12,
    max_params: int = 8,
    max_repeated: int = 2,
) -> DataFrame:
    """Crawl-trap signals per url: (url, path_depth, n_params,
    n_repeated_segments, is_trap). A trap url is one a crawler can
    fetch forever without new content — infinite calendars, session
    mazes, self-referencing relative links — and the frontier must
    drop it BEFORE fetching, from the url string alone:

    * ``n_repeated_segments > max_repeated`` — the same path segment
      recurring (> 2 duplicated positions means some segment appears
      3+ times, or several repeat): the relative-link loop signature.
      Legitimate one-repeat paths (``/docs/api/docs.html``) survive.
    * ``path_depth > max_depth`` — infinite-descent traps (calendars,
      faceted navigation) grow depth without bound; real content
      paths rarely exceed a dozen segments.
    * ``n_params > max_params`` — parameter-explosion traps (faceted
      search, session-id permutations) accumulate query params.

    ``is_trap`` is the OR. Thresholds are deliberately loose — the
    cost of a false positive is one skipped url, of a false negative
    an unbounded fetch budget leak, but a curator tuning for recall
    can raise them per deployment. Filter the fetch queue with
    ``queue.join(traps.where('is_trap'), 'url', 'left_anti')`` or
    gate link discovery upstream. One codegen'd projection, zero
    shuffle, no per-row Python. DuckDB list-function oracle in
    tests/test_url.py."""
    u = F.col(url_col)
    rep = url_repeated_segments(u)
    depth = url_path_depth(u)
    npar = url_query_param_count(u)
    return docs.select(
        u.alias("url"),
        depth.alias("path_depth"),
        npar.alias("n_params"),
        rep.alias("n_repeated_segments"),
        (
            (rep > max_repeated)
            | (depth > max_depth)
            | (npar > max_params)
        ).alias("is_trap"),
    )


def dedup_by_canonical_url(docs: DataFrame, url_col: str = "url") -> DataFrame:
    """URL-level exact dedup: (url, canonical, rep_url, group_size);
    rep_url = min url of the canonical group. One shuffle on the
    canonical key — the cheapest dedup tier, run BEFORE any content
    hashing at crawl scale."""
    c = docs.select(
        F.col(url_col).alias("url"), canonical_url(F.col(url_col)).alias("canonical")
    )
    groups = c.groupBy("canonical").agg(
        F.min("url").alias("rep_url"), F.count("*").alias("group_size")
    )
    return c.join(groups, "canonical").select(
        "url", "canonical", "rep_url", "group_size"
    )
