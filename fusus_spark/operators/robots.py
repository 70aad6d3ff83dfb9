"""Robots/opt-out signals: in-page crawl-consent directives.

A training-data pipeline that respects publisher opt-outs needs the
in-page half of the robots protocol: ``<meta name="robots"
content="noindex, nofollow">`` (the page asked to be left out of
indexes — the standard conservative reading excludes it from corpora
too) and ``<link rel="canonical" href="...">`` (the page DECLARES its
canonical url — stronger than any heuristic canonicalization, and the
natural key to fold syndicated copies with). The HTTP-header half of
the protocol (``X-Robots-Tag``) is merged too when the input carries
the fetch layer's header column (sources/warc.py retains it at
ingest): a header directive is tested with the same whole-token rules
as the meta content, and a user-agent-scoped value (``googlebot:
noindex``) counts as an opt-out — the conservative reading.

Same design as webgraph.extract_links: a linear codegen'd regexp scan
over the raw html cast — RE2-safe patterns (no lookarounds/backrefs)
so the DuckDB oracle tokenizes identically; one projection per row,
zero Python, zero shuffle. Attribute order is free in real markup, so
each signal is the coalesce of a name-first and a content-first
pattern. The robots CONTENT is matched case-insensitively on a
lowered copy; the canonical HREF is extracted from the ORIGINAL bytes
(url paths are case-sensitive) with case-classes on the keywords only.

Reference role analog: the reference's per-page skip/exclusion flags
(empty-page detection, fusus/book.py page selection) — the "this page
asked out" bit, here sourced from the page itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from fusus_spark.session import drop_zip_finders

# lowered-copy patterns (robots content is case-insensitive by spec).
# Attribute VALUES may be double-quoted, single-quoted, or unquoted
# (valid HTML: <meta name=robots content=noindex>) — each value is a
# 3-way alternation whose capture lands in exactly one of groups 1-3
# (extracted via _first_group); the unquoted robots name must be
# DELIMITED so name=robotsx never matches. Three containment rules
# keep a match inside ONE tag and on REAL attributes: the
# inter-attribute FILLER never crosses an unquoted '<' or '>' (so a
# match cannot escape into the next tag or a text node) while still
# walking over QUOTED attribute values that legally contain '<'/'>';
# every attribute keyword must sit at the tag start or right after a
# [\s/] delimiter (the _SEP junction — so data-name=robots is not
# name=robots, and a 'name=robots'/'content=...' payload INSIDE
# another attribute's quoted value is unreachable: FILLER consumes
# quoted values atomically and a quote char is never the delimiter);
# and the unquoted-name delimiter may consume '>' only in the AT-END
# position (content-first ordering) — mid-pattern it is [\s/]. All
# alternations are RE2-safe (no lookarounds/backrefs) so the DuckDB
# oracle tokenizes identically.
_FILLER = r"""(?:"[^"]*"|'[^']*'|[^<>"'])*"""
# junction between attributes: optional filler, but the next keyword
# must follow a delimiter (or sit directly at the tag start)
_SEP = r"(?:" + _FILLER + r"[\s/])?"
_CONTENT_VAL = r"""content\s*=\s*(?:"([^"<>]*)"|'([^'<>]*)'|([^\s"'<>]+))"""
_NAME_ROBOTS_MID = r"""name\s*=\s*(?:"robots"|'robots'|robots[\s/])"""
_NAME_ROBOTS_END = r"""name\s*=\s*(?:"robots"|'robots'|robots[\s/>])"""
_META_NAME_FIRST = r"<meta\s" + _SEP + _NAME_ROBOTS_MID + _SEP + _CONTENT_VAL
_META_CONTENT_FIRST = r"<meta\s" + _SEP + _CONTENT_VAL + _SEP + _NAME_ROBOTS_END
# original-bytes patterns (href case preserved); keyword case-classes
_REL = r"[rR][eE][lL]"
_CANON = r"[cC][aA][nN][oO][nN][iI][cC][aA][lL]"
_HREF = r"[hH][rR][eE][fF]"
_LINK = r"<[lL][iI][nN][kK]\s"
_HREF_VAL = (
    _HREF + r"""\s*=\s*(?:"([^"<>]+)"|'([^'<>]+)'|([^\s"'<>]+))"""
)
_REL_CANON_MID = (
    _REL + r"\s*=\s*(?:\"" + _CANON + r"\"|'" + _CANON + r"'|"
    + _CANON + r"[\s/])"
)
_REL_CANON_END = (
    _REL + r"\s*=\s*(?:\"" + _CANON + r"\"|'" + _CANON + r"'|"
    + _CANON + r"[\s/>])"
)
_LINK_REL_FIRST = _LINK + _SEP + _REL_CANON_MID + _SEP + _HREF_VAL
_LINK_HREF_FIRST = _LINK + _SEP + _HREF_VAL + _SEP + _REL_CANON_END


def _first_group(col: Column, pat: str) -> Column:
    """The one non-empty capture among the pattern's three value
    alternations (null when the pattern does not match or the value is
    empty — '' means absent throughout this module). Cost shape: ONE
    full-document scan (group 0 grabs the matched tag region), then
    the three group extracts re-run the pattern on that tag-sized
    region only — the region IS the original match, so the captures
    are byte-identical, and the hot map-side filter pays a single
    regex pass per pattern instead of three."""
    region = F.regexp_extract(col, pat, 0)
    return F.coalesce(
        *[F.nullif(F.regexp_extract(region, pat, g), F.lit("")) for g in (1, 2, 3)]
    )


def _directive(content: Column, name: str) -> Column:
    """True when a robots content list contains the directive as a
    whole token (comma/space separated — 'noindex' must not match
    'noindexing'). The ``none`` directive is defined by the robots
    meta spec as 'noindex, nofollow', so it implies both."""
    pat = rf"(^|[\s,]){name}([\s,]|$)"
    if name in ("noindex", "nofollow"):
        pat = rf"(^|[\s,])({name}|none)([\s,]|$)"
    return content.rlike(pat)


def _robots_content(html_col: str) -> Column:
    """The raw (lowered) robots meta content — the ONE expression both
    the signals table and the opt-out filter compile against, so the
    audit and the filter can never disagree."""
    low = F.lower(F.col(html_col).cast("string"))
    return F.coalesce(
        _first_group(low, _META_NAME_FIRST),
        _first_group(low, _META_CONTENT_FIRST),
        F.lit(""),
    )


def _header_content(docs: DataFrame, xrobots_col: str | None) -> Column:
    """The lowered X-Robots-Tag value to merge ('' when the column is
    not present / null). ``xrobots_col=None`` auto-detects the column
    ``x_robots_tag`` (what sources/warc.py emits), so any caller whose
    input went through the WARC envelope parse honors headers without
    wiring."""
    if xrobots_col is None:
        xrobots_col = "x_robots_tag" if "x_robots_tag" in docs.columns else ""
    if not xrobots_col:
        return F.lit("")
    return F.lower(F.coalesce(F.col(xrobots_col), F.lit("")))


def robots_signals(
    docs: DataFrame, url_col: str = "url", html_col: str = "html",
    xrobots_col: str | None = None,
) -> DataFrame:
    """(url, robots_content, header_content, noindex, nofollow,
    noarchive, canonical_href) — one codegen'd projection per document.

    ``robots_content`` is the raw (lowered) content of the first
    matching robots meta ('' when absent); ``header_content`` the
    lowered X-Robots-Tag header value ('' when absent — auto-detected
    from the ``x_robots_tag`` column, see ``_header_content``). The
    booleans are whole-token tests over the UNION of both surfaces
    (either half of the protocol opts the page out; a UA-scoped header
    value like ``googlebot: noindex`` still contains the token, the
    conservative reading). ``canonical_href`` is the declared canonical
    url (null when absent) — feed it through webgraph.resolve_links /
    functions.url.canonical_url before joining, exactly like any other
    harvested href.
    """
    orig = F.col(html_col).cast("string")
    content = _robots_content(html_col)
    header = _header_content(docs, xrobots_col)
    canon = F.coalesce(
        _first_group(orig, _LINK_REL_FIRST),
        _first_group(orig, _LINK_HREF_FIRST),
    )
    return docs.select(
        F.col(url_col).alias("url"),
        content.alias("robots_content"),
        header.alias("header_content"),
        (_directive(content, "noindex")
         | _directive(header, "noindex")).alias("noindex"),
        (_directive(content, "nofollow")
         | _directive(header, "nofollow")).alias("nofollow"),
        (_directive(content, "noarchive")
         | _directive(header, "noarchive")).alias("noarchive"),
        canon.alias("canonical_href"),
    )


# ---------------------------------------------------------------------------
# robots.txt — the FILE half of the exclusion protocol (RFC 9309),
# completing the consent stack next to the meta (in-page) and
# X-Robots-Tag (header) halves above.


def _rule_regex(pattern: str) -> str:
    """RFC 9309 path pattern -> RE2-safe regex: '*' matches any
    sequence, a TRAILING '$' anchors the end, every other byte is
    literal. Anchored at the path start (rules are path prefixes)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch in r"\.[]{}()<>^$+?|":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + ("$" if anchored else "")


def _group_scoped_lines(
    body: str, agent: str, body_keys: tuple[str, ...]
) -> tuple[list[tuple[str, str, str]], bool]:
    """The ONE RFC 9309 §2.2.1 group-model state machine, shared by the
    rules and crawl-delay parsers so they cannot drift: returns
    ([(scope, key, val)], saw_specific_group) where ``scope`` is
    'specific' (a group naming ``agent`` governs the line) or 'wild'
    (the '*' fallback group does). ``body_keys`` names the keys that
    count as GROUP BODY for this consumer — a user-agent line after any
    of them starts a new group (for the rules parser that is
    allow/disallow per the RFC; the crawl-delay parser adds
    crawl-delay, because there a delay-only group is still a group —
    treating it as an unknown key would merge consecutive
    delay-only groups and hand one agent another's delay).
    Lines governed by neither group are dropped."""
    agent = agent.lower()
    out: list[tuple[str, str, str]] = []
    saw_specific_group = False
    cur: list[str] = []
    in_group_body = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if in_group_body:
                cur = []  # a new group starts after any body line
                in_group_body = False
            cur.append(val.lower())
            if val.lower() == agent:
                # a matching group EXISTS: even if it carries no body,
                # it governs, never the '*' fallback
                saw_specific_group = True
        else:
            if key in body_keys:
                in_group_body = True
            if agent in cur:
                out.append(("specific", key, val))
            elif "*" in cur:
                out.append(("wild", key, val))
    return out, saw_specific_group


def parse_robots_txt_rules(body: str, agent: str = "*") -> list[tuple[bool, str]]:
    """Parse one robots.txt into the (allow, path_pattern) rules of the
    group that governs ``agent`` (RFC 9309 §2.2.1: the union of all
    groups whose user-agent token matches the product token
    case-insensitively; the '*' groups apply only when no specific
    group matched — even a specific group with no rules governs,
    allow-all). Empty-pattern rules are ignored per the RFC
    (``Disallow:`` alone means allow-all); other keys (sitemap,
    crawl-delay) don't close a group per the RFC. Plain Python on a
    single config-sized text — called per host inside the Arrow
    batch."""
    lines, saw_specific_group = _group_scoped_lines(
        body, agent, ("allow", "disallow")
    )
    specific: list[tuple[bool, str]] = []
    wild: list[tuple[bool, str]] = []
    for scope, key, val in lines:
        if key not in ("allow", "disallow") or not val:
            continue
        (specific if scope == "specific" else wild).append(
            (key == "allow", val)
        )
    return specific if saw_specific_group else wild


def robots_txt_rules(
    robots: DataFrame, agent: str = "*",
    host_col: str = "host", body_col: str = "robots_txt",
) -> DataFrame:
    """(host, robots_txt) -> exploded rule rows (host, allow, pattern,
    pattern_len, regex) for the group governing ``agent``.

    The parse runs in one Arrow ``mapInPandas`` stage (a robots.txt is
    config-sized — RFC 9309 caps the parse requirement at 500 KiB);
    the rule-to-url MATCH in ``apply_robots_txt`` is pure JVM/SQL so
    the precedence logic is DuckDB-oracle-able (tests/test_robots.py),
    the parser itself being golden-pinned like the repo's other
    byte-format walks. ``pattern_len`` is the RFC's precedence key
    (longest match wins; allow wins length ties)."""
    import pandas as pd

    def run(batches):
        drop_zip_finders()
        for pdf in batches:
            rows = {"host": [], "allow": [], "pattern": [],
                    "pattern_len": [], "regex": []}
            for host, body in zip(pdf[host_col].tolist(), pdf[body_col].tolist()):
                for allow, pat in parse_robots_txt_rules(body or "", agent):
                    rows["host"].append(host)
                    rows["allow"].append(allow)
                    rows["pattern"].append(pat)
                    rows["pattern_len"].append(len(pat))
                    rows["regex"].append(_rule_regex(pat))
            yield pd.DataFrame(rows)

    return robots.select(host_col, body_col).mapInPandas(
        run,
        schema="host string, allow boolean, pattern string, "
               "pattern_len int, regex string",
    )


_MAX_CRAWL_DELAY_S = 1e9  # ~31 years; anything beyond is junk, and
# the ms-scaled bigint must never overflow int64 (junk degrades, the
# module contract — it never errors an Arrow stage)


def parse_robots_crawl_delay(body: str, agent: str = "*") -> float | None:
    """Group-scoped ``Crawl-delay`` (the de-facto extension RFC 9309
    deliberately omits) in SECONDS for the group governing ``agent``,
    or None when no governing group declares one. Shares
    :func:`parse_robots_txt_rules`' group state machine
    (``_group_scoped_lines``) — the union of matching specific groups
    governs when one exists (even if it carries no delay: a publisher
    who addressed this agent and stayed silent on delay gets no delay,
    never the '*' fallback's). Crawl-delay lines count as group BODY
    here (a delay-only group is still a group; see the shared helper's
    docstring). Several delays in the governing union fold to the MAX
    (the conservative read). Unparseable / negative / non-finite /
    absurd (> ~31 years) values are ignored."""
    lines, saw_specific_group = _group_scoped_lines(
        body, agent, ("allow", "disallow", "crawl-delay")
    )
    specific: list[float] = []
    wild: list[float] = []
    for scope, key, val in lines:
        if key != "crawl-delay":
            continue
        try:
            d = float(val)
        except ValueError:
            continue
        if not (0 <= d <= _MAX_CRAWL_DELAY_S):
            continue
        (specific if scope == "specific" else wild).append(d)
    vals = specific if saw_specific_group else wild
    return max(vals) if vals else None


def robots_crawl_delays(
    robots: DataFrame, agent: str = "*",
    host_col: str = "host", body_col: str = "robots_txt",
) -> DataFrame:
    """(host, robots_txt) -> (host, crawl_delay_ms) for hosts whose
    governing group declares a Crawl-delay — the politeness input
    :func:`fusus_spark.operators.frontier.host_budgets_from_delays`
    turns into per-host schedule caps. Milliseconds as BIGINT (the
    repo's scaled-integer convention; sub-second float delays exist in
    the wild). Same single Arrow ``mapInPandas`` stage as
    ``robots_txt_rules`` — a robots.txt is config-sized — and the
    parser is golden-pinned like the sibling (group scoping is not
    SQL-expressible; the repo's non-SQL-oracle rule, documented
    there)."""
    import pandas as pd

    def run(batches):
        drop_zip_finders()
        for pdf in batches:
            rows: dict[str, list] = {"host": [], "crawl_delay_ms": []}
            for host, body in zip(pdf[host_col].tolist(), pdf[body_col].tolist()):
                d = parse_robots_crawl_delay(body or "", agent)
                if d is not None:
                    rows["host"].append(host)
                    rows["crawl_delay_ms"].append(int(round(d * 1000)))
            yield pd.DataFrame(rows)

    return robots.select(host_col, body_col).mapInPandas(
        run, schema="host string, crawl_delay_ms bigint"
    )


def robots_sitemaps(
    robots: DataFrame, host_col: str = "host", body_col: str = "robots_txt"
) -> DataFrame:
    """(host, robots_txt) -> (host, sitemap_url) rows — the crawl-
    frontier seed list. ``Sitemap:`` lines are group-INDEPENDENT per
    RFC 9309 §2.3 (they apply regardless of user-agent), so this is a
    pure line harvest: one codegen'd regexp split + filter per row,
    zero Python, zero shuffle. Comments stripped; urls taken verbatim
    (feed through functions.url.canonical_url before joining, like any
    harvested href)."""
    lines = F.split(F.coalesce(F.col(body_col), F.lit("")), r"\r?\n")
    # leading whitespace tolerated, like parse_robots_txt_rules' strip
    sitemap = r"^[ \t]*[sS][iI][tT][eE][mM][aA][pP]\s*:\s*(\S+)"
    urls = F.filter(
        F.transform(
            lines,
            lambda ln: F.regexp_extract(
                F.regexp_replace(ln, "#.*$", ""), sitemap, 1
            ),
        ),
        lambda u: u != "",
    )
    return robots.select(
        F.col(host_col).alias("host"), F.explode(urls).alias("sitemap_url")
    )


def apply_robots_txt(
    docs: DataFrame, rules: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Filter docs to urls the per-host robots.txt rules ALLOW (RFC
    9309 longest-match precedence, allow wins ties; urls on hosts with
    no rules — or matching no rule — are allowed, absence is consent).

    Plan: docs left-join rules on host (one shuffle each side; fan-out
    bounded by the rules-per-host count, itself bounded by the RFC's
    500 KiB parse cap), per-row regex match (the pattern is a column,
    so this stays a JVM expression — no Python), then ONE max-of-struct
    aggregation per url picks the prevailing rule: no window, so a
    mega-host with millions of urls never becomes a single-task
    straggler. Reference role analog: the reference's page-selection
    front door (fusus/book.py:189-240), here driven by the site's own
    declared policy file."""
    from fusus_spark.functions.url import _QUERY_RE, url_host, url_path

    u = F.col(url_col)
    # RFC 9309 match target is the path PLUS the query ('/search?q=x'):
    # a '$'-anchored '/search$' must not block queried variants, and
    # query-targeting rules like '/*?sessionid=' must be reachable.
    # _QUERY_RE is fragment-safe: '#sec?x' is not a query
    path = F.when(url_path(u) == "", "/").otherwise(url_path(u))
    query = F.regexp_extract(u, _QUERY_RE, 1)
    target = F.when(query == "", path).otherwise(
        F.concat(path, F.lit("?"), query)
    )
    keyed = docs.withColumn("_rb_host", url_host(u)).withColumn("_rb_path", target)
    joined = keyed.join(
        rules.withColumnRenamed("host", "_rb_host"), "_rb_host", "left"
    )
    # column-valued pattern: the SQL rlike form (the Column API only
    # accepts literal patterns)
    matched = F.col("regex").isNotNull() & F.expr("_rb_path rlike regex")
    # prevailing rule = max (pattern_len, allow) over matching rules —
    # allow=true sorts above disallow at equal length, the RFC tie-break
    verdict_col = F.when(
        matched, F.struct(F.col("pattern_len"), F.col("allow"))
    )
    allowed = (
        joined.groupBy(url_col)
        .agg(F.max(verdict_col).alias("_verdict"))
        .where(F.col("_verdict").isNull() | F.col("_verdict.allow"))
        .select(url_col)
    )
    return docs.join(allowed, url_col, "left_semi")


def apply_robots_optout(
    docs: DataFrame, url_col: str = "url", html_col: str = "html",
    xrobots_col: str | None = None,
) -> DataFrame:
    """Drop documents whose page declares ``noindex`` — via the robots
    meta OR the X-Robots-Tag header when the input carries the header
    column (auto-detected, see ``_header_content``) — the conservative
    opt-out reading; everything else passes through unchanged. Pure
    map-side filter — the signals are computed inline via the same
    expressions the audit table uses, no join. Pages with no html, no
    robots meta and no header are KEPT (absence of a directive is
    consent under the robots protocol); ``none`` counts as noindex per
    the spec."""
    return docs.where(
        ~_directive(_robots_content(html_col), "noindex")
        & ~_directive(_header_content(docs, xrobots_col), "noindex")
    )


def robots_fetch_policy(
    fetch_log: DataFrame,
    *,
    as_of_ts: str,
    max_age_hours: int = 24,
    unreachable_grace_days: int = 30,
) -> DataFrame:
    """Per-host robots.txt ACCESS POLICY from the robots fetch log —
    the RFC 9309 §2.3.1 state machine the crawler consults before any
    fetch on the host: (host, last_status, last_fetch_ts, policy,
    needs_refetch).

    Input rows are (host, http_status, fetched_at) across cycles; a
    null ``http_status`` means no HTTP response at all (DNS/conn
    failure) and classes with the 5xx "unreachable" bucket (stored as
    0 in ``last_status``). Policy from the LATEST fetch per host
    (deterministic (fetched_at, status) max-of-struct; agg-only, no
    window — the cluster_representatives convention):

    * 2xx -> ``parse``: a robots body was served; parse and apply it
      (:func:`robots_txt_rules` / :func:`apply_robots_txt`).
    * 3xx / 4xx -> ``allow_all``: "unavailable" per §2.3.1.3 — the
      crawler MAY access any resource (the fetch layer already chased
      redirects ≥5 hops per §2.3.1.2; a residual 3xx is a loop or an
      over-cap chain, which the RFC says MAY be treated as
      unavailable).
    * 5xx / no response -> ``disallow_all``: "unreachable" per
      §2.3.1.4 — MUST assume complete disallow... UNLESS the host has
      been continuously unreachable longer than
      ``unreachable_grace_days`` (the RFC's 30 days), after which the
      crawler MAY fall back: ``parse_cached`` when the LAST reachable
      fetch served a body (2xx — a later 404 invalidates the cached
      copy, so any-2xx-ever is NOT enough), ``allow_all`` otherwise.
      Continuity is anchored on the FIRST failing fetch of the
      trailing unreachable streak (the first failure with no
      reachable fetch after it) — NOT on the last reachable fetch:
      a host that was fine, unobserved for 35 days, then failed once
      yesterday has been *observed* unreachable for one day, not 36.

    ``needs_refetch`` is orthogonal: the latest fetch (whatever its
    outcome) is older than ``max_age_hours`` (the RFC's §2.4 cache
    cap, default 24 h) as of ``as_of_ts`` — pass the schedule time
    explicitly (wall-clock defaults are nondeterministic, the repo
    contract). Timestamps compare as differences, so the session
    timezone cancels.

    Plan shape: one Exchange on host feeding a reversed-frame running
    max (marks the trailing failure streak) and a groupBy(host) that
    REUSES the window's hash partitioning — one shuffle total, no
    join. DuckDB oracle in tests/test_robots.py.
    """
    s = F.coalesce(F.col("http_status"), F.lit(0)).cast("int")
    log = fetch_log.select("host", s.alias("__s__"), "fetched_at")
    reachable = (F.col("__s__") >= 200) & (F.col("__s__") <= 499)
    # a failure row belongs to the trailing unreachable streak iff no
    # reachable fetch happens at-or-after it (its own contribution to
    # the reversed running max is null, so the frame may include it)
    w = (
        Window.partitionBy("host")
        .orderBy(F.col("fetched_at").asc(), F.col("__s__").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    rev_reach = F.max(F.when(reachable, F.col("fetched_at"))).over(w)
    marked = log.withColumn(
        "__trail__",
        F.when(~reachable & rev_reach.isNull(), F.col("fetched_at")),
    )
    agg = marked.groupBy("host").agg(
        F.max(F.struct("fetched_at", "__s__")).alias("m"),
        F.min("__trail__").alias("__since__"),
        F.max(F.when(reachable, F.struct("fetched_at", "__s__"))).alias("r"),
    )
    as_of = F.to_timestamp(F.lit(as_of_ts)).cast("long")
    last_s = F.col("m.__s__")
    last_ts = F.col("m.fetched_at")
    age_h = (as_of - F.to_timestamp(last_ts).cast("long")) / 3600.0
    unreach_d = (
        as_of - F.to_timestamp(F.col("__since__")).cast("long")
    ) / 86400.0
    cached_live = (F.col("r.__s__") >= 200) & (F.col("r.__s__") <= 299)
    policy = (
        F.when((last_s >= 200) & (last_s <= 299), F.lit("parse"))
        .when((last_s >= 300) & (last_s <= 499), F.lit("allow_all"))
        .when(
            unreach_d > unreachable_grace_days,
            F.when(cached_live, F.lit("parse_cached"))
            .otherwise(F.lit("allow_all")),
        )
        .otherwise(F.lit("disallow_all"))
    )
    return agg.select(
        "host",
        last_s.alias("last_status"),
        last_ts.alias("last_fetch_ts"),
        policy.alias("policy"),
        (age_h > max_age_hours).alias("needs_refetch"),
    )
