"""Webgraph signals: outlink extraction + host-level link statistics.

Large-scale curation uses the link structure of the crawl itself as a
quality signal (in-degree-weighted sampling, spam-host detection,
seed-list expansion). Two relational pieces:

* ``extract_links`` — (src_url, href, anchor) rows straight off the
  raw html bytes with one JVM ``regexp_extract_all`` + explode: a
  deliberate REGEX-level extractor (the full DOM pass in
  extraction/ answers "what is the main content"; link harvesting
  only needs the anchor tags, and a linear codegen'd scan is an
  order of magnitude cheaper than a parse when run crawl-wide).
  The pattern is RE2-compatible, so the DuckDB oracle tokenizes
  identically.
* ``resolve_links`` — absolute-ize the documented subset that matters
  for HOST-level graphs: absolute http(s) urls pass through,
  protocol-relative ``//host/...`` gains http:, root-relative ``/p``
  resolves against the source host. Path-relative hrefs (``a/b``,
  ``../x``) are DROPPED, flagged by the ``resolved`` null — full
  RFC 3986 merging is deliberately out of scope for a host graph
  (it cannot change the target host).
* ``host_link_stats`` — cross-host edges only, collapsed to DISTINCT
  (src_host, dst_host) pairs map-side-first, then one groupBy for
  in-degree / out-degree: the shuffle carries edges, not anchors.

Reference role analog: the reference's cross-page link/TOC artifacts
(getToc, /root/reference/fusus/parameters.py page maps) are per-book
navigation structure; at web scale the analog structure IS the link
graph between hosts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fusus_spark.functions.url import url_host, url_path

# href + first text run of the anchor; RE2-safe (no lookarounds, no
# backrefs — non-capturing group + lazy quantifier only) so the DuckDB
# oracle runs the IDENTICAL pattern. Shape notes: `<[aA]` followed by a
# mandatory \s keeps <area>/<abbr> out; the \s REQUIRED immediately
# before href= keeps attribute lookalikes (data-href=) from shadowing
# or fabricating the link; the lazy [^>]*? binds to the FIRST real
# href in the tag, not the last.
_ANCHOR_RE = (
    r"""<[aA](?:\s[^>]*?)?\s[hH][rR][eE][fF]=["']([^"'<>]+)["'][^>]*>([^<]*)"""
)


def extract_links(
    docs: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    *,
    include_base: bool = False,
) -> DataFrame:
    """(src_url, href, anchor[, base_href]) — one row per anchor tag.

    Map-side only: a binary->string CAST (not ``decode``, which raises
    on malformed UTF-8 in Spark 4 — the cast wraps the bytes
    unvalidated, and anchor markup is ASCII so junk bytes elsewhere
    cannot poison the scan), one regexp_extract_all per document for
    each capture group (Catalyst keeps both in a single codegen'd
    projection), arrays_zip + explode. No shuffle.

    ``include_base=True`` adds the page's ``<base href>`` value — the
    FIRST base tag carrying an href, per the HTML spec — repeated on
    every link row (null when absent); pass the column to
    ``resolve_links(base_col="base_href")`` so relative hrefs resolve
    against the declared base instead of the document url.
    """
    html_str = F.col(html_col).cast("string")
    pairs = F.arrays_zip(
        F.regexp_extract_all(html_str, F.lit(_ANCHOR_RE), F.lit(1)).alias("href"),
        F.regexp_extract_all(html_str, F.lit(_ANCHOR_RE), F.lit(2)).alias("anchor"),
    )
    cols = [F.col(url_col).alias("src_url"), F.explode(pairs).alias("p")]
    if include_base:
        from fusus_spark.operators.robots import (
            _HREF_VAL, _SEP, _first_group)

        base_pat = "<" + "[bB][aA][sS][eE]" + r"\s" + _SEP + _HREF_VAL
        cols.append(_first_group(html_str, base_pat).alias("base_href"))
    out = docs.select(*cols).select(
        "src_url",
        F.col("p.href").alias("href"),
        F.trim(F.col("p.anchor")).alias("anchor"),
        *(["base_href"] if include_base else []),
    )
    return out


def _remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 over an absolute path: '.' segments drop, '..'
    pops, EMPTY segments ('//') are ordinary segments and survive
    (they are significant per RFC — urljoin keeps them); a final
    '.'/'..' keeps the directory form (trailing '/'). One JVM
    ``aggregate`` fold over the split segments — no UDF, no shuffle.
    Verified against urllib.parse.urljoin in tests/test_webgraph.py."""
    segs = F.split(path, "/")
    body = F.slice(segs, 2, F.size(segs) - 1)  # drop the leading-'/' artifact
    folded = F.aggregate(
        body,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(x == ".", acc)
        .when(x == "..", F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))))
        .otherwise(F.concat(acc, F.array(x))),
    )
    # a literal trailing '/' survives as a final empty segment; only a
    # final '.'/'..' needs the directory slash re-added (F.get is the
    # null-on-out-of-bounds accessor — ANSI element_at would throw)
    dot_final = path.rlike(r"(/\.|/\.\.)$")
    return F.concat(
        F.lit("/"),
        F.array_join(folded, "/"),
        F.when(
            dot_final
            & (F.size(folded) > 0)
            & (F.get(folded, F.size(folded) - 1) != ""),
            F.lit("/"),
        ).otherwise(F.lit("")),
    )


def resolve_links(
    links: DataFrame,
    *,
    page_level: bool = False,
    keep_scheme: bool = False,
    base_col: str | None = None,
) -> DataFrame:
    """Add ``resolved`` (absolute url or null) to (src_url, href, ...).

    ``base_col`` names a column carrying the page's ``<base href>``
    value (extract_links ``include_base=True`` harvests it): per the
    HTML spec the base is itself resolved against the DOCUMENT url,
    and every href then resolves against the result — two passes of
    the same expression (a null/unresolvable base falls back to the
    document url, the spec's behavior for a missing base). Base
    handling implies the page-level RFC 3986 merge for the base
    itself; pass ``page_level=True`` (the usual pairing) to merge the
    hrefs too.

    ``keep_scheme=True`` resolves relative references against the
    SOURCE url's scheme instead of folding everything to ``http://``.
    The fold is right for the link graph (a target reached absolutely
    and relatively must be ONE graph node; canonical_url folds scheme
    anyway) but wrong when the resolved url must join back against
    verbatim record urls — :func:`resolve_redirects` chains break at
    the first https hop otherwise.

    Default (host-graph) subset semantics, documented in the module
    header: absolute http/https pass through; ``//host/x`` ->
    ``http://host/x``; root-relative ``/x`` -> ``http://<src_host>/x``;
    anything else (path-relative, mailto:, javascript:, fragments) ->
    null — none of it can change the target HOST.

    ``page_level=True`` adds RFC 3986 §5 merging for a page-level
    graph: path-relative hrefs (``a/b``, ``../x``, ``./y``) merge
    against the source url's directory, query-only hrefs (``?q=2``)
    replace the query, and BOTH root-relative and merged paths go
    through §5.2.4 remove-dot-segments (fold over segments — JVM-side,
    no UDF). The href's fragment is dropped (canonical_url drops it
    anyway); fragment-ONLY hrefs stay null (intra-page). Verified
    against Python's ``urllib.parse.urljoin`` as the independent
    reference (tests/test_webgraph.py) — the iterative pop fold is not
    regexp-expressible, so the oracle is code, not SQL, per the repo's
    non-SQL-oracle rule.
    """
    src = F.col("src_url")
    href = F.col("href")
    if base_col is not None:
        base = _resolve_expr(
            src, F.col(base_col), page_level=True, keep_scheme=keep_scheme
        )
        src = F.coalesce(base, src)
    return links.withColumn(
        "resolved",
        _resolve_expr(src, href, page_level=page_level, keep_scheme=keep_scheme),
    )


def _resolve_expr(
    src_url: Column, href: Column, *, page_level: bool, keep_scheme: bool
) -> Column:
    """The resolution expression over (source url, reference) columns —
    resolve_links's whole contract, factored so base-href resolution
    can run it twice (base against document, href against base)."""
    src_host = url_host(src_url)
    if keep_scheme:
        _s = F.lower(
            F.regexp_extract(src_url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
        )
        scheme = F.when(_s == "", F.lit("http")).otherwise(_s)
    else:
        scheme = F.lit("http")
    if not page_level:
        return (
            F.when(href.rlike(r"^[hH][tT][tT][pP][sS]?://"), href)
            .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
            .when(
                href.startswith("/") & (src_host != ""),
                F.concat(scheme, F.lit("://"), src_host, href),
            )
            .otherwise(F.lit(None).cast("string"))
        )

    origin = F.concat(scheme, F.lit("://"), src_host)
    src_path = url_path(src_url)
    # href split into path-part and query (fragment dropped EVERYWHERE
    # in page-level mode, absolute hrefs included — a target reached
    # absolutely and relatively must be ONE graph node)
    h_nofrag = F.regexp_replace(href, r"#.*$", "")
    h_path = F.regexp_replace(h_nofrag, r"\?.*$", "")
    h_q = F.regexp_extract(h_nofrag, r"\?(.*)$", 1)
    q_suffix = F.when(h_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), h_q))
    # source directory: path up to (and including) the last '/'
    src_dir = F.when(src_path == "", F.lit("/")).otherwise(
        F.regexp_replace(src_path, r"[^/]*$", "")
    )
    has_scheme = href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")
    # absolute / protocol-relative: normalize to one absolute form,
    # then rebuild as authority + dot-normalized path + query
    habs = F.when(
        h_nofrag.rlike(r"^[hH][tT][tT][pP][sS]?://"), h_nofrag
    ).when(h_nofrag.startswith("//"), F.concat(scheme, F.lit(":"), h_nofrag))
    abs_auth = F.regexp_extract(habs, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    abs_path = F.regexp_extract(habs, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    resolved = (
        F.when(
            habs.isNotNull(),
            F.concat(
                abs_auth,
                # urljoin keeps a bare host's empty path verbatim
                F.when(abs_path == "", F.lit("")).otherwise(
                    _remove_dot_segments(abs_path)
                ),
                q_suffix,
            ),
        )
        .when(
            href.startswith("/") & (src_host != ""),
            F.concat(origin, _remove_dot_segments(h_path), q_suffix),
        )
        .when(
            href.startswith("?") & (src_host != ""),
            # RFC 3986 §5.3: target path = base path VERBATIM (urljoin
            # keeps a bare host's empty path: http://h.com?q=2)
            F.concat(origin, src_path, h_nofrag),
        )
        .when(
            ~has_scheme
            & ~href.startswith("#")
            & (h_path != "")
            & (src_host != ""),
            F.concat(
                origin, _remove_dot_segments(F.concat(src_dir, h_path)), q_suffix
            ),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return resolved


def _host_edges(
    docs: DataFrame,
    url_col: str,
    html_col: str,
    redirects: DataFrame | None = None,
) -> DataFrame:
    """Distinct cross-host (src_host, dst_host) edges: the ONE place the
    null/empty-host and self-edge rules live (host_link_stats and
    host_pagerank must never disagree on what an edge is). When a
    ``resolve_redirects`` frame is given, targets are collapsed through
    :func:`follow_redirects` FIRST — so an edge whose collapse lands
    back on the source host (a.com -> old.com -> a.com) is a self-edge
    and drops, by the same contract."""
    links = resolve_links(extract_links(docs, url_col, html_col))
    if redirects is not None:
        # null-resolved rows drop below anyway; filtering BEFORE the
        # redirect join keeps them out of its exchange
        links = follow_redirects(
            links.where(F.col("resolved").isNotNull()), redirects
        )
    return _normalize_edges(
        links.where(F.col("resolved").isNotNull()).select(
            url_host(F.col("src_url")).alias("src_host"),
            url_host(F.col("resolved")).alias("dst_host"),
        )
    )


def _normalize_edges(edges: DataFrame) -> DataFrame:
    """Cross-host contract applied to ANY edge set (derived or
    caller-supplied): drop empty/null hosts and self-edges, distinct."""
    return (
        edges.select("src_host", "dst_host")
        .where(
            F.col("src_host").isNotNull()
            & F.col("dst_host").isNotNull()
            & (F.col("src_host") != "")
            & (F.col("dst_host") != "")
            & (F.col("src_host") != F.col("dst_host"))
        )
        .distinct()
    )


def _snapshot(df: DataFrame, checkpoint_dir: str | None, name: str) -> DataFrame:
    """Cut ``df``'s lineage: a local checkpoint, or a parquet round-trip
    through ``<checkpoint_dir>/<name>`` read back with the written schema."""
    if checkpoint_dir is None:
        return df.localCheckpoint()
    path = f"{checkpoint_dir}/{name}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def host_link_stats(
    docs: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    redirects: DataFrame | None = None,
) -> DataFrame:
    """Host-level link graph statistics: (host, in_degree, out_degree)
    over DISTINCT cross-host edges.

    in_degree = number of distinct OTHER hosts linking to this host —
    the classic crawl-quality / spam signal; out_degree symmetric.
    Optional ``redirects`` (a :func:`resolve_redirects` frame)
    collapses targets through :func:`follow_redirects` before host
    extraction: degree credit lands on the host that SERVES the
    content, not the 301 shell in front of it (one extra equi-join,
    same shuffle count class). Plan: links (map-side) -> distinct
    (src_host, dst_host) edge set (one shuffle, partial-agg'd) -> each
    edge contributes one (host, in, out) row per endpoint, folded by
    ONE groupBy — no join, no coalesce scaffolding. Anchors and urls
    never reach the edge shuffle.
    """
    edges = _host_edges(docs, url_col, html_col, redirects)
    endpoints = edges.select(
        F.col("dst_host").alias("host"), F.lit(1).alias("i"), F.lit(0).alias("o")
    ).unionByName(
        edges.select(
            F.col("src_host").alias("host"), F.lit(0).alias("i"), F.lit(1).alias("o")
        )
    )
    return endpoints.groupBy("host").agg(
        F.sum("i").cast("int").alias("in_degree"),
        F.sum("o").cast("int").alias("out_degree"),
    )


def host_pagerank(
    docs: DataFrame | None = None,
    *,
    edges: DataFrame | None = None,
    iters: int = 10,
    damping_e6: int = 850_000,
    url_col: str = "url",
    html_col: str = "html",
    redirects: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """PageRank over the distinct cross-host link graph — the
    in-degree signal's principled big sibling (spam farms inflate raw
    in-degree; they inflate PageRank much less).

    Returns (host, rank_e9). INTEGER-ARITHMETIC power iteration: ranks
    live as e9-scaled int64, each node ships ``rank_e9 div out_degree``
    along every out-edge, and the teleport term is a constant
    ``(1 - d) * 10^9`` (uniform base). Why integers: float PageRank
    sums are order-dependent (shuffle nondeterminism would flip low
    bits run to run), while int64 groupBy sums are exact and
    order-independent — so the result is hash-stable, the repo's
    determinism contract. Fine print, stated honestly: integer div
    truncates (mass leaks a few ulps per hop) and dangling hosts'
    mass is NOT redistributed — the standard simplification of the
    classic Spark formulation; ranking order is what the signal is
    used for, and truncation cannot reorder ranks by more than the
    truncated ulps.

    Verification note (why no DuckDB oracle, per the repo contract):
    the iterative fixpoint needs aggregation over the recursive term,
    which SQL recursive CTEs forbid — so the engine-independent check
    is an INDEPENDENT from-scratch Python integer reference
    (tests/test_webgraph.py), the same pattern as dedup_passages'
    second oracle.

    Plan: the edge set (out_degree pre-joined — it is loop-invariant)
    and the node list are computed ONCE and persisted; each iteration
    is then ONE join + one integer-sum groupBy — the dup_clusters
    shape. Caller-supplied ``edges`` pass through the SAME
    ``_normalize_edges`` contract as the docs path (empty/null hosts
    and self-edges dropped): a spam host's self-links must never feed
    it its own damped mass back. Optional ``redirects`` (docs path
    only — caller-supplied edges are already host-level) collapses
    link targets through :func:`follow_redirects` before host
    extraction, so rank mass flows to the serving host, not a 301
    shell.

    Executor-loss story (how lineage is truncated):

    * ``checkpoint_dir=None`` (default, small/test scale):
      ``localCheckpoint`` per round — blocks live on executors, so a
      single executor loss kills the job and every prior round. Fine
      on local[*]; NOT the cluster configuration.
    * ``checkpoint_dir=<fault-tolerant path>`` (the at-scale config):
      edges and nodes are written to parquet ONCE and re-read (the
      corpus-sized inputs never live as non-recomputable executor
      blocks), and ranks take a parquet round-trip every
      ``checkpoint_every`` rounds. Between snapshots NO localCheckpoint
      is taken — the (short, linear) lineage from the last snapshot
      stays recomputable, so an executor loss costs at most
      ``checkpoint_every`` rounds of recompute instead of the job.
      This is the reference's per-page restart-unit philosophy
      (/root/reference/fusus/book.py:463-485) applied to iteration
      rounds: the restart unit is the snapshot, not the whole run.
    """
    if edges is None:
        if docs is None:
            raise ValueError("need docs or edges")
        edges = _host_edges(docs, url_col, html_col, redirects)
    else:
        if redirects is not None:
            raise ValueError(
                "redirects collapse applies to the docs path; "
                "host-level edges are already past url resolution"
            )
        edges = _normalize_edges(edges)

    outd = edges.groupBy("src_host").agg(F.count("*").alias("out_degree"))
    edges = _snapshot(edges.join(outd, "src_host"), checkpoint_dir, "edges")
    nodes = _snapshot(
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct(),
        checkpoint_dir,
        "nodes",
    )
    base = 10**9
    teleport = (base * (1_000_000 - damping_e6)) // 1_000_000
    ranks = nodes.withColumn("rank_e9", F.lit(base).cast("bigint"))
    for it in range(1, iters + 1):
        contribs = (
            edges.join(ranks, edges["src_host"] == ranks["host"])
            .select(
                F.col("dst_host").alias("host"),
                # SQL `div`: EXACT int64 division — a double round-trip
                # (floor(a/b)) silently misrounds past 2^53, which real
                # graph masses reach
                F.expr("rank_e9 div out_degree").cast("bigint").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "host", "left")
            .select(
                "host",
                (
                    F.lit(teleport)
                    # decimal(38) product: inflow * damping_e6 can pass
                    # int64 (mass 10^18 x 10^6), and the /1e6 quotient
                    # has exactly 6 fractional digits so the decimal
                    # divide is exact and floor == integer div
                    + F.floor(
                        F.coalesce("inflow", F.lit(0)).cast("decimal(38,0)")
                        * damping_e6
                        / F.lit(1_000_000)
                    )
                ).cast("bigint").alias("rank_e9"),
            )
        )
        if checkpoint_dir is None:
            ranks = ranks.localCheckpoint()
        elif it % checkpoint_every == 0 or it == iters:
            # alternate two snapshot slots: parquet overwrite of the
            # directory being read would race its own scan
            ranks = _snapshot(ranks, checkpoint_dir, f"ranks_{it % (2 * checkpoint_every)}")
    return ranks


def resolve_redirects(
    records: DataFrame,
    *,
    max_hops: int = 16,
    url_col: str = "url",
    status_col: str = "http_status",
    location_col: str = "location",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Collapse redirect chains in crawl envelope records to their
    final targets: (url, final_url, hops, terminal) — one row per
    redirect-SOURCE url.

    A real crawl is ~1/5 redirects; until a→b→c chains are collapsed,
    the same page lives in the corpus under every alias (dedup misses
    them — different urls, same bytes fetched once) and the frontier
    wastes fetches on hop-middles. Input: ingest-table rows carrying
    the envelope columns (``sources/warc.read_warc`` retains
    ``http_status`` + ``location``). The Location header may be a
    RELATIVE reference (RFC 9110 §10.2.2) — resolved against the
    source url via the same RFC 3986 §5 merge as page-level link
    resolution (:func:`resolve_links`), with ``keep_scheme=True``:
    an https source's relative Location must resolve to an https
    final_url or the chain breaks at the join key and a mid-chain
    endpoint reads as terminal. A url with conflicting targets
    across records resolves to the lexicographically smallest
    (deterministic; pre-filter to the latest snapshot for time-aware
    semantics). Unresolvable Locations are dropped with the record.

    ``terminal`` is true when the chain ended (final_url is not itself
    a redirect source) within ``max_hops``; false means a cycle or a
    longer-than-max chain — callers must NOT treat such final_urls as
    content pages. ``hops`` is the exact chain length for terminal
    rows (cycles report the pointer-doubling walk distance, a
    power-of-two overshoot — disclosed, not meaningful beyond
    "not terminal").

    Scale shape — POINTER DOUBLING, not per-hop walking: each of the
    ceil(log2(max_hops)) rounds composes the map with itself (one
    equi-join on the chain key), so a 10^9-edge redirect table resolves
    16-hop chains in 4 shuffles instead of 16. Rounds are snapshotted
    (localCheckpoint, or parquet under ``checkpoint_dir`` at cluster
    scale — same contract as :func:`host_pagerank`) which also stops
    Catalyst recomputing the self-join's shared subtree. DuckDB
    recursive-CTE oracle in tests/test_webgraph.py.
    """
    import math

    hops_cap = max(1, int(max_hops))
    rounds = max(1, math.ceil(math.log2(hops_cap)))
    redirects = records.where(
        F.col(status_col).between(300, 399)
        & F.col(location_col).isNotNull()
        & (F.trim(F.col(location_col)) != "")
    ).select(
        F.col(url_col).alias("src_url"),
        F.trim(F.col(location_col)).alias("href"),
    )
    edges = _snapshot(
        resolve_links(redirects, page_level=True, keep_scheme=True)
        .where(F.col("resolved").isNotNull())
        .groupBy(F.col("src_url").alias("src"))
        .agg(F.min("resolved").alias("dst")),
        checkpoint_dir,
        "edges",
    )
    m = edges.select("src", "dst", F.lit(1).cast("bigint").alias("hops"))
    for r in range(rounds):
        nxt = m.select(
            F.col("src").alias("n_src"),
            F.col("dst").alias("n_dst"),
            F.col("hops").alias("n_hops"),
        )
        m = _snapshot(
            m.join(nxt, m["dst"] == nxt["n_src"], "left").select(
                "src",
                F.coalesce("n_dst", "dst").alias("dst"),
                (F.col("hops") + F.coalesce("n_hops", F.lit(0))).alias("hops"),
            ),
            checkpoint_dir,
            f"m_{r % 2}",
        )
    srcs = edges.select(F.col("src").alias("dst"), F.lit(True).alias("__is_src__"))
    return (
        m.join(srcs, "dst", "left")
        .select(
            F.col("src").alias("url"),
            F.col("dst").alias("final_url"),
            F.col("hops").cast("int").alias("hops"),
            (
                F.col("__is_src__").isNull() & (F.col("hops") <= hops_cap)
            ).alias("terminal"),
        )
    )


def follow_redirects(
    df: DataFrame, redirects: DataFrame, *, col: str = "resolved"
) -> DataFrame:
    """Rewrite url column ``col`` through TERMINAL redirect mappings
    from :func:`resolve_redirects`: a value that names a redirect
    source is re-aimed at its chain's final url, everything else
    (including nulls and cycle members — re-aiming at a cycle buys
    nothing) passes through verbatim. The standard post-redirect
    collapse for link graphs: an edge into a 301 source is an edge
    into its target, or PageRank mass and anchor evidence pool on
    urls that serve no content.

    Plan shape: ONE left equi-join on the url — both sides
    crawl-scale, hash-partitioned, no broadcast assumption; never
    all-pairs, never a window. DuckDB left-join oracle in
    tests/test_webgraph.py.
    """
    m = redirects.where(F.col("terminal")).select(
        F.col("url").alias("__rd_src__"),
        F.col("final_url").alias("__rd_dst__"),
    )
    return (
        df.join(m, df[col] == m["__rd_src__"], "left")
        .withColumn(col, F.coalesce("__rd_dst__", F.col(col)))
        .drop("__rd_src__", "__rd_dst__")
    )


def host_anchor_texts(
    docs: DataFrame,
    k: int = 5,
    url_col: str = "url",
    html_col: str = "html",
    redirects: DataFrame | None = None,
) -> DataFrame:
    """Top-k anchor texts per TARGET host — how the rest of the web
    describes a host (the anchor-text signal search and curation both
    use: a host whose inbound anchors are all "cheap pills" is telling
    you something its own pages won't).

    Returns (host, anchor, n_refs, host_refs, rnk), rnk 1..k per host;
    ``host_refs`` is the host's TOTAL inbound cross-host reference
    count over ALL its anchors (computed before the top-k cut, so
    consumers get the untruncated signal). Only CROSS-host anchors
    count (same-host nav text describes the site's menu, not its
    reputation) and empty anchors are dropped. Optional ``redirects``
    (a :func:`resolve_redirects` frame) collapses targets through
    :func:`follow_redirects` first, so anchor evidence pools on the
    host that serves the content — anchors whose collapse lands back
    on the source host become same-host and drop, by the same rule.
    Plan: map-side link harvest -> one groupBy((host, anchor)) count
    -> per-host window top-k with a deterministic (count DESC, anchor
    ASC) tie-break; the windows partition by host, never a single
    global partition.
    """
    links = resolve_links(extract_links(docs, url_col, html_col))
    if redirects is not None:
        # same pre-join null filter as _host_edges
        links = follow_redirects(
            links.where(F.col("resolved").isNotNull()), redirects
        )
    pairs = (
        links.where(F.col("resolved").isNotNull())
        .select(
            url_host(F.col("src_url")).alias("src_host"),
            url_host(F.col("resolved")).alias("host"),
            F.lower(F.col("anchor")).alias("anchor"),
        )
        .where(
            (F.col("src_host") != "")
            & (F.col("host") != "")
            & (F.col("src_host") != F.col("host"))
            & (F.col("anchor") != "")
        )
    )
    counts = pairs.groupBy("host", "anchor").agg(
        F.count("*").cast("int").alias("n_refs")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(F.desc("n_refs"), F.asc("anchor"))
    wh = Window.partitionBy("host")
    return (
        counts.withColumn("host_refs", F.sum("n_refs").over(wh).cast("int"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
    )


def enrich_with_anchors(
    docs: DataFrame, anchors: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Attach the web's description of each document's host as a
    feature column — the anchor-text-as-data trick (inbound anchor
    text is how search engines have described pages since PageRank;
    for training data it is an auxiliary relevance/quality signal and
    a retrieval key).

    ``anchors`` is ``host_anchor_texts`` output (host, anchor, n_refs,
    host_refs, rnk). Each doc gains ``anchor_texts`` (array<string>,
    rnk-ordered — the deterministic top-k) and ``n_anchor_refs`` (the
    host's TOTAL inbound cross-host references — host_refs is computed
    before the top-k cut, so the count is not k-truncated); hosts with
    no inbound anchors get [] / 0, and rows pass through otherwise
    unchanged — including any pre-existing ``host`` column (the join
    key is privately aliased).

    Plan: the anchors side collapses FIRST to one row per host
    (sort_array of (rnk, anchor) structs -> ordered array: an agg, not
    a window) and at web scale hosts are ~10^7-10^8 rows of short
    strings — broadcastable after the collapse; the join adds no
    doc-side shuffle either way because it keys on the map-side host
    expression.
    """
    per_host = anchors.groupBy(F.col("host").alias("__ahost__")).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("rnk", "anchor"))),
            lambda s: s["anchor"],
        ).alias("anchor_texts"),
        F.max("host_refs").cast("int").alias("n_anchor_refs"),
    )
    out = docs.withColumn("__host__", url_host(F.col(url_col))).join(
        per_host, F.col("__host__") == F.col("__ahost__"), "left"
    )
    return (
        out.drop("__ahost__", "__host__")
        .withColumn(
            "anchor_texts",
            F.coalesce("anchor_texts", F.array().cast("array<string>")),
        )
        .withColumn("n_anchor_refs", F.coalesce("n_anchor_refs", F.lit(0)))
    )
