"""Deduplication operators over a documents table.

All variants are declarative DataFrame plans (shuffle-conscious):

* exact        — one groupBy on a content hash (map-side combine free);
* n-gram Jaccard — shingle explode + self-equi-join on shingle, then one
                 aggregation per candidate pair (the classic
                 inverted-index plan: only docs sharing >=1 shingle ever
                 meet, so no O(n^2) cross join);
* MinHash+LSH  — per-(doc, band) min-hash signature via min(md5(band||shingle)),
                 candidates = equi-join on (band, signature): band
                 collisions are the ONLY join fan-in, which is the whole
                 point of LSH at 10^12 rows;
* SimHash      — 64-bit signature in a vectorized pandas UDF (bit-level
                 math is not expressible without a 64x row blowup);
                 near-dups = band join on 4 x 16-bit chunks + Hamming check;
* embedding    — cosine >= threshold pairs; brute force at small scale,
                 LSH/IVF route in operators/similarity.py at large scale.

Hash choice: md5 (not xxhash64) wherever a DuckDB oracle must reproduce
the value — md5 is bit-identical across both engines.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from fusus_spark.functions.text import cosine, norm_ws, shingles, tokens
from fusus_spark.session import drop_zip_finders


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized text hash.

    Returns (doc_id, rep_id, content_hash, group_size); rep_id = min id
    of the group; is_dup derivable as doc_id != rep_id. One shuffle.
    """
    h = docs.select(
        F.col(id_col).alias("doc_id"), F.md5(norm_ws(text_col)).alias("content_hash")
    )
    groups = h.groupBy("content_hash").agg(
        F.min("doc_id").alias("rep_id"), F.count("*").alias("group_size")
    )
    return (
        h.join(groups, "content_hash")
        .select("doc_id", "rep_id", "content_hash", "group_size")
    )


def doc_shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle)."""
    return docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")).select(
        "doc_id", F.explode(F.array_distinct(shingles("t", n))).alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate pairs with n-gram Jaccard >= threshold.

    Plan: inverted index join on shingle (only co-occurring docs meet),
    one agg for intersection size, equi-joined per-doc set sizes (no
    broadcast hint: the sizes tables are corpus-sized, so the join
    strategy is left to Spark's size estimate).
    Returns (doc_a, doc_b, inter, size_a, size_b, jaccard), doc_a < doc_b.

    ``df_cap`` is the standard inverted-index stop-shingle prefilter:
    shingles whose document frequency exceeds the cap are dropped from
    the shingle universe — intersections AND set sizes alike, so the
    Jaccard is computed consistently over the filtered space. Without
    it a single hot shingle (df = h) produces h^2/2 join rows: at
    10^12 docs that one key degenerates the inverted index toward
    all-pairs. The hot set is tiny by construction (few shingles can be
    hot), so the exclusion is a broadcast anti-join, and the shuffled
    fan-in per surviving shingle is bounded by df_cap.
    """
    sh = doc_shingles(docs, n, id_col, text_col)
    if df_cap is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > df_cap)
            .select("shingle")
        )
        # materialize once: sh feeds the df agg, both self-join sides
        # and the size agg — Catalyst would recompute the explode 4x
        # (it does not reuse exchanges across self-join sides). Scale
        # note: this is a shingle-table-sized executor-local
        # materialization; at the 100-TB design point a job would
        # substitute a reliable checkpoint dir / persisted intermediate
        # table (fault-tolerant storage) for localCheckpoint — the
        # 4-consumer reuse itself is the right plan either way, unlike
        # ngram_xent's 2-consumer case where re-deriving from the
        # source is strictly cheaper.
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti").localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")


def minhash_signatures(
    docs: DataFrame,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(doc, band) MinHash signature: min(md5(band || ':' || shingle)).

    ZERO-shuffle plan: all of a document's shingles live in one row's
    array, so each band's minimum is computed map-side with
    ``array_min(transform(shingles, s -> md5(band:s)))`` — no shingle
    explode, no groupBy. Only the tiny (doc_id, band, sig) rows (bands
    per doc) ever reach the LSH join's shuffle, which at 10^12 docs is
    the difference between shuffling ~shingle_count rows and ~8 rows per
    document. The md5 string-min is a valid min-hash family member per
    band and is exactly reproducible in the DuckDB oracle.
    """
    pruned = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t")).select(
        "doc_id", F.array_distinct(shingles("t", n)).alias("sh")
    )
    def _band_min(band: int):
        # NB: must be a ONE-argument lambda — a second (defaulted) python
        # parameter would make pyspark pass the (element, index) form of
        # ``transform`` and the band constant would silently become the
        # element index.
        return F.array_min(
            F.transform(F.col("sh"), lambda s: F.md5(F.concat_ws(":", F.lit(band), s)))
        )

    sig_arr = F.array(*[_band_min(band) for band in range(bands)])
    return (
        pruned.select("doc_id", F.posexplode(sig_arr).alias("band", "sig"))
        # docs with no shingles (< n tokens) emit no signature rows,
        # matching the explode-based formulation
        .where(F.col("sig").isNotNull())
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    bands: int = 8,
    n: int = 3,
    min_band_matches: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidate pairs: docs colliding on >= k of the LSH bands.

    Join key = (band, sig) — the LSH bucket — so join fan-in is only real
    collisions. Returns (doc_a, doc_b, band_matches).

    The signature table is materialized (localCheckpoint) before the
    self-join: Catalyst does not reuse the exchange across the two join
    sides, so without it the whole shingle+md5 pipeline runs twice. The
    table is tiny (``bands`` rows per doc) relative to the input.
    """
    sigs = minhash_signatures(docs, bands, n, id_col, text_col).localCheckpoint()
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("band_matches"))
        .where(F.col("band_matches") >= min_band_matches)
    )


# ---------------------------------------------------------------------------
# SimHash (pandas-UDF signature; bit math is the genuine non-SQL case)

_SIMHASH_SCHEMA = "doc_id long, simhash long"


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document via a vectorized Arrow batch UDF.

    Token hash = first 8 bytes of md5 (stable everywhere); signature bit
    i = sign of sum over tokens of (bit_i ? +1 : -1). Returned as signed
    int64 (two's complement).
    """
    pruned = docs.select(F.col(id_col).alias("doc_id"), norm_ws(text_col).alias("t"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        import hashlib

        import numpy as np

        for pdf in batches:
            # whole-batch vectorization: hash each UNIQUE token once,
            # broadcast its ±1 bit rows to every occurrence, segment-sum
            # per document — no per-token python in the inner loop
            texts = pdf["t"].tolist()
            counts = np.empty(len(texts), dtype=np.int64)
            all_toks: list[str] = []
            for i, t in enumerate(texts):
                toks = t.split(" ") if t else []
                counts[i] = len(toks)
                all_toks.extend(toks)
            if not all_toks:
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"], "simhash": np.zeros(len(texts), np.int64)}
                )
                continue
            uniq, inv = np.unique(np.asarray(all_toks, dtype=object), return_inverse=True)
            digests = np.frombuffer(
                b"".join(hashlib.md5(u.encode()).digest()[:8] for u in uniq),
                dtype=np.uint8,
            ).reshape(-1, 8)
            unit = 2 * np.unpackbits(digests, axis=1).astype(np.int64) - 1  # (U, 64)
            doc_idx = np.repeat(np.arange(len(texts)), counts)
            acc = np.zeros((len(texts), 64), dtype=np.int64)
            # sub-chunk the scatter-add by token count: materializing
            # unit[inv] for the WHOLE batch is 512 bytes/token — at
            # 2048 realistic web docs/batch that is multiple GB; capping
            # each pass bounds the transient to ~512 MB
            cap = 1_000_000
            for lo in range(0, len(inv), cap):
                hi = min(lo + cap, len(inv))
                np.add.at(acc, doc_idx[lo:hi], unit[inv[lo:hi]])
            packed = np.packbits((acc > 0).astype(np.uint8), axis=1)  # (D, 8)
            # big-endian bytes -> signed int64 (two's complement)
            sigs = packed.copy().view(">u8").ravel().astype(np.uint64).view(np.int64)
            sigs[counts == 0] = 0
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": sigs})

    return pruned.mapInPandas(run, schema=_SIMHASH_SCHEMA)


# Multi-block composite blocking for the SimHash candidate join
# (Manku/Das/Sarma WWW'07 multi-table design): the 64-bit signature is
# split into _SIMHASH_BLOCKS bit-blocks; for hamming <= k at most k
# blocks differ, so every near pair shares ALL blocks of at least one
# (BLOCKS - k)-combination. Joining on a composite key of BLOCKS-k
# blocks (~33 bits for k=3) instead of one 16-bit chunk is the whole
# scale story: expected bucket occupancy at 10^12 docs is
# 10^12 / 2^33 ~ 10^2 rows, vs ~10^7 per hot 16-bit chunk bucket whose
# within-bucket self-join is quadratic.
_SIMHASH_BLOCKS = (11, 11, 11, 11, 10, 10)  # sizes; sum = 64


def _simhash_block_cols():
    """One column expression per bit-block of the signature."""
    cols = []
    off = 0
    for size in _SIMHASH_BLOCKS:
        # arithmetic shiftright then mask: the mask truncates the sign
        # extension, so the top block (bits 54-63) is extracted correctly
        cols.append(F.expr(f"shiftright(simhash, {off}) & {(1 << size) - 1}"))
        off += size
    return cols


def simhash_pairs_from_sigs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_id, simhash) signatures -> all pairs with hamming <= max_hamming.

    Scale-safe plan in three collision-bounded pieces:

    1. **exact pre-collapse** — identical signatures are grouped first;
       within-group pairs are emitted directly (hamming 0) and only the
       DISTINCT signatures enter the blocking join, so a million
       identical docs meet the candidate join once, not 10^12 times;
    2. **composite-key blocking** — each distinct signature emits
       C(6, 6-k) composite keys of (6-k) bit-blocks; two signatures at
       hamming <= k differ in at most k blocks, hence share at least one
       full (6-k)-combination (pigeonhole), so the equi-join on
       (combo, block_key) is complete — and the keys are >= 31 bits wide,
       so no bucket degenerates toward all-pairs at 10^12 docs;
    3. **expansion** — surviving signature pairs (exact bit_count filter,
       JVM-side) are joined back to the member lists; output size equals
       the true pair count by definition.

    The all-pairs DuckDB oracle (ORACLE_DEDUP_SIMHASH) adjudicates
    completeness of this blocking, exactly as it caught the unsound
    hamming radius in round 1.
    """
    if not 1 <= max_hamming <= 3:
        raise ValueError("composite blocking is sized for 1 <= max_hamming <= 3")
    import itertools

    combo_size = len(_SIMHASH_BLOCKS) - max_hamming
    members = sigs.select("doc_id", "simhash")
    # piece 1: within-group pairs (identical signature = hamming 0)
    x = members.alias("x")
    y = members.alias("y")
    within = x.join(
        y,
        (F.col("x.simhash") == F.col("y.simhash"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    # piece 2: blocking over DISTINCT signatures only (materialized once
    # — it feeds both self-join sides and Catalyst would recompute the
    # distinct + explode on each)
    uniq = members.select("simhash").distinct().localCheckpoint()
    blocks = _simhash_block_cols()
    combo_structs = []
    for cid, combo in enumerate(itertools.combinations(range(len(_SIMHASH_BLOCKS)), combo_size)):
        key = blocks[combo[0]]
        for bi in combo[1:]:
            # uniform 11-bit stride: every block value < 2^11, and
            # combo_size <= 5 keeps the key under 2^55
            key = F.shiftleft(key, 11) + blocks[bi]
        combo_structs.append(
            F.struct(F.lit(cid).alias("combo"), key.alias("block_key"))
        )
    blocked = uniq.select("simhash", F.inline(F.array(*combo_structs)))
    a = blocked.alias("a")
    b = blocked.alias("b")
    sig_pairs = (
        a.join(
            b,
            (F.col("a.combo") == F.col("b.combo"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("sig_a"), F.col("b.simhash").alias("sig_b")
        )
        .dropDuplicates(["sig_a", "sig_b"])
        .withColumn("hamming", F.expr("bit_count(sig_a ^ sig_b)").cast("int"))
        .where(F.col("hamming") <= max_hamming)
    )
    # piece 3: expand signature pairs to doc pairs (each doc has exactly
    # one signature, so least/greatest gives the canonical order)
    ma = members.select(F.col("doc_id").alias("ida"), F.col("simhash").alias("sig_a"))
    mb = members.select(F.col("doc_id").alias("idb"), F.col("simhash").alias("sig_b"))
    cross = (
        sig_pairs.join(ma, "sig_a")
        .join(mb, "sig_b")
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            "hamming",
        )
    )
    return within.unionByName(cross)


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-dup pairs by SimHash: exact-signature pre-collapse + Manku
    composite-block candidate join + exact Hamming filter
    (``simhash_pairs_from_sigs`` documents the blocking proof).

    Signatures are materialized before the self-joins so the Arrow UDF
    runs once, not once per consumer (one int64 per doc — tiny).
    """
    sigs = simhash_signatures(docs, id_col, text_col).localCheckpoint()
    return simhash_pairs_from_sigs(sigs, max_hamming)


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: cluster_id = min doc_id
    reachable from each node (the canonical representative).

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; loop until fixpoint
    (checked with one count per round), lineage cut via localCheckpoint
    so the plan doesn't grow unboundedly. Rounds needed = graph
    diameter — small for dup clusters; ``max_iter`` bounds pathology.

    Input: (doc_a, doc_b) pairs. Output: (doc_id, cluster_id) for every
    node that appears in at least one pair.
    """
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a").agg(F.min("label").alias("nlabel"))
        )
        # one materialization per round carries BOTH the new label and
        # the old one, so convergence is checked on the checkpointed
        # result without a second old-vs-new join
        joined = (
            labels.join(neigh, labels["node"] == neigh["a"], "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        changed = joined.where(F.col("label") != F.col("old_label")).count()
        labels = joined.select("node", "label")
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def cluster_representatives(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score_e6",
) -> DataFrame:
    """Quality-based survivor selection per dup cluster — the keep-the-
    BEST-copy policy real training pipelines use (SemDeDup/FineWeb keep
    the highest-quality member of a near-dup cluster; min-id is only
    the determinism fallback when no quality signal exists).

    Input: ``clusters`` (doc_id, cluster_id) — dup_clusters output —
    and ``quality`` (doc_id, score_e6), e.g. curation_gate token counts
    or quality_score; integer scores keep the choice oracle-exact.
    Members missing from ``quality`` score 0 (never preferred over a
    scored twin, still eligible as last resort).

    Returns (cluster_id, rep_id, rep_score_e6, n_members). Survivor =
    max score, doc_id ASC tie-break — deterministic and rerun-stable.
    Plan: one corpus-wide equi-join (doc_id, co-partitioned at scale
    with the cluster shuffle) + ONE groupBy(cluster) max-of-struct
    (partial-agg'd); no window, no per-cluster sort — the same
    sort-free argument as apply_host_policy's cap: big clusters are
    exactly the ones a window would straggle on.
    """
    q = quality.select(
        F.col(id_col).alias("__qid__"), F.col(score_col).alias("__score__")
    )
    m = (
        clusters.select(F.col(id_col).alias("doc_id"), F.col(cluster_col).alias("cluster_id"))
        .join(q, F.col("doc_id") == F.col("__qid__"), "left")
        .select(
            "cluster_id",
            "doc_id",
            F.coalesce("__score__", F.lit(0)).cast("bigint").alias("score"),
        )
    )
    # max(struct(score, -doc_id)): highest score wins, smallest doc_id
    # on ties (negation flips the struct comparison's second key)
    best = F.max(F.struct(F.col("score"), (-F.col("doc_id")).alias("nid")))
    return m.groupBy("cluster_id").agg(
        (-best["nid"]).cast("long").alias("rep_id"),
        best["score"].alias("rep_score_e6"),
        F.count("*").cast("int").alias("n_members"),
    )


def embedding_near_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force; the all-pairs
    correctness oracle for tests — production path is
    embedding_lsh_pairs below)."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = cosine(
        F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")
    )
    return (
        pairs.withColumn("cos_sim", F.round(sim, 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_lsh_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    band_bits: int = 4,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs at scale: RP-LSH band candidates + exact
    cosine verify — the same collision-only fan-in as the MinHash band
    join, replacing the all-pairs theta join (a cartesian at 10^9
    vectors). Candidates = vector pairs sharing >= 1 of the
    n_planes/band_bits signature bands; each candidate is verified with
    the exact (rounded) cosine. Recall < 1.0 by construction — the
    approximation is part of the operator's declared semantics, and the
    DuckDB oracle replicates the identical seeded hyperplanes, so the
    full pipeline stays hash-verified (see web_queries.q_dedup_embedding).

    Signatures are materialized (localCheckpoint) before the self-join:
    Catalyst does not reuse the exchange across join sides, and the
    16-dot signature pipeline must run once, not twice. Only the
    (id, band, band_val) keys are checkpointed — the vector column is
    NOT replicated per band nor materialized executor-locally (at 10^9
    x 256 B vectors x 4 bands that would be a TB-scale local spill);
    the exact-verify vectors come from two hash-joins back to the
    columnar source, touching only the candidate ids.
    """
    from fusus_spark.operators.similarity import rp_banded, rp_planes

    planes = rp_planes(n_planes, dim, seed)
    banded = rp_banded(
        emb, id_col, vec_col, planes, band_bits, keep_vec=False
    ).localCheckpoint()
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")), "id_a")
        .join(emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")), "id_b")
    )
    sim = cosine(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>"))
    return (
        cand.withColumn("cos_sim", F.round(sim, 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new crawl vs the accumulated corpus snapshot.
#
# A training pipeline rarely dedups one crawl in isolation — crawl N+1
# must drop content already in crawls 1..N without re-shuffling the
# whole historical corpus every run. Three pieces:
#
#   write_hash_store  — persist the snapshot's content hashes PARTITIONED
#                       BY HASH PREFIX (256 dirs), so later verify joins
#                       prune to the directories that can possibly match;
#   build_hash_bloom  — a bloom filter over the snapshot, built
#                       DISTRIBUTED (positions -> word/bit -> one
#                       bit_or groupBy); only the finished nonzero
#                       (word, bits) pairs reach the driver, via Arrow
#                       (columnar, no per-row Row objects);
#   incremental_dedup — flag each new doc as seen/unseen: map-side bloom
#                       prefilter passes definite-new docs untouched,
#                       and only the "maybe" rows (true dups + the fpp
#                       tail) meet the hash store in a partition-pruned
#                       exact join, so false positives can never drop a
#                       novel document.
#
# Scale honesty: the driver-held bitmap gates at _BLOOM_MAX_BITS
# (128 MiB bitmap ~ 10^8 hashes at 1% fpp; the Arrow transfer of the
# nonzero words runs ~2x that transiently, which is why the gate is NOT
# 1 GiB). Beyond the gate, skip the bloom and rely on the
# prefix-partitioned store alone — the exact join is then a standard
# co-partitioned anti-join, which is how 10^12-row dedup actually ships;
# the bloom is the fast path for the common "snapshot fits a bitmap"
# regime, not a requirement.

_BLOOM_MAX_BITS = 1 << 30


class HashBloom:
    """Driver-held bloom bitmap over md5-hex content hashes.

    Probe position i of hash h = int(md5(f"{i}:{h}")[:13 hex], 16) % m.
    Builder AND prober compile the positions from the one
    ``_probe_positions`` JVM expression; the prober then tests the
    bitmap with a whole-batch numpy gather (no per-row python, no
    hashlib in the hot path). ``maybe_contains`` is the driver-side
    reference implementation kept for tests/spot checks.
    """

    def __init__(self, words: "list[int]", m_bits: int, k: int):
        import numpy as np

        self.words = np.asarray(words, dtype=np.int64)
        self.m_bits = m_bits
        self.k = k

    def maybe_contains(self, h: str) -> bool:
        import hashlib

        for i in range(self.k):
            pos = int(hashlib.md5(f"{i}:{h}".encode()).hexdigest()[:13], 16) % self.m_bits
            if not (int(self.words[pos >> 6]) >> (pos & 63)) & 1:
                return False
        return True


def bloom_params(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Textbook sizing: m = -n ln p / ln^2 2 (rounded up to whole
    64-bit words), k = (m/n) ln 2."""
    import math

    n = max(1, expected_items)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    if m > _BLOOM_MAX_BITS:
        raise ValueError(
            f"bloom of {m} bits exceeds the driver-held cap ({_BLOOM_MAX_BITS}); "
            "use the prefix-partitioned store without a bloom at this scale"
        )
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _probe_positions(col: str, m_bits: int, k: int) -> Column:
    """The k bloom probe positions of an md5-hex hash as ONE JVM array
    expression — the single implementation both the builder and the
    prober compile against, so build/probe parity is by construction
    (probe i = conv(md5(f"{i}:{h}")[:13 hex]) % m)."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col(col))), 1, 13),
                    16, 10,
                ).cast("long")
                % m_bits
            ).alias(f"p{i}")
            for i in range(k)
        ]
    )


def build_hash_bloom(
    hashes: DataFrame, expected_items: int, fpp: float = 0.01, col: str = "content_hash"
) -> HashBloom:
    """Build the bloom distributed: each hash emits its k probe
    positions map-side; positions fold to (word_idx, or-of-bits) in ONE
    bit_or groupBy (partial-agg'd, so the shuffle carries at most
    m/64 rows per task); the finished nonzero words reach the driver as
    TWO Arrow int64 columns (no per-row Row materialization — at the
    size gate that difference is tens of GB vs ~256 MB transient)."""
    m, k = bloom_params(expected_items, fpp)
    pos = hashes.select(F.explode(_probe_positions(col, m, k)).alias("pos"))
    import numpy as np

    words = (
        pos.select(
            (F.col("pos") / 64).cast("long").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .toPandas()  # Arrow path: two int64 numpy columns
    )
    arr = np.zeros(m // 64, dtype=np.int64)
    arr[words["w"].to_numpy()] = words["bits"].to_numpy()
    return HashBloom(arr, m, k)


def write_hash_store(
    docs: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text",
    mode: str = "append",
) -> None:
    """Persist (prefix, content_hash, doc_id) partitioned by the first
    two hex chars — 256 directories, so incremental verify joins read
    only the slices that can match. ``mode='append'`` accumulates
    snapshots; rewriting a snapshot is the ledger's atomic-rename job."""
    h = docs.select(
        F.col(id_col).alias("doc_id"), F.md5(norm_ws(text_col)).alias("content_hash")
    ).withColumn("prefix", F.substring("content_hash", 1, 2))
    h.write.mode(mode).partitionBy("prefix").parquet(path)


def incremental_dedup(
    new_docs: DataFrame,
    store_path: str,
    bloom: HashBloom | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag new-crawl docs against the accumulated hash store:
    (doc_id, content_hash, is_seen). Callers drop ``is_seen`` rows (and
    then exact-dedup WITHIN the batch via exact_duplicates — this
    operator is the cross-snapshot tier, not the in-batch one).

    With a bloom: definite-new docs are decided entirely map-side; only
    maybe rows join the store, and the verify join is partition-pruned
    to the maybe rows' prefixes (collected — at most 256 values, and few
    when the bloom filters well), so the scan touches only matching
    directories. Bloom false positives come back is_seen=false from the
    exact join, never dropped. WITHOUT a bloom every row is a maybe, so
    a prefix-collect job would scan the batch once just to learn "all
    256" — the bloom-less path therefore joins the full store directly
    (one pass over each side, the standard co-partitioned shape).
    """
    spark = new_docs.sparkSession
    h = new_docs.select(
        F.col(id_col).alias("doc_id"), F.md5(norm_ws(text_col)).alias("content_hash")
    )
    store = spark.read.parquet(store_path)
    if bloom is not None:
        words, m_bits = bloom.words, bloom.m_bits

        @F.pandas_udf("boolean")
        def test_bits(pos: pd.Series) -> pd.Series:
            drop_zip_finders()
            # whole-batch numpy over JVM-computed probe positions: one
            # gather into the broadcast bitmap (words rides the closure;
            # per-row python — the old s.map(md5...) loop — is gone).
            # Null content hashes (null/absent text) produce null
            # positions -> maybe=False: a null hash can never equal a
            # store hash, so the doc is definite-new, same verdict the
            # exact join would return — and the batch must not crash.
            import numpy as np

            if len(pos) == 0:
                return pd.Series([], dtype=bool)
            p = np.stack(pos.to_numpy())  # (batch, k); object/float if nulls
            bad = pd.isna(p).any(axis=1)
            out = np.zeros(len(pos), dtype=bool)
            if (~bad).any():
                pv = np.stack(p[~bad]).astype(np.int64)
                bits = words[pv >> 6] >> (pv & 63)
                out[~bad] = (bits & 1).all(axis=1)
            return pd.Series(out)

        # probe positions via the SAME JVM expression the builder used
        # (md5 stays JVM-side; _probe_positions is the single spec).
        # checkpoint: h feeds both branches; without it the scan + UDF
        # run once per consumer
        h = h.withColumn(
            "__maybe__",
            test_bits(_probe_positions("content_hash", m_bits, bloom.k)),
        ).localCheckpoint()
        definite_new = h.where(~F.col("__maybe__")).select(
            "doc_id", "content_hash", F.lit(False).alias("is_seen")
        )
        maybes = h.where(F.col("__maybe__")).drop("__maybe__")
        prefixes = [
            r["p"]
            for r in maybes.select(
                F.substring("content_hash", 1, 2).alias("p")
            ).distinct().collect()
        ]
        if not prefixes:
            return definite_new
        store = store.where(F.col("prefix").isin(prefixes))  # pruned scan
    else:
        definite_new = None
        maybes = h
    seen = store.select("content_hash").distinct().withColumn("__seen__", F.lit(True))
    checked = maybes.join(seen, "content_hash", "left").select(
        "doc_id", "content_hash",
        F.coalesce("__seen__", F.lit(False)).alias("is_seen"),
    )
    return checked if definite_new is None else definite_new.unionByName(checked)
