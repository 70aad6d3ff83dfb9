"""Operator-level tests: dedup signatures, ANN recall, multimodal stubs."""

from __future__ import annotations

import hashlib

from fusus_spark.operators.multimodal import decode_stub, media_features, sniff_media_type


def test_sniff_media_type():
    assert sniff_media_type(b"\x89PNG\r\n") == "image/png"
    assert sniff_media_type(b"\xff\xd8\xff\xe0") == "image/jpeg"
    assert sniff_media_type(b"plain") == "application/octet-stream"


def test_decode_stub_deterministic():
    a = decode_stub(b"payload")
    b = decode_stub(b"payload")
    assert a == b
    assert len(a[2]) == 8 and all(0 <= v <= 1 for v in a[2])


def _tiny_png(width: int, height: int) -> bytes:
    """A minimal valid PNG (signature + IHDR + IDAT + IEND) built with
    stdlib only — the test golden for the real header-decode path."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # 8-bit gray
    raw = b"".join(b"\x00" + b"\x7f" * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_parse_png_ihdr_real_dims():
    from fusus_spark.operators.multimodal import parse_png_ihdr

    assert parse_png_ihdr(_tiny_png(7, 3)) == (7, 3)
    assert parse_png_ihdr(_tiny_png(640, 480)) == (640, 480)
    # corrupted CRC -> rejected (fall back to stub, never garbage dims)
    good = bytearray(_tiny_png(7, 3))
    good[20] ^= 0xFF
    assert parse_png_ihdr(bytes(good)) is None
    assert parse_png_ihdr(b"\x89PNG\r\n\x1a\n" + b"trunc") is None
    assert parse_png_ihdr(b"not a png at all") is None


def test_resize_images_png_real_dims(spark):
    """resize_images feeds the aspect-fit geometry the REAL PNG dims."""
    from fusus_spark.operators.multimodal import resize_images

    png = _tiny_png(640, 160)  # 4:1 aspect
    df = spark.createDataFrame([("png://a", bytearray(png))],
                               "url string, payload binary")
    r = resize_images(df, target=64).collect()[0]
    assert (r["width"], r["height"]) == (640, 160)
    assert (r["out_width"], r["out_height"]) == (64, 16)


def test_media_features_png_real_dims(spark):
    """media_features: PNG payloads get REAL IHDR dims; non-PNG payloads
    keep the deterministic stub dims."""
    from fusus_spark.operators.multimodal import media_features

    png = _tiny_png(320, 200)
    other = b"plain bytes payload"
    df = spark.createDataFrame(
        [("png://a", bytearray(png)), ("txt://b", bytearray(other))],
        "url string, payload binary",
    )
    got = {r["url"]: r for r in media_features(df).collect()}
    assert got["png://a"]["media_type"] == "image/png"
    assert (got["png://a"]["width"], got["png://a"]["height"]) == (320, 200)
    w, h, _ = decode_stub(other)
    assert (got["txt://b"]["width"], got["txt://b"]["height"]) == (w, h)


def _simhash_reference(text: str) -> int:
    """Independent pure-python SimHash (cross-checks the numpy UDF)."""
    toks = text.split(" ") if text else []
    if not toks:
        return 0
    acc = [0] * 64
    for tok in toks:
        digest = hashlib.md5(tok.encode()).digest()[:8]
        for i in range(64):
            byte = digest[i // 8]
            bit = (byte >> (7 - (i % 8))) & 1  # MSB-first, matching unpackbits
            acc[i] += 1 if bit else -1
    sig = 0
    for i in range(64):
        if acc[i] > 0:
            sig |= 1 << (63 - i)  # packbits: first bit is MSB
    if sig >= 1 << 63:
        sig -= 1 << 64
    return sig


def test_simhash_matches_reference(spark):
    from fusus_spark.operators.dedup import simhash_signatures

    rows = [(0, "alpha beta gamma"), (1, "alpha beta gamma delta"), (2, ""), (3, "zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    for doc_id, text in rows:
        assert got[doc_id] == _simhash_reference(text), doc_id


def test_simhash_near_docs_closer(spark):
    from fusus_spark.operators.dedup import simhash_signatures

    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [(0, base.strip()), (1, (base + "extra word").strip()),
            (2, "completely different content about spark engines and parquet files")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(sigs[0], sigs[1]) < ham(sigs[0], sigs[2])


def test_simhash_blocking_complete_vs_bruteforce(spark):
    """The composite-block candidate join finds EXACTLY the brute-force
    pair set at every supported radius (completeness of the 6-block
    pigeonhole, including identical-signature groups)."""
    import itertools
    import random

    from fusus_spark.operators.dedup import simhash_pairs_from_sigs

    rng = random.Random(13)
    base = rng.getrandbits(64)
    sigs = []
    # clusters around a few centers at small hamming radii + exact dups
    for center in (base, rng.getrandbits(64), 0, (1 << 64) - 1):
        sigs.append(center)
        for _ in range(6):
            s = center
            for bit in rng.sample(range(64), rng.randint(0, 4)):
                s ^= 1 << bit
            sigs.append(s)
    sigs.extend([base, base])  # identical-signature group of 3
    signed = [s - (1 << 64) if s >= 1 << 63 else s for s in sigs]
    df = spark.createDataFrame(
        list(enumerate(signed)), "doc_id long, simhash long"
    )
    for k in (1, 2, 3):
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_pairs_from_sigs(df, max_hamming=k).collect()
        }
        want = set()
        for (i, si), (j, sj) in itertools.combinations(enumerate(sigs), 2):
            h = bin(si ^ sj).count("1")
            if h <= k:
                want.add((min(i, j), max(i, j), h))
        assert got == want, f"radius {k}"


def test_simhash_hot_chunk_bucket_bounded(spark):
    """A deliberately hot 16-bit chunk bucket: 200 signatures share
    chunk0 == 0 but are mutually far (hamming >> 3). The retired
    chunk-value blocking would enqueue C(200,2) = 19900 candidate pairs
    for the Hamming filter; the composite-block join may produce only
    the odd random key collision (the hot chunk zeroes one block, the
    other five still carry ~48 random bits), proving fan-in is bounded
    by real near-duplicates, not by hot chunk values."""
    import itertools
    import random

    from fusus_spark.operators.dedup import (
        _SIMHASH_BLOCKS,
        simhash_pairs_from_sigs,
    )

    rng = random.Random(99)
    sigs = set()
    while len(sigs) < 200:
        # low 16 bits forced to 0 (the hot chunk); high 48 bits random —
        # two random 48-bit halves collide in < 3 of the remaining blocks
        # with overwhelming probability
        sigs.add(rng.getrandbits(48) << 16)
    sigs = sorted(sigs)
    # verify the corpus is actually mutually far (sanity of the setup)
    sample = sigs[:40]
    assert all(
        bin(a ^ b).count("1") > 3
        for a, b in itertools.combinations(sample, 2)
    )
    signed = [s - (1 << 64) if s >= 1 << 63 else s for s in sigs]
    df = spark.createDataFrame(
        list(enumerate(signed)), "doc_id long, simhash long"
    )
    assert simhash_pairs_from_sigs(df, max_hamming=3).count() == 0
    # the blocking sees (at most) stray random key collisions, never the
    # 19900-pair hot-bucket blowup: emulate the candidate count
    # python-side over the same block layout
    def block_vals(s):
        vals, off = [], 0
        for size in _SIMHASH_BLOCKS:
            vals.append((s >> off) & ((1 << size) - 1))
            off += size
        return vals

    keys = set()
    collisions = 0
    for s in sigs:
        vals = block_vals(s)
        for combo in itertools.combinations(range(6), 3):
            key = (combo, tuple(vals[i] for i in combo))
            if key in keys:
                collisions += 1
            keys.add(key)
    assert collisions <= 5, collisions


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with all buckets probed == exact; fewer probes >= 40% recall
    on random vectors (documents the approximation contract)."""
    import random

    from fusus_spark.operators.similarity import brute_force_topk, ivf_topk, make_queries

    rng = random.Random(42)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = make_queries(emb, 3)
    exact = brute_force_topk(emb, queries, k=5)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    full = ivf_topk(emb, queries, k=5, n_centroids=4, n_probes=4)
    full_set = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert full_set == exact_set  # all buckets probed == exact

    approx = ivf_topk(emb, queries, k=5, n_centroids=8, n_probes=2)
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(approx_set & exact_set) / len(exact_set)
    assert recall >= 0.4, f"recall {recall}"


def test_rp_lsh_recall_vs_bruteforce(spark):
    """Random-hyperplane LSH: single-band (all 16 bits) collisions are
    rare, but banding into 4-bit chunks must recover >= 40% of exact
    top-5 on random vectors; signatures are deterministic across runs."""
    import random

    from fusus_spark.operators.similarity import (
        brute_force_topk,
        make_queries,
        rp_lsh_topk,
    )

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = make_queries(emb, 3)
    exact = brute_force_topk(emb, queries, k=5)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    approx = rp_lsh_topk(emb, queries, k=5, n_planes=16, band_bits=4, dim=16)
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(approx_set & exact_set) / len(exact_set)
    assert recall >= 0.4, f"recall {recall}"

    again = rp_lsh_topk(emb, queries, k=5, n_planes=16, band_bits=4, dim=16)
    assert {(r["query_id"], r["neighbor_id"]) for r in again.collect()} == approx_set


def test_embedding_lsh_pairs_sound_and_high_recall(spark):
    """embedding_lsh_pairs (the scale path replacing the all-pairs theta
    join): every emitted pair must pass the exact cosine check
    (soundness: LSH pairs are a subset of brute force at the same
    threshold), and on correlated near-dup vectors the band candidates
    recover most true pairs (near-dups agree on most hyperplane signs)."""
    import random

    from fusus_spark.operators.dedup import embedding_lsh_pairs, embedding_near_pairs

    rng = random.Random(11)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(40)]
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v))
        # a near-duplicate: tiny perturbation, cosine ~ 0.99+
        rows.append((2 * i + 1, [x + rng.gauss(0, 0.02) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_pairs(emb, threshold=0.95).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_lsh_pairs(
            emb, threshold=0.95, n_planes=16, band_bits=4, dim=16
        ).collect()
    }
    assert lsh <= exact, f"unsound pairs: {sorted(lsh - exact)[:5]}"
    planted = {(2 * i, 2 * i + 1) for i in range(40)} & exact
    recall = len(lsh & planted) / len(planted)
    assert recall >= 0.9, f"near-dup recall {recall}"


def test_ngram_xent_flags_outliers(spark):
    """The corpus cross-entropy filter must score a gibberish document
    far below normal prose (per-bigram logprob much more negative)."""
    from fusus_spark.operators.textstats import ngram_xent

    rows = [(i, "the cat sat on the mat and then the cat ran off") for i in range(20)]
    rows.append((99, "zq xv qj zx vq jx qz xq jv zj"))  # rare-bigram junk
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in ngram_xent(docs).collect()}
    avg = {k: v["sum_logprob_e6"] / v["n_bigrams"] for k, v in got.items()}
    assert avg[99] < avg[0] * 2, (avg[99], avg[0])  # much more negative
    # identical docs score identically
    assert len({avg[i] for i in range(20)}) == 1


def test_levenshtein_blocked_equals_all_pairs(spark):
    """The PassJoin segment prefilter must be COMPLETE: on adversarial
    random edits (substitutions, indels, joint) and short-prefix
    degenerates, the blocked join returns exactly the all-pairs
    result."""
    import itertools
    import random

    from fusus_spark.operators.align import _lev
    from fusus_spark.plans.web_queries import levenshtein_blocked_pairs

    rng = random.Random(13)
    al = "abcdefgh"
    rows = []
    base = ["".join(rng.choice(al) for _ in range(12)) for _ in range(25)]
    did = 0
    for s in base:
        rows.append((did, "en", s)); did += 1
        # 1-4 random edits of mixed kinds
        t = list(s)
        for _ in range(rng.randint(1, 4)):
            op = rng.choice("sid")
            pos = rng.randrange(len(t)) if t else 0
            if op == "s" and t:
                t[pos] = rng.choice(al)
            elif op == "i":
                t.insert(pos, rng.choice(al))
            elif t:
                del t[pos]
        rows.append((did, "en", "".join(t)[:12].ljust(12, "x")[:12]), ); did += 1
    # short-prefix degenerates
    for s in ("abc", "", "abcd", "abcde"):
        rows.append((did, "en", s)); did += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string, prefix string")

    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in levenshtein_blocked_pairs(docs).collect()
    }
    want = set()
    for (ia, _, pa), (ib, _, pb) in itertools.combinations(rows, 2):
        d = _lev(pa, pb)
        if d <= 4:
            want.add((min(ia, ib), max(ia, ib), d))
    assert got == want, (sorted(want - got)[:5], sorted(got - want)[:5])


def test_media_features_pipeline(spark):
    rows = [
        ("u1", bytearray(b"\x89PNG\r\n\x1a\nfakepng")),
        ("u2", bytearray(b"\xff\xd8\xff\xe0fakejpg")),
        ("u3", None),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in media_features(df).collect()}
    assert got["u1"]["media_type"] == "image/png"
    assert got["u2"]["media_type"] == "image/jpeg"
    assert got["u3"]["media_type"] == "application/octet-stream"
    assert got["u1"]["magic_hex"] == "89504E47"
    assert len(got["u1"]["feature"]) == 8
    assert got["u1"]["n_bytes"] == 15


def test_resize_and_frame_sample_pipelines(spark):
    from fusus_spark.operators.multimodal import frame_sample, resize_images

    rows = [
        ("u1", bytearray(b"\x89PNG\r\n\x1a\n" + b"x" * 500)),
        ("u2", bytearray(b"\x1a\x45\xdf\xa3" + b"v" * 1000)),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")

    rs = {r["url"]: r for r in resize_images(df, target=64).collect()}
    for r in rs.values():
        assert max(r["out_width"], r["out_height"]) == 64  # aspect fit
        assert len(bytes(r["resized"])) == r["out_width"] * r["out_height"]
    # deterministic across runs
    again = {r["url"]: bytes(r["resized"]) for r in resize_images(df, target=64).collect()}
    assert {u: bytes(r["resized"]) for u, r in rs.items()} == again

    fr = frame_sample(df, n_frames=4).collect()
    assert len(fr) == 8  # 4 frames per url, exploded in-batch
    by_url = {}
    for r in fr:
        by_url.setdefault(r["url"], []).append(r)
    for url, frames in by_url.items():
        idxs = sorted(f["frame_idx"] for f in frames)
        assert idxs == [0, 1, 2, 3]
        ts = [f["ts_ms"] for f in sorted(frames, key=lambda f: f["frame_idx"])]
        assert ts == sorted(ts) and ts[0] == 0  # uniform schedule from t=0


def test_exact_dedup_finds_dupes(spark):
    from fusus_spark.operators.dedup import exact_duplicates

    rows = [(0, "same text"), (1, "same  text "), (2, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in exact_duplicates(df).collect()}
    # whitespace-normalized: 0 and 1 are the same group, rep = min id
    assert got[0]["rep_id"] == 0 and got[1]["rep_id"] == 0
    assert got[1]["group_size"] == 2
    assert got[2]["group_size"] == 1


def test_ngram_jaccard_sizes_join_has_no_broadcast_hint(spark):
    """The per-doc set-size tables are corpus-sized: no broadcast hint
    forces them; Spark picks the join strategy from its size estimate."""
    from fusus_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(0, "a b c d e f g"), (1, "a b c d e f g h"), (2, "x y z w v")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(df, n=3, threshold=0.8)
    analyzed = pairs._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint (strategy=broadcast)" not in analyzed
    got = [tuple(r) for r in pairs.collect()]
    assert got == [(0, 1, 5, 5, 6, round(5 / 6, 6))]


def test_winnow_guarantee_shared_substring(spark):
    """The winnowing guarantee (Schleimer et al.): two documents sharing
    a substring of length >= k + window - 1 share at least one
    fingerprint; disjoint-alphabet documents share none."""
    from fusus_spark.operators.textstats import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 51 chars
    rows = [
        (0, "prefix one " + shared + " suffix alpha"),
        (1, "other lead " + shared + " trailing beta"),
        (2, "zzz yyy xxx www vvv uuu qqq ppp ooo nnn mmm lll kkk"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=8, window=4)
    sets: dict[int, set] = {}
    for r in fps.collect():
        sets.setdefault(r["doc_id"], set()).add(r["fp"])
    assert sets[0] & sets[1], "shared 51-char substring must share a fingerprint"
    assert not (sets[0] & sets[2]) and not (sets[1] & sets[2])
    # determinism + short-doc guard
    again = {(r["doc_id"], r["fp"]) for r in winnow_fingerprints(df, k=8, window=4).collect()}
    assert again == {(d, f) for d, s in sets.items() for f in s}
    tiny = spark.createDataFrame([(9, "short")], "doc_id long, text string")
    assert winnow_fingerprints(tiny, k=8, window=4).count() == 0


def _tiny_jpeg(width: int, height: int, progressive: bool = False) -> bytes:
    """A minimal JPEG prefix (SOI + APP0 + SOF0/SOF2) built with stdlib
    only — the golden for the real marker-walk decode path."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    comps = b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    sof = sof_marker + struct.pack(">HBHH", 8 + len(comps), 8, height, width) + b"\x03" + comps
    return b"\xff\xd8" + app0 + sof + b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00"


def test_parse_jpeg_sof_real_dims():
    from fusus_spark.operators.multimodal import parse_image_dims, parse_jpeg_sof

    assert parse_jpeg_sof(_tiny_jpeg(7, 3)) == (7, 3)
    assert parse_jpeg_sof(_tiny_jpeg(1920, 1080)) == (1920, 1080)
    # progressive (SOF2) carries geometry the same way
    assert parse_jpeg_sof(_tiny_jpeg(320, 200, progressive=True)) == (320, 200)
    # scan data before any SOF / truncation / junk -> None, never a raise
    assert parse_jpeg_sof(b"\xff\xd8\xff\xda\x00\x04\x00\x00") is None
    assert parse_jpeg_sof(_tiny_jpeg(7, 3)[:8]) is None
    assert parse_jpeg_sof(b"not a jpeg") is None
    assert parse_jpeg_sof(b"") is None
    # desynced marker stream -> None
    assert parse_jpeg_sof(b"\xff\xd8" + b"\x00" * 16) is None
    # the combined helper routes both formats
    assert parse_image_dims(_tiny_jpeg(9, 4)) == (9, 4)
    assert parse_image_dims(_tiny_png(9, 4)) == (9, 4)


def test_media_features_jpeg_real_dims(spark):
    from fusus_spark.operators.multimodal import media_features, resize_images

    jpg = _tiny_jpeg(640, 160)
    df = spark.createDataFrame([("jpg://a", bytearray(jpg))],
                               "url string, payload binary")
    m = media_features(df).collect()[0]
    assert m["media_type"] == "image/jpeg"
    assert (m["width"], m["height"]) == (640, 160)
    r = resize_images(df, target=64).collect()[0]
    assert (r["out_width"], r["out_height"]) == (64, 16)


def test_cluster_representatives_quality_based(spark):
    """Keep-the-best-copy survivor selection: highest score wins, min
    doc_id on ties, unscored members rank below scored ones; DuckDB
    window oracle cross-check."""
    import duckdb

    from fusus_spark.operators.dedup import cluster_representatives
    from tools.parity import value_hash

    clusters = [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)]
    quality = [(1, 500_000), (2, 900_000), (3, 900_000),
               (10, 100_000), (21, 0)]  # 11 unscored; 20 unscored, 21 scored 0
    cdf = spark.createDataFrame(clusters, "doc_id long, cluster_id long")
    qdf = spark.createDataFrame(quality, "doc_id long, score_e6 long")
    got = {r["cluster_id"]: r
           for r in cluster_representatives(cdf, qdf).collect()}
    assert got[1]["rep_id"] == 2            # 900k tie -> min doc_id
    assert got[1]["rep_score_e6"] == 900_000 and got[1]["n_members"] == 3
    assert got[10]["rep_id"] == 10          # scored beats unscored
    assert got[20]["rep_id"] == 20          # 0 == missing: min-id fallback
    assert got[20]["rep_score_e6"] == 0

    con = duckdb.connect()
    con.sql("CREATE TABLE c (doc_id BIGINT, cluster_id BIGINT)")
    con.sql("CREATE TABLE q (doc_id BIGINT, score_e6 BIGINT)")
    con.executemany("INSERT INTO c VALUES (?, ?)", clusters)
    con.executemany("INSERT INTO q VALUES (?, ?)", quality)
    orc = con.sql("""
WITH m AS (
  SELECT c.cluster_id, c.doc_id, coalesce(q.score_e6, 0) AS score
  FROM c LEFT JOIN q USING (doc_id)
),
r AS (
  SELECT cluster_id, doc_id, score,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY score DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS nm
  FROM m
)
SELECT cluster_id, doc_id AS rep_id, score AS rep_score_e6, nm::INT AS n_members
FROM r WHERE rn = 1
""")
    sdf = cluster_representatives(cdf, qdf)
    srows = [tuple(r) for r in sdf.collect()]
    orows = [tuple(r) for r in orc.fetchall()]
    assert len(srows) == len(orows)
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows)


def test_parse_gif_header():
    from fusus_spark.operators.multimodal import parse_gif_header

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 6
    assert parse_gif_header(gif) == (320, 200)
    assert parse_gif_header(b"GIF87a" + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")) == (1, 1)
    assert parse_gif_header(b"GIF89a\x00\x00\x00\x00") is None  # zero dims
    assert parse_gif_header(b"GIFXYa" + b"\x01\x00\x01\x00") is None
    assert parse_gif_header(b"GIF89") is None  # truncated


def test_parse_webp_header():
    from fusus_spark.operators.multimodal import parse_webp_header

    def riff(fourcc: bytes, chunk: bytes) -> bytes:
        body = b"WEBP" + fourcc + len(chunk).to_bytes(4, "little") + chunk
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    # VP8X: 4 feature bytes + 24-bit (w-1) + 24-bit (h-1)
    vp8x = riff(b"VP8X", b"\x00\x00\x00\x00"
                + (639).to_bytes(3, "little") + (479).to_bytes(3, "little"))
    assert parse_webp_header(vp8x) == (640, 480)

    # VP8L: signature 0x2F then 14-bit packed (w-1), (h-1)
    bits = (99) | ((49) << 14)  # 100 x 50
    vp8l = riff(b"VP8L", b"\x2f" + bits.to_bytes(4, "little"))
    assert parse_webp_header(vp8l) == (100, 50)

    # lossy VP8: 3-byte frame tag + start code + uint16 dims (14-bit)
    vp8 = riff(b"VP8 ", b"\x00\x00\x00" + b"\x9d\x01\x2a"
               + (800).to_bytes(2, "little") + (600).to_bytes(2, "little"))
    assert parse_webp_header(vp8) == (800, 600)

    assert parse_webp_header(b"RIFF\x00\x00\x00\x00WAVEfmt ") is None
    assert parse_webp_header(vp8x[:20]) is None  # truncated


def _bmp(w: int, h: int, hdr: int = 40) -> bytes:
    """Minimal BMP file header + DIB header built with stdlib."""
    dib = hdr.to_bytes(4, "little")
    if hdr == 12:
        dib += w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00" * 4
    else:
        dib += (w.to_bytes(4, "little", signed=True)
                + h.to_bytes(4, "little", signed=True) + b"\x00" * (hdr - 12))
    return b"BM" + b"\x00" * 8 + (14 + hdr).to_bytes(4, "little") + dib


def _tiff(w: int, h: int, end: str = "little") -> bytes:
    """Minimal single-IFD TIFF with ImageWidth/ImageLength entries."""
    bo = b"II" if end == "little" else b"MM"
    head = bo + (42).to_bytes(2, end) + (8).to_bytes(4, end)

    def entry(tag, typ, val):
        width = 2 if typ == 3 else 4
        v = val.to_bytes(width, end) + b"\x00" * (4 - width)
        return (tag.to_bytes(2, end) + typ.to_bytes(2, end)
                + (1).to_bytes(4, end) + v)

    ifd = (2).to_bytes(2, end) + entry(256, 3, w) + entry(257, 4, h) \
        + (0).to_bytes(4, end)
    return head + ifd


def test_parse_bmp_header():
    from fusus_spark.operators.multimodal import parse_bmp_header, sniff_media_type

    assert parse_bmp_header(_bmp(640, 480)) == (640, 480)
    assert parse_bmp_header(_bmp(12, 34, hdr=12)) == (12, 34)  # COREHEADER
    assert parse_bmp_header(_bmp(1920, 1080, hdr=124)) == (1920, 1080)  # v5
    # top-down row order: negative height, magnitude is the dimension
    topdown = _bmp(100, -50)
    assert parse_bmp_header(topdown) == (100, 50)
    assert parse_bmp_header(_bmp(0, 10)) is None     # zero width
    # abs(INT32_MIN) and oversize dims degrade to None (int32 guard)
    assert parse_bmp_header(_bmp(100, -(2**31))) is None
    assert parse_bmp_header(b"BMP files start like this") is None  # text decoy
    assert parse_bmp_header(_bmp(5, 5)[:20]) is None  # truncated
    assert sniff_media_type(_bmp(2, 2)) == "image/bmp"
    assert sniff_media_type(b"BM plain text") == "application/octet-stream"


def test_parse_tiff_header():
    from fusus_spark.operators.multimodal import parse_tiff_header, sniff_media_type

    assert parse_tiff_header(_tiff(800, 600)) == (800, 600)
    assert parse_tiff_header(_tiff(31, 17, end="big")) == (31, 17)
    assert sniff_media_type(_tiff(4, 4)) == "image/tiff"
    assert sniff_media_type(_tiff(4, 4, end="big")) == "image/tiff"
    assert parse_tiff_header(b"II\x2b\x00" + b"\x00" * 8) is None  # BigTIFF: out of scope
    # corruption guard: a LONG of 0xFFFFFFFF degrades to None — it
    # must never reach the downstream Arrow int32 columns
    assert parse_tiff_header(_tiff(10, 2**32 - 1)) is None
    assert parse_tiff_header(_tiff(9, 9)[:12]) is None  # truncated IFD
    assert parse_tiff_header(b"II*\x00" + (10 ** 6).to_bytes(4, "little")) is None  # IFD offset beyond payload
    # an IFD missing the length tag yields None, not a half answer
    bo = b"II"
    head = bo + (42).to_bytes(2, "little") + (8).to_bytes(4, "little")
    only_w = ((1).to_bytes(2, "little")
              + (256).to_bytes(2, "little") + (3).to_bytes(2, "little")
              + (1).to_bytes(4, "little") + (9).to_bytes(2, "little") + b"\x00\x00"
              + (0).to_bytes(4, "little"))
    assert parse_tiff_header(head + only_w) is None


def test_parse_image_dims_dispatches_all_formats():
    from fusus_spark.operators.multimodal import parse_image_dims

    gif = b"GIF89a" + (7).to_bytes(2, "little") + (9).to_bytes(2, "little") + b"\x00" * 6
    assert parse_image_dims(gif) == (7, 9)
    assert parse_image_dims(_bmp(3, 4)) == (3, 4)
    assert parse_image_dims(_tiff(5, 6)) == (5, 6)
    assert parse_image_dims(b"not an image") is None


def _wav(ch=2, rate=44100, bits=16, n_samples=44100, extra_chunk=False) -> bytes:
    """Minimal valid WAVE built with stdlib struct — the golden."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * bits // 8,
                      ch * bits // 8, bits)
    data = b"\x00" * (n_samples * ch * bits // 8)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # LIST chunk with odd length: word-alignment path
        chunks += b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    body = b"WAVE" + chunks
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_parse_wav_header():
    from fusus_spark.operators.multimodal import parse_wav_header

    assert parse_wav_header(_wav()) == (2, 44100, 16, 1000)
    assert parse_wav_header(_wav(ch=1, rate=8000, bits=8, n_samples=4000)) == \
        (1, 8000, 8, 500)
    assert parse_wav_header(_wav(extra_chunk=True)) == (2, 44100, 16, 1000)
    assert parse_wav_header(b"RIFF\x00\x00\x00\x00AVI LIST") is None
    assert parse_wav_header(_wav()[:20]) is None  # truncated
    assert parse_wav_header(b"ID3\x03junk") is None


def test_audio_meta_operator(spark):
    from fusus_spark.operators.multimodal import audio_meta

    rows = [("u1", _wav()), ("u2", _wav(ch=1, rate=16000, bits=16, n_samples=8000)),
            ("u3", b"\x89PNG\r\n not audio"), ("u4", None)]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in audio_meta(df).collect()}
    assert got["u1"]["n_channels"] == 2 and got["u1"]["duration_ms"] == 1000
    assert got["u2"]["sample_rate_hz"] == 16000 and got["u2"]["duration_ms"] == 500
    assert got["u3"]["n_channels"] is None
    assert got["u3"]["media_type"] == "image/png"
    assert got["u4"]["n_bytes"] == 0 and got["u4"]["duration_ms"] is None


def test_webp_sniff_and_zero_dim_guard():
    from fusus_spark.operators.multimodal import parse_webp_header, sniff_media_type

    import struct

    def riff(fourcc: bytes, chunk: bytes) -> bytes:
        body = b"WEBP" + fourcc + len(chunk).to_bytes(4, "little") + chunk
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    # RIFF subtypes resolve at offset 8; bare RIFF keeps the old label
    assert sniff_media_type(riff(b"VP8X", b"\x00" * 10)) == "image/webp"
    assert sniff_media_type(b"RIFF\x04\x00\x00\x00WAVEfmt ") == "audio/wav"
    assert sniff_media_type(b"RIFF\x04\x00\x00\x00AVI LIST") == "video/avi"
    assert sniff_media_type(b"RIFF\x00\x00") == "audio/wav-or-avi"

    # crafted zero dims (raw zeros or 0x4000 multiples masking to 0)
    # must fall back to None, never a truthy (0, 0)
    z1 = riff(b"VP8 ", b"\x00\x00\x00" + b"\x9d\x01\x2a" + b"\x00\x00\x00\x00")
    z2 = riff(b"VP8 ", b"\x00\x00\x00" + b"\x9d\x01\x2a"
              + struct.pack("<HH", 0x4000, 0x4000))
    assert parse_webp_header(z1) is None
    assert parse_webp_header(z2) is None


def test_parse_mp3_header():
    from fusus_spark.operators.multimodal import parse_mp3_header

    def id3(size: int) -> bytes:
        # syncsafe 4x7-bit size
        b = bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                   (size >> 7) & 0x7F, size & 0x7F])
        return b"ID3\x03\x00\x00" + b

    # MPEG1 Layer III, 128 kbps, 44100 Hz, stereo: FF FB 90 00
    frame = b"\xff\xfb\x90\x00"
    audio = frame + b"\x00" * (16000 - 4)  # 16000 audio bytes
    mp3 = id3(100) + b"\x00" * 100 + audio
    got = parse_mp3_header(mp3)
    # duration = 16000 bytes * 8 / 128000 bps = 1000 ms
    assert got == (2, 44100, None, 1000)

    # no ID3, mono (mode bits 11), MPEG2 (V2 table): FF F3 90 C0
    # -> version 2, L3, idx 9 = 80kbps, 22050 Hz
    m2 = b"\xff\xf3\x90\xc0" + b"\x00" * (9996)
    assert parse_mp3_header(m2) == (1, 22050, None, 1000)

    assert parse_mp3_header(b"ID3\x03\x00\x00\x00\x00\x00\x7fjunk") is None
    assert parse_mp3_header(b"\xff\xfb") is None          # truncated
    assert parse_mp3_header(b"\xff\xfb\xf0\x00" + b"\x00" * 100) is None  # bad bitrate idx
    assert parse_mp3_header(b"RIFF....WAVE") is None


def test_audio_meta_covers_mp3(spark):
    from fusus_spark.operators.multimodal import audio_meta

    mp3 = b"\xff\xfb\x90\x00" + b"\x00" * (32000 - 4)  # 2000 ms at 128kbps
    df = spark.createDataFrame([("m", mp3)], "url string, payload binary")
    r = audio_meta(df).collect()[0]
    assert r["n_channels"] == 2 and r["sample_rate_hz"] == 44100
    assert r["bits_per_sample"] is None and r["duration_ms"] == 2000


def test_parse_mp3_forward_scan():
    """Junk between the ID3 tag and the first frame (r4 verdict item
    #4): the bounded scan skips it — including stray sync-lookalike
    bytes that fail header validation — but never scans past 2 KiB,
    and never scans at all without an ID3 tag."""
    from fusus_spark.operators.multimodal import parse_mp3_header

    def id3(size: int) -> bytes:
        b = bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                   (size >> 7) & 0x7F, size & 0x7F])
        return b"ID3\x03\x00\x00" + b

    frame = b"\xff\xfb\x90\x00"
    audio = frame + b"\x00" * (16000 - 4)
    # 40 junk bytes incl. a bare sync byte and a bad-bitrate lookalike
    junk = b"\x00\xff\x00garbage" + b"\xff\xfb\xf0\x00" + b"pad" * 8 + b"!"
    got = parse_mp3_header(id3(10) + b"\x00" * 10 + junk + audio)
    assert got == (2, 44100, None, 1000)
    # junk longer than the scan window: honest None, not a far-off guess
    assert parse_mp3_header(id3(10) + b"\x00" * 10 + b"\x01" * 3000 + audio) is None
    # no ID3 tag: no scanning — random binary must not classify as MP3
    assert parse_mp3_header(b"\x00" * 7 + frame + b"\x00" * 100) is None


def _flac(rate=44100, ch=2, bps=16, total=132300) -> bytes:
    """Minimal valid FLAC header (STREAMINFO only) — the golden."""
    import struct

    packed = (rate << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | total
    si = (struct.pack(">HH", 4096, 4096) + b"\x00" * 6
          + packed.to_bytes(8, "big") + b"\x00" * 16)
    return b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + si


def _ogg_page(body: bytes, granule: int = 0, first: bool = True) -> bytes:
    segs = bytes([min(len(body), 255)])
    return (b"OggS\x00" + (b"\x02" if first else b"\x04")
            + granule.to_bytes(8, "little") + b"\x00" * 12
            + bytes([1]) + segs + body)


def test_parse_flac_header():
    from fusus_spark.operators.multimodal import parse_flac_header

    assert parse_flac_header(_flac()) == (2, 44100, 16, 3000)
    assert parse_flac_header(_flac(rate=48000, ch=1, bps=24, total=48000)) == \
        (1, 48000, 24, 1000)
    # unknown total samples (0): null duration, real layout
    assert parse_flac_header(_flac(total=0)) == (2, 44100, 16, None)
    assert parse_flac_header(_flac()[:20]) is None  # truncated
    assert parse_flac_header(b"fLaX junk") is None
    # first block not STREAMINFO: refuse rather than misread
    bad = b"fLaC" + bytes([0x84]) + (34).to_bytes(3, "big") + b"\x00" * 34
    assert parse_flac_header(bad) is None


def test_parse_ogg_header():
    from fusus_spark.operators.multimodal import parse_ogg_header

    vorbis_id = (b"\x01vorbis" + b"\x00" * 4 + bytes([2])
                 + (44100).to_bytes(4, "little") + b"\x00" * 16)
    ogg = _ogg_page(vorbis_id) + _ogg_page(b"\xffdata", granule=88200, first=False)
    assert parse_ogg_header(ogg) == (2, 44100, None, 2000)

    opus_id = (b"OpusHead\x01" + bytes([1]) + (312).to_bytes(2, "little")
               + (16000).to_bytes(4, "little") + b"\x00" * 4)
    ogg2 = _ogg_page(opus_id) + _ogg_page(b"odata", granule=96000, first=False)
    # opus granules are 48 kHz regardless of the 16 kHz input rate
    assert parse_ogg_header(ogg2) == (1, 16000, None, 2000)

    # single-page stream: the first page's granule (0) -> null duration
    assert parse_ogg_header(_ogg_page(vorbis_id)) == (2, 44100, None, None)
    assert parse_ogg_header(b"OggS\x01rest") is None  # bad version
    assert parse_ogg_header(b"not ogg") is None
    assert parse_ogg_header(_ogg_page(b"\x03vorbis junk")) is None  # not an id header


def test_audio_meta_covers_flac_and_ogg(spark):
    from fusus_spark.operators.multimodal import audio_meta

    vorbis_id = (b"\x01vorbis" + b"\x00" * 4 + bytes([2])
                 + (22050).to_bytes(4, "little") + b"\x00" * 16)
    ogg = _ogg_page(vorbis_id) + _ogg_page(b"d", granule=44100, first=False)
    rows = [("f", _flac()), ("o", ogg)]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in audio_meta(df).collect()}
    assert got["f"]["media_type"] == "audio/flac"
    assert got["f"]["bits_per_sample"] == 16 and got["f"]["duration_ms"] == 3000
    assert got["o"]["media_type"] == "audio/ogg"
    assert got["o"]["sample_rate_hz"] == 22050 and got["o"]["duration_ms"] == 2000


def _mp4_box(btype: bytes, body: bytes, largesize: bool = False) -> bytes:
    if largesize:
        return (1).to_bytes(4, "big") + btype + (len(body) + 16).to_bytes(8, "big") + body
    return (len(body) + 8).to_bytes(4, "big") + btype + body


def _mp4(timescale=1000, duration=5000, w=640, h=480, v=0,
         largesize=False) -> bytes:
    """Minimal valid ISO-BMFF built with stdlib ints — the golden:
    ftyp + moov(mvhd, audio trak @0x0, video trak @WxH)."""
    if v == 0:
        mvhd = (b"\x00\x00\x00\x00" + b"\x00" * 8
                + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big")
                + b"\x00" * 80)
        tk = b"\x00\x00\x00\x00" + b"\x00" * 72
    else:
        mvhd = (b"\x01\x00\x00\x00" + b"\x00" * 16
                + timescale.to_bytes(4, "big") + duration.to_bytes(8, "big")
                + b"\x00" * 80)
        tk = b"\x01\x00\x00\x00" + b"\x00" * 84
    tkhd_audio = tk + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
    tkhd_video = tk + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
    moov = (_mp4_box(b"mvhd", mvhd)
            + _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd_audio))
            + _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd_video)))
    ftyp = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isommp42")
    return ftyp + _mp4_box(b"moov", moov, largesize=largesize)


def test_parse_mp4_meta():
    from fusus_spark.operators.multimodal import parse_mp4_meta

    # version 0 boxes: duration 5000/1000 ticks -> 5000 ms, video dims
    # from the SECOND trak (the audio trak's 0x0 must be skipped)
    assert parse_mp4_meta(_mp4()) == (5000, 640, 480)
    # version 1 boxes (64-bit times) and a 64-bit largesize moov
    assert parse_mp4_meta(_mp4(v=1, timescale=600, duration=1200,
                               w=1920, h=1080)) == (2000, 1920, 1080)
    assert parse_mp4_meta(_mp4(largesize=True)) == (5000, 640, 480)
    # unknown duration sentinel (all-ones) -> null duration, real dims
    assert parse_mp4_meta(_mp4(duration=0xFFFFFFFF)) == (None, 640, 480)
    # truncation anywhere: None or partial fields, never a raise
    full = _mp4()
    for i in range(0, len(full), 7):
        got = parse_mp4_meta(full[:i])
        assert got is None or isinstance(got, tuple)
    assert parse_mp4_meta(b"not a video") is None
    assert parse_mp4_meta(b"") is None
    # zero-size box claiming to extend past its container: walk stops
    evil = _mp4_box(b"ftyp", b"isom") + (10 ** 9).to_bytes(4, "big") + b"moov"
    assert parse_mp4_meta(evil) is None


def test_video_meta_operator(spark):
    from fusus_spark.operators.multimodal import video_meta

    rows = [("v1", _mp4()), ("v2", _mp4(v=1, timescale=600, duration=600, w=320, h=240)),
            ("x", b"\x89PNG\r\n not video"), ("n", None)]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in video_meta(df).collect()}
    assert got["v1"]["width"] == 640 and got["v1"]["duration_ms"] == 5000
    assert got["v1"]["media_type"] == "video/mp4"
    assert got["v2"]["height"] == 240 and got["v2"]["duration_ms"] == 1000
    assert got["x"]["width"] is None and got["x"]["media_type"] == "image/png"
    assert got["n"]["n_bytes"] == 0 and got["n"]["duration_ms"] is None


def test_frame_sample_uses_real_duration(spark):
    """ISO-BMFF payloads sample over the container's OWN duration
    (r4 verdict item #3); non-container payloads keep the synthetic
    size-derived schedule."""
    from fusus_spark.operators.multimodal import frame_sample

    mp4 = _mp4(timescale=1000, duration=6000)
    junk = b"j" * 640  # synthetic: 10 "frames" at 25 fps -> 400 ms
    df = spark.createDataFrame(
        [("real", mp4), ("fake", junk)], "url string, payload binary"
    )
    got = {}
    for r in frame_sample(df, n_frames=4, fps=25.0).collect():
        got.setdefault(r["url"], []).append((r["frame_idx"], r["ts_ms"]))
    assert sorted(got["real"]) == [(0, 0), (1, 2000), (2, 4000), (3, 6000)]
    assert sorted(got["fake"]) == [(0, 0), (1, 133), (2, 266), (3, 400)]
    # m4a brand sniffs as audio container
    from fusus_spark.operators.multimodal import sniff_media_type

    m4a = _mp4_box(b"ftyp", b"M4A \x00\x00\x02\x00isom")
    assert sniff_media_type(m4a) == "audio/mp4"
    assert sniff_media_type(_mp4()) == "video/mp4"
