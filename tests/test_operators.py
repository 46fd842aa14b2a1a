"""Operator-level unit tests for pieces the oracle-parity suite can't see:
multimodal plumbing, hierarchy depth caps, LSH internals, simhash
properties."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from statline_bq_spark.io import read_table
from statline_bq_spark.operators import dedup, multimodal, similarity
from statline_bq_spark.operators.hierarchy import hierarchy_closure
from tests.conftest import SF_SMOKE


# --- multimodal -------------------------------------------------------------

@pytest.fixture()
def media(spark):
    return spark.createDataFrame(
        [(1, b"fake-image-bytes", "image/png", 64, 64, None),
         (2, b"other-payload", "image/jpeg", 32, 32, None),
         (3, None, "audio/wav", None, None, 5000)],
        multimodal.MEDIA_SCHEMA,
    )


def test_binary_metadata(spark, media):
    out = {r.media_id: r for r in multimodal.binary_metadata(
        media, id_col="media_id", payload_col="payload"
    ).collect()}
    assert out[1].n_bytes == len(b"fake-image-bytes")
    assert len(out[1].digest) == 64  # sha256 hex
    assert out[3].n_bytes is None    # null payload stays null
    assert out[2].bucket == 2 % 16


def test_extract_features_fake_decoder(spark, media):
    out = multimodal.extract_features(
        media, decoder=multimodal.deterministic_fake_decoder, dim=8
    )
    rows = {r.media_id: r.feature for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert len(rows[1]) == 8
    assert all(0.0 <= x <= 1.0 for x in rows[1])
    # deterministic: same payload → same feature
    again = {r.media_id: r.feature for r in multimodal.extract_features(
        media, decoder=multimodal.deterministic_fake_decoder, dim=8
    ).collect()}
    assert rows == again


def test_extract_features_stub_raises(spark, media):
    out = multimodal.extract_features(media, decoder=None)
    with pytest.raises(Exception, match="NotImplementedError|no media codec"):
        out.collect()


def test_resize_fake_resizer(spark, media):
    out = {r.media_id: r for r in multimodal.resize(
        media, width=4, height=3, resizer=multimodal.deterministic_fake_resizer
    ).collect()}
    assert set(out) == {1, 2, 3}
    assert all(r.width == 4 and r.height == 3 for r in out.values())
    assert len(out[1].payload) == 12
    # cycled bytes: prefix of the repeated source payload
    assert bytes(out[1].payload) == (b"fake-image-bytes" * 1)[:12]
    # null payload → zero-byte fill, still exactly w*h bytes
    assert len(out[3].payload) == 12


def test_resize_stub_raises(spark, media):
    out = multimodal.resize(media, width=2, height=2, resizer=None)
    with pytest.raises(Exception, match="NotImplementedError|no image codec"):
        out.collect()


def test_frame_sample_plan(spark, media):
    plan = multimodal.frame_sample_plan(
        media.filter(F.col("duration_ms").isNotNull())
    )
    rows = [r.frame_ts_ms for r in plan.collect()]
    assert rows == [0, 1000, 2000, 3000, 4000]


# --- real (dependency-free) image decode: PPM/PGM/BMP ------------------------

def _ppm_p6(w, h, rgb_rows):
    body = b"".join(bytes(px) for row in rgb_rows for px in row)
    return b"P6\n# comment\n%d %d\n255\n" % (w, h) + body


def _pgm_p5(w, h, gray_rows):
    return b"P5 %d %d 255\n" % (w, h) + b"".join(
        bytes(row) for row in gray_rows
    )


def _bmp_24(w, h, rgb_rows_topdown):
    """Minimal bottom-up 24-bit BI_RGB BMP."""
    import struct

    stride = ((w * 3 + 3) // 4) * 4
    pix = b""
    for row in reversed(rgb_rows_topdown):  # bottom-up storage
        raw = b"".join(bytes((b_, g, r)) for (r, g, b_) in row)  # BGR
        pix += raw + b"\x00" * (stride - len(raw))
    off = 14 + 40
    hdr = struct.pack("<2sIHHI", b"BM", off + len(pix), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    return hdr + info + pix


def test_decode_image_pgm_and_ppm():
    w, h, gray = multimodal.decode_image(
        _pgm_p5(3, 2, [[0, 128, 255], [10, 20, 30]])
    )
    assert (w, h) == (3, 2)
    assert list(gray) == [0, 128, 255, 10, 20, 30]
    # P6 luminance: pure red/green/blue rows
    w, h, gray = multimodal.decode_image(
        _ppm_p6(3, 1, [[(255, 0, 0), (0, 255, 0), (0, 0, 255)]])
    )
    assert (w, h) == (3, 1)
    assert list(gray) == [299 * 255 // 1000, 587 * 255 // 1000,
                          114 * 255 // 1000]


def test_decode_image_bmp_bottom_up_matches_ppm():
    rows = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    bmp = multimodal.decode_image(_bmp_24(2, 2, rows))
    ppm = multimodal.decode_image(_ppm_p6(2, 2, rows))
    assert bmp == ppm  # same pixels → same top-down grayscale


def test_decode_image_rejects_garbage_and_truncation():
    assert multimodal.decode_image(b"") is None
    assert multimodal.decode_image(b"not an image") is None
    assert multimodal.decode_image(b"P6 2 2 255\n\x00\x00") is None  # short
    assert multimodal.decode_image(b"P6 2 2 65535\n" + b"\x00" * 24) is None
    assert multimodal.decode_image(b"BM" + b"\x00" * 20) is None


def test_decode_image_rescales_small_maxval():
    """maxval<255 samples are intensity FRACTIONS of maxval (netpbm spec):
    a full-bright maxval=100 pixel must read 255, not ~100 (ADVICE r8 —
    the unscaled read biased every low-maxval image dark)."""
    w, h, gray = multimodal.decode_image(b"P5 2 1 100\n" + bytes([100, 50]))
    assert (w, h) == (2, 1)
    assert list(gray) == [255, 50 * 255 // 100]
    # P6: full-bright white at maxval=4 is full-bright white
    w, h, gray = multimodal.decode_image(
        b"P6 1 1 4\n" + bytes([4, 4, 4])
    )
    assert list(gray) == [255]


def test_decode_image_rejects_nonwhitespace_header_terminator():
    """The single byte after maxval must be whitespace; anything else is a
    malformed header that would silently shift the raster (ADVICE r8)."""
    assert multimodal.decode_image(b"P5 2 1 255X" + bytes([7, 9])) is None
    # the well-formed twin decodes
    assert multimodal.decode_image(b"P5 2 1 255\n" + bytes([7, 9])) == (
        2,
        1,
        bytes([7, 9]),
    )


def test_image_decoder_end_to_end_spark(spark):
    """Round-8 directive: real bytes through the mapInPandas plumbing —
    a decodable PPM, a decodable BMP, an undecodable payload (NULL
    feature), and a NULL payload (NULL feature)."""
    white = [[(255, 255, 255)] * 4] * 4
    dark = [[(0, 0, 0), (0, 0, 0)], [(0, 0, 0), (30, 30, 30)]]
    df = spark.createDataFrame(
        [
            (1, _ppm_p6(4, 4, white), "image/x-portable-pixmap", 4, 4, None),
            (2, _bmp_24(2, 2, dark), "image/bmp", 2, 2, None),
            (3, b"corrupted-download", "image/png", None, None, None),
            (4, None, "image/png", None, None, None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = {r.media_id: r.feature for r in multimodal.extract_features(
        df, decoder=multimodal.image_decoder, dim=4
    ).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[3] is None and out[4] is None
    assert len(out[1]) == 4
    assert all(abs(x - 1.0) < 1e-6 for x in out[1])  # all-white image
    assert all(0.0 <= x < 0.2 for x in out[2])       # near-black image
    assert out[2][-1] > 0.0  # the one non-black pixel lands in the last band


# --- approximate sketches: guarantees, not exact values ----------------------

def test_freq_items_contains_all_true_heavy_hitters(spark):
    """freqItems may emit false positives but must NEVER miss an item above
    the support threshold — the lossy-counting guarantee, now emitted by
    the query itself as a pinned containment flag."""
    from statline_bq_spark.workload import q_frequent_suppliers_sketch

    [row] = q_frequent_suppliers_sketch(spark, SF_SMOKE).collect()
    assert row.n_true_heavy > 0
    assert row.all_true_heavy_in_sketch


def test_percentile_approx_error_bounded(spark):
    from statline_bq_spark.workload import q_approx_price_sketch

    rows = q_approx_price_sketch(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # 10k accuracy → rank error ≤ n/10000 ≈ 8 rows per group here, so
        # the sketch median must sit within 1% of the exact median
        assert r.median_within_1pct, r
        assert r.median_exact > 0


# --- similarity: BLAS variant equivalence ------------------------------------

def test_ann_np_matches_hof_neighbor_sets(spark):
    """The mapInPandas/BLAS ANN must return the same neighbor SETS as the
    JVM-fold baseline (values may differ in the last ulp; membership and
    the returned rank-by-rounded-sim structure must not)."""
    from statline_bq_spark.io import read_table
    from statline_bq_spark.operators import similarity

    emb = read_table(spark, SF_SMOKE, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    hof = similarity.ann_cosine_topk(emb, qs, k=5)
    blas = similarity.ann_cosine_topk_np(emb, qs, k=5)
    a = {(r.q_id, r.neighbor_id) for r in hof.collect()}
    b = {(r.q_id, r.neighbor_id) for r in blas.collect()}
    assert a == b
    # rounded sims agree too
    sa = {(r.q_id, r.neighbor_id): r.sim for r in hof.collect()}
    sb = {(r.q_id, r.neighbor_id): r.sim for r in blas.collect()}
    assert all(abs(sa[k_] - sb[k_]) < 1e-3 for k_ in sa)


# --- graph: connected components --------------------------------------------

def test_connected_components_chain_and_islands(spark):
    from statline_bq_spark.operators.graph import connected_components

    # a 5-chain (diameter 4), a pair, and a triangle sharing no nodes
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (22, 20)],
        "src bigint, dst bigint",
    )
    got = {
        r.node: r.component
        for r in connected_components(edges, max_iter=10).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_connected_components_nonconvergence_raises(spark):
    from statline_bq_spark.operators.graph import connected_components

    # a 6-chain cannot finish min-propagation in 2 rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


# --- sampling / splitting ---------------------------------------------------

def test_hash_split_stable_and_proportional(spark):
    from statline_bq_spark.operators import sampling

    df = spark.range(5000).withColumnRenamed("id", "k")
    out = sampling.hash_split(df, "k", {"train": 0.8, "test": 0.2})
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "test"}
    # 205/256 = 80.08% nominal; allow a few points of hash noise
    frac = counts["train"] / 5000
    assert 0.75 < frac < 0.85
    # per-row stability: same assignment regardless of partitioning
    again = sampling.hash_split(
        df.repartition(7), "k", {"train": 0.8, "test": 0.2}
    )
    a = {r.k: r.split for r in out.collect()}
    b = {r.k: r.split for r in again.collect()}
    assert a == b
    # salt changes assignments
    salted = sampling.hash_split(
        df, "k", {"train": 0.8, "test": 0.2}, salt="v2"
    )
    c = {r.k: r.split for r in salted.collect()}
    assert a != c


def test_hash_split_three_way_and_validation(spark):
    from statline_bq_spark.operators import sampling

    df = spark.range(2000).withColumnRenamed("id", "k")
    out = sampling.hash_split(
        df, "k", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    with pytest.raises(ValueError, match="sum to 1"):
        sampling.hash_split(df, "k", {"a": 0.5, "b": 0.4})


def test_stratified_sample_bounds_and_drop(spark):
    from statline_bq_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "nl") for i in range(4000)], "i int, lang string"
    )
    out = sampling.stratified_sample(
        df, "lang", {"en": 0.5}, seed=42
    )
    counts = {r.lang: r["count"] for r in out.groupBy("lang").count().collect()}
    assert "nl" not in counts          # unlisted stratum dropped, not passed
    assert 800 < counts["en"] < 1200   # ~0.5 of 2000
    with pytest.raises(ValueError, match="strata universe"):
        sampling.stratified_sample(df, "lang", {}, seed=1, default_fraction=0.1)


# --- hierarchy --------------------------------------------------------------

def test_hierarchy_depth_cap_and_cycle_safety(spark):
    # a → b → c → a cycle: closure must terminate at max_depth
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "child string, parent string"
    )
    out = hierarchy_closure(edges, max_depth=4)
    assert out.agg(F.max("depth")).collect()[0][0] == 4
    d1 = {(r.child, r.ancestor) for r in out.filter("depth = 1").collect()}
    assert d1 == {("a", "b"), ("b", "c"), ("c", "a")}


def test_hierarchy_stops_at_fixpoint(spark):
    edges = spark.createDataFrame(
        [("leaf", "mid"), ("mid", "root")], "child string, parent string"
    )
    out = hierarchy_closure(edges, max_depth=10)
    got = {(r.child, r.ancestor, r.depth) for r in out.collect()}
    assert got == {("leaf", "mid", 1), ("mid", "root", 1), ("leaf", "root", 2)}


# --- dedup internals --------------------------------------------------------

def test_informative_doc_ids_excludes_boilerplate_only_docs(spark):
    """Round-8 content-skew finding: a doc whose EVERY gram exceeds the
    df cap has an empty capped gram set and is outside the capped-Jaccard
    universe; a doc holding at least one rare gram stays in."""
    boiler = "the same boilerplate text repeated everywhere"
    rows = [(i, boiler) for i in range(10)]           # all-boilerplate docs
    rows += [(100, boiler + " unique marker alpha")]  # boiler + rare grams
    rows += [(101, "entirely distinct document body here")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    ids = {
        r.doc_id
        for r in dedup.informative_doc_ids(df, df_cap=5).collect()
    }
    assert 100 in ids and 101 in ids
    assert not any(i in ids for i in range(10))


def test_minhash_finds_planted_near_dupes(spark):
    base = read_table(spark, SF_SMOKE, "documents").limit(50)
    # plant near-duplicates: copy each doc with one token appended
    dup = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        "lang", "source", "n_chars",
    )
    pairs = dedup.minhash_lsh_pairs(
        base.unionByName(dup), jaccard_threshold=0.5
    ).collect()
    found = {(r.a, r.b) for r in pairs}
    # every planted pair shares almost all shingles → must be found
    planted = {(i, i + 100000) for i in [r.doc_id for r in base.collect()]}
    assert planted <= found


def test_simhash_near_for_near_texts(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "the quick brown fox jumps over the lazy dog again and again today"),
         (3, "completely different words about spark parquet shuffle joins")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(fp[1], fp[2]) < hamming(fp[1], fp[3])
    assert hamming(fp[1], fp[2]) < 16


def test_simhash64_matches_simhash_fingerprints(spark):
    """The column form and the per-doc aggregate share one vote rule (bit
    set iff more tokens have it than not; ties → 0): equal fingerprints
    for every doc with at least one token."""
    docs = read_table(spark, SF_SMOKE, "documents")
    fp = dedup.simhash_fingerprints(docs)
    both = docs.select("doc_id", dedup.simhash64("text").alias("col")).join(fp, "doc_id")
    assert both.count() == fp.count() > 0
    assert both.filter("col <=> simhash").count() == fp.count()


# --- similarity internals ---------------------------------------------------

def test_lsh_ann_self_bucket_recall(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = similarity.ann_cosine_topk(emb, queries, k=1).filter("rn = 1")
    approx = similarity.lsh_bucket_topk(emb, queries, k=1, bits=4)
    # LSH with few bits keeps most near neighbors in-bucket: top-1 recall
    ex = {r.q_id: r.neighbor_id for r in exact.collect()}
    ap = {r.q_id: r.neighbor_id for r in approx.filter("rn = 1").collect()}
    recall = sum(ap.get(q) == n for q, n in ex.items()) / len(ex)
    assert recall >= 0.4  # single-table LSH, deterministic seed → stable


# --- merge / upsert ----------------------------------------------------------

def test_merge_upsert_updates_inserts_preserves(spark):
    from statline_bq_spark.operators.relational import merge_upsert

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, s string, v double"
    )
    changes = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "k int, s string, v double"
    )
    out = {r.k: (r.s, r.v) for r in merge_upsert(snap, changes, ["k"]).collect()}
    assert out == {
        1: ("a", 10.0),   # untouched
        2: ("b2", 99.0),  # updated
        3: ("c", 30.0),   # untouched
        4: ("d", 40.0),   # inserted
    }


# --- asof / band join -------------------------------------------------------

def test_asof_join_strict_and_nulls(spark):
    from statline_bq_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 100, 10), (1, 101, 20), (2, 200, 10)],
        "user_id int, event_id int, t int",
    )
    right = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 15), (3, 1)], "user_id int, rt int"
    )
    out = {
        r.event_id: r.rt
        for r in asof_join(
            left, right, ["user_id"], "t", "rt", right_values=["rt"], strict=True
        ).collect()
    }
    # strict: rt == t (10) must NOT match event 100; latest earlier is 5
    assert out == {100: 5, 101: 15, 200: None}

    out_le = {
        r.event_id: r.rt
        for r in asof_join(
            left, right, ["user_id"], "t", "rt", right_values=["rt"], strict=False
        ).collect()
    }
    assert out_le == {100: 10, 101: 15, 200: None}


def test_band_join_boundaries(spark):
    from statline_bq_spark.operators.relational import band_join

    facts = spark.createDataFrame(
        [(1, 0.0), (2, 49.99), (3, 50.0), (4, 100.0)], "id int, v double"
    )
    bands = spark.createDataFrame(
        [("a", 0.0, 50.0), ("b", 50.0, 100.0)], "band string, lo double, hi double"
    )
    got = {r.id: r.band for r in band_join(facts, bands, "v", "lo", "hi").collect()}
    # lo inclusive, hi exclusive; 100.0 falls off the last band -> null
    assert got == {1: "a", 2: "a", 3: "b", 4: None}


# --- analytic windows -------------------------------------------------------

def test_running_total_and_lag_delta(spark):
    from statline_bq_spark.operators import analytic

    df = spark.createDataFrame(
        [("k", 1, 10.0), ("k", 2, 5.0), ("k", 3, 2.5), ("j", 1, 1.0)],
        "key string, seq int, v double",
    )
    rt = {
        (r.key, r.seq): r.running_total
        for r in analytic.running_total(df, ["key"], ["seq"], "v").collect()
    }
    assert rt == {("k", 1): 10.0, ("k", 2): 15.0, ("k", 3): 17.5, ("j", 1): 1.0}

    ld = {
        (r.key, r.seq): r.delta
        for r in analytic.lag_delta(df, ["key"], ["seq"], "v").collect()
    }
    assert ld == {("k", 1): None, ("k", 2): -5.0, ("k", 3): -2.5, ("j", 1): None}


# --- simhash near-dup pairs -------------------------------------------------

def test_simhash_neardup_exact_dupes(spark):
    base = read_table(spark, SF_SMOKE, "documents").limit(40)
    clone = base.withColumn("doc_id", F.col("doc_id") + 10_000)
    pairs = dedup.simhash_neardup_pairs(
        base.unionByName(clone), max_hamming=3
    ).collect()
    # every doc pairs with its clone at hamming 0
    zero = {(r.a, r.b) for r in pairs if r.hamming == 0}
    ids = [r.doc_id for r in base.select("doc_id").collect()]
    assert all((i, i + 10_000) in zero for i in ids)


# --- IVF ANN ----------------------------------------------------------------

def test_ivf_topk_prefers_own_cluster(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = similarity.ivf_topk(emb, queries, k=3, nprobe=2).collect()
    assert len(out) > 0
    # output contract: rn is 1..k per query, sim in [-1, 1]
    per_q = {}
    for r in out:
        per_q.setdefault(r.q_id, []).append(r.rn)
        assert -1.0001 <= r.sim <= 1.0001
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


# --- k-means ----------------------------------------------------------------

def _blob_df(spark, n_per=40, dim=8, centers=((10.0, 0), (-10.0, 3), (9.0, 6))):
    """Three well-separated blobs: center value at a distinct position."""
    import random as _r

    rng = _r.Random(7)
    rows = []
    vid = 0
    for cval, cpos in centers:
        for _ in range(n_per):
            v = [rng.uniform(-0.5, 0.5) for _ in range(dim)]
            v[cpos] += cval
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_kmeans_recovers_separated_blobs(spark):
    df = _blob_df(spark)
    cents = similarity.kmeans_fit(df, k=3, max_iter=6, seed=1)
    assert len(cents) == 3 and all(len(c) == 8 for c in cents)
    assigned = similarity.kmeans_assign(df, cents).collect()
    # blob membership (by vec_id range) must map 1:1 onto cluster ids
    blob_of = {r.vec_id: r.vec_id // 40 for r in assigned}
    cid_of_blob = {}
    for r in assigned:
        b = blob_of[r.vec_id]
        cid_of_blob.setdefault(b, set()).add(r.cid)
    assert all(len(s) == 1 for s in cid_of_blob.values())
    assert len(set().union(*cid_of_blob.values())) == 3
    assert all(r.dist2 >= 0 for r in assigned)


def test_kmeans_deterministic_and_empty_cluster_safe(spark):
    df = _blob_df(spark, n_per=20)
    a = similarity.kmeans_fit(df, k=5, max_iter=4, seed=3)
    b = similarity.kmeans_fit(df, k=5, max_iter=4, seed=3)
    assert a == b  # same seed, same data -> identical codebook
    # k=5 over 3 blobs can strand clusters; assignment must still be total
    n = similarity.kmeans_assign(df, a).count()
    assert n == df.count()


def test_kmeans_parallel_seeding_partition_invariant(spark):
    """The k-means‖ seeding must be identical under ANY partitioning: the
    Efraimidis–Spirakis keys are row-intrinsic (hash-derived) and the
    per-batch top-ℓ is a superset-safe prefilter of the global top-ℓ, so
    repartitioning the corpus cannot change the candidate pool — and the
    weighting pass is an exact integer sum. A partition-sensitive seed
    would make the trained IVF codebook irreproducible across cluster
    sizes."""
    df = _blob_df(spark)
    a = similarity.kmeans_fit(df, k=4, max_iter=3, seed=11)
    b = similarity.kmeans_fit(df.repartition(7), k=4, max_iter=3, seed=11)
    c = similarity.kmeans_fit(df.coalesce(1), k=4, max_iter=3, seed=11)
    assert a == b == c


def test_kmeans_farthest_init_still_available(spark):
    """init='farthest' keeps the k-center traversal path (small k); both
    inits must recover well-separated blobs."""
    df = _blob_df(spark)
    cents = similarity.kmeans_fit(df, k=3, max_iter=6, seed=1, init="farthest")
    assigned = similarity.kmeans_assign(df, cents).collect()
    cid_of_blob = {}
    for r in assigned:
        cid_of_blob.setdefault(r.vec_id // 40, set()).add(r.cid)
    assert all(len(s) == 1 for s in cid_of_blob.values())
    assert len(set().union(*cid_of_blob.values())) == 3


def test_ivf_kmeans_topk_matches_exact_on_separated_data(spark):
    df = _blob_df(spark)
    queries = df.filter(F.col("vec_id").isin(0, 45, 85)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    approx = similarity.ivf_kmeans_topk(
        df, queries, n_clusters=3, k=3, nprobe=1, seed=1
    )
    exact = similarity.ann_cosine_topk(df, queries, k=3)
    # with well-separated blobs and nprobe=1, the probed list contains the
    # true neighbors, so the approximate result IS the exact result
    a = {(r.q_id, r.neighbor_id, r.rn) for r in approx.collect()}
    e = {(r.q_id, r.neighbor_id, r.rn) for r in exact.collect()}
    assert a == e


# --- observability -----------------------------------------------------------

def test_observed_metrics_piggyback(spark):
    from statline_bq_spark.observability import observed

    base = read_table(spark, SF_SMOKE, "orders")
    df, obs = observed(
        base, "orders_scan",
        F.count(F.lit(1)).alias("rows"),
        F.sum("o_totalprice").alias("total"),
    )
    n = df.count()
    assert obs.get["rows"] == n > 0
    assert obs.get["total"] > 0


def test_logdec_logs_and_reraises(caplog):
    import logging
    from statline_bq_spark.observability import logdec

    @logdec
    def boom():
        raise ValueError("nope")

    with caplog.at_level(logging.DEBUG, logger="statline_bq_spark"):
        try:
            boom()
        except ValueError:
            pass
        else:
            raise AssertionError("must re-raise")
    assert any("boom failed" in r.message for r in caplog.records)


# --- winnowing ---------------------------------------------------------------

def test_winnowing_shared_passage_guarantee(spark):
    """Docs sharing a passage of >= k+window-1 tokens must share at least
    one selected fingerprint (the winnowing guarantee)."""
    passage = "the quick brown fox jumps over the lazy dog today"  # 10 tokens
    df = spark.createDataFrame(
        [
            (1, "intro words here " + passage + " trailing bits"),
            (2, "completely different opening " + passage),
            (3, "no overlap with anything else at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    fps = dedup.winnowing_fingerprints(df, k=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared passage must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # density: selected fingerprints are a strict subset of all k-grams
    n_grams_doc3 = 8 - 3 + 1
    assert 0 < len(by_doc[3]) <= n_grams_doc3


# --- decontamination / PII ----------------------------------------------------

def test_decontaminate_partitions_corpus(spark):
    """contaminated ∪ survivors == corpus, disjoint; a doc that literally
    contains a benchmark 4-gram must be flagged."""
    from statline_bq_spark.operators import decontaminate as dc

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "xx alpha beta gamma delta yy"),        # contains bench 4-gram
            (2, "alpha beta gamma zeta delta epsilon"),  # only 3-gram overlap
            (3, "totally unrelated words in this one"),
        ],
        "doc_id long, text string",
    )
    flagged = {r.doc_id for r in dc.contamination_counts(corpus, bench, n=4).collect()}
    survivors = {r.doc_id for r in dc.decontaminate(corpus, bench, n=4).collect()}
    assert flagged == {1}
    assert survivors == {2, 3}
    assert flagged | survivors == {1, 2, 3} and not flagged & survivors


def test_repetition_stats_counts_duplicates(spark):
    from statline_bq_spark.operators import decontaminate as dc

    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "p q r s t u")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dc.repetition_stats(df, n=3).collect()}
    # doc 1: 7 grams, distinct {abc, bca, cab} = 3
    assert (rows[1].n_grams, rows[1].n_distinct) == (7, 3)
    assert (rows[2].n_grams, rows[2].n_distinct) == (4, 4)
    assert rows[2].distinct_ratio == 1.0


def test_pii_redaction_order_and_counts(spark):
    from statline_bq_spark.functions import pii

    df = spark.createDataFrame(
        [(1, "mail a.b-c@x.org or 10.1.2.3 or +31-20-5551234 end")],
        "id long, t string",
    )
    r = df.select(
        pii.redact_pii("t").alias("clean"),
        pii.email_count("t").alias("ne"),
        pii.ipv4_count("t").alias("ni"),
        pii.phone_count("t").alias("np"),
    ).first()
    assert r.clean == "mail <EMAIL> or <IP> or <PHONE> end"
    assert (r.ne, r.ni, r.np) == (1, 1, 1)


# --- interval_join ----------------------------------------------------------

def test_interval_join_matches_range_semantics(spark):
    from statline_bq_spark.operators.relational import interval_join

    points = spark.createDataFrame(
        [(i, v) for i, v in enumerate([0, 5, 10, 99, 100, 150, 250, 299, 300])],
        "pid long, x long",
    )
    intervals = spark.createDataFrame(
        [(1, 0, 100), (2, 100, 300), (3, 50, 60), (4, 400, 400)],
        "iid long, lo long, hi long",
    )
    got = {
        (r.pid, r.iid)
        for r in interval_join(
            points, intervals, "x", "lo", "hi", bucket_width=64
        ).collect()
    }
    expect = {
        (p.pid, i.iid)
        for p in points.collect()
        for i in intervals.collect()
        if i.lo <= p.x < i.hi
    }
    assert got == expect
    # degenerate hi<=lo interval contributed nothing (and didn't blow up
    # sequence(), which DESCENDS on reversed bounds)
    assert all(iid != 4 for _, iid in got)


def test_interval_join_plans_as_equi_join(spark):
    """The point of the bucketization: BOTH sides SF-scaled must plan as a
    shuffled EQUI join on the bucket id, never BroadcastNestedLoopJoin."""
    from statline_bq_spark.operators.relational import interval_join

    points = spark.range(0, 10_000).select(
        F.col("id").alias("pid"), (F.col("id") * 7 % 100_000).alias("x")
    )
    intervals = spark.range(0, 5_000).select(
        F.col("id").alias("iid"),
        (F.col("id") * 20).alias("lo"),
        (F.col("id") * 20 + 40).alias("hi"),
    )
    joined = interval_join(points, intervals, "x", "lo", "hi", bucket_width=32)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- embedding quantization -------------------------------------------------

def test_quantize_embeddings_codes_and_edge_cases(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, -1.0, 0.5, 0.0]),
            (2, [0.0, 0.0, 0.0]),       # all-zero → scale 0, codes 0
            (3, [2.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in similarity.quantize_embeddings(emb).collect()}
    # vec 1: maxabs=1 → codes 127, -127, floor(63.5+0.5)=64, 0
    assert out[1].n_dims == 4
    assert out[1].code_min == -127 and out[1].code_max == 127
    assert out[1].code_sum == 127 - 127 + 64 + 0
    assert out[1].scale_micros == int(1.0 / 127.0 * 1e6)
    assert out[2].code_sum == 0 and out[2].code_min == 0
    assert out[2].scale_micros == 0
    assert out[3].code_max == 127 and out[3].n_dims == 1


def test_quantized_rerank_matches_exact_topk(spark):
    """The int8-candidate + exact-re-rank path must return the SAME
    neighbor sets as exact brute force on the test corpus (re-rank is
    exact, so only a candidate miss could diverge — the 4k margin must
    absorb all quantization error here)."""
    emb = read_table(spark, SF_SMOKE, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = similarity.ann_cosine_topk(emb, qs, k=5)
    quant = similarity.quantized_rerank_topk(emb, qs, k=5)
    a = {(r.q_id, r.neighbor_id) for r in exact.collect()}
    b = {(r.q_id, r.neighbor_id) for r in quant.collect()}
    assert a == b
    sa = {(r.q_id, r.neighbor_id): r.sim for r in exact.collect()}
    sb = {(r.q_id, r.neighbor_id): r.sim for r in quant.collect()}
    assert all(abs(sa[k_] - sb[k_]) < 1e-3 for k_ in sa)


# --- packing & mixture ------------------------------------------------------

def test_pack_sequences_matches_single_window(spark):
    """Two-level block prefix sum == plain global window cumsum, for several
    block sizes (incl. block_size=1, the degenerate all-blocks path)."""
    from pyspark.sql import Window
    from statline_bq_spark.operators import packing

    rows = [("a", i, (i * 7) % 13 + 1) for i in range(50)] + [
        ("b", i, (i * 3) % 5 + 1) for i in range(23)
    ]
    df = spark.createDataFrame(rows, "k string, ord long, n long")
    w = (
        Window.partitionBy("k")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    expected = {
        (r.k, r.ord): r.off
        for r in df.select(
            "k", "ord", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("off")
        ).collect()
    }
    for bs in (1, 4, 4096):
        got = {
            (r.k, r.ord): r.start_offset
            for r in packing.pack_sequences(
                df, "k", "ord", "n", capacity=16, block_size=bs
            ).collect()
        }
        assert got == expected, f"block_size={bs}"


def test_pack_sequences_spans(spark):
    from statline_bq_spark.operators import packing

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 10), ("a", 3, 25), ("a", 4, 0)],
        "k string, ord long, n long",
    )
    out = {
        r.ord: r
        for r in packing.pack_sequences(
            df, "k", "ord", "n", capacity=16
        ).collect()
    }
    # doc1: [0,10) seq0; doc2: [10,20) crosses 16 -> spans 2; doc3: [20,45)
    # covers seqs 1 and 2; doc4: zero tokens occupies 1 slot at 45 (seq 2).
    assert (out[1].seq_id, out[1].n_seqs_spanned) == (0, 1)
    assert (out[2].seq_id, out[2].n_seqs_spanned) == (0, 2)
    assert (out[3].seq_id, out[3].n_seqs_spanned) == (1, 2)
    assert (out[4].seq_id, out[4].n_seqs_spanned) == (2, 1)


def test_mixture_sample_properties(spark):
    """Smallest source kept whole; larger sources thinned toward sqrt
    proportions; selection is deterministic across invocations."""
    from statline_bq_spark.operators import packing

    rows = [(f"s{j}", j * 10000 + i) for j, size in enumerate((50, 200, 800))
            for i in range(size)]
    df = spark.createDataFrame(rows, "source string, id long")
    out = packing.mixture_sample(df, "source", "id", alpha=0.5)
    per = {
        r.source: r
        for r in out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
            F.first("keep_rate").alias("rate"),
        )
        .collect()
    }
    assert per["s0"].kept == 50 and per["s0"].rate == 1.0
    # expected kept ~ sqrt(50*n): s1 -> 100, s2 -> 200 (hash noise ~ ±20%)
    assert 70 <= per["s1"].kept <= 130
    assert 150 <= per["s2"].kept <= 250
    first = sorted(
        (r.id for r in out.filter("keep").select("id").collect())
    )
    second = sorted(
        (r.id for r in packing.mixture_sample(df, "source", "id", alpha=0.5)
         .filter("keep").select("id").collect())
    )
    assert first == second


# --- script detection -------------------------------------------------------

def test_script_detection_multilingual(spark):
    """The synthetic corpus is Latin-only; pin the other ranges with real
    multilingual text against pure-Python codepoint counting."""
    from statline_bq_spark.functions import text as text_fns

    samples = [
        (1, "Hello world 123"),
        (2, "Привет мир"),
        (3, "你好世界 and some latin"),
        (4, "مرحبا بالعالم"),
        (5, "Ελληνικά κείμενο"),
        (6, "こんにちは 世界"),
        (7, "1234 5678"),
        (8, ""),
    ]
    df = spark.createDataFrame(samples, "id long, text string")
    out = {
        r.id: r
        for r in df.select(
            "id",
            *[
                text_fns.script_char_count("text", s).alias(s)
                for s in text_fns.SCRIPT_RANGES
            ],
            text_fns.dominant_script("text").alias("dom"),
        ).collect()
    }

    import re as _re
    ranges = {k: _re.compile(f"[{v}]") for k, v in text_fns.SCRIPT_RANGES.items()}
    for i, t in samples:
        for s, pat in ranges.items():
            assert out[i][s] == len(pat.findall(t)), (i, s)
    assert out[1].dom == "latin"
    assert out[2].dom == "cyrillic"
    assert out[3].dom == "latin"      # more latin chars than cjk here
    assert out[4].dom == "arabic"
    assert out[5].dom == "greek"
    assert out[6].dom == "cjk"
    assert out[7].dom == "none"       # digits aren't a script
    assert out[8].dom == "none"


# --- constraints ------------------------------------------------------------

def test_constraint_checks_count_violations(spark):
    from statline_bq_spark.functions import constraints as cq

    df = spark.createDataFrame(
        [(1, "F", 10.0), (2, None, -5.0), (2, "X", 20.0), (None, "O", 999.0)],
        "k long, status string, amount double",
    )
    report = {
        r.check_name: (r.n_violations, r.passed)
        for r in cq.validate(
            df,
            [
                cq.not_null("k"),
                cq.accepted_values("status", ["F", "O"]),
                cq.in_range("amount", 0.0, 100.0),
            ],
        ).collect()
    }
    assert report["not_null_k"] == (1, False)
    assert report["accepted_values_status"] == (2, False)  # None and 'X'
    assert report["in_range_amount"] == (2, False)  # -5 and 999
    dups = cq.unique_violations(df, ["k"]).collect()
    assert [(r.k, r.n_copies) for r in dups] == [(2, 2)]
    dim = spark.createDataFrame([(1,)], "k long")
    orphans = {
        r.k: r.n_orphans
        for r in cq.referential_violations(df, "k", dim, "k").collect()
    }
    assert orphans == {2: 2, None: 1}


def test_codebook_persistence_roundtrip(spark, tmp_path):
    """fit -> save -> load reproduces the codebook exactly, and IVF with a
    loaded codebook returns the same neighbors as with the fresh one."""
    from statline_bq_spark.operators import similarity

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cents = similarity.kmeans_fit(emb, k=4, max_iter=2, seed=42)
    path = str(tmp_path / "codebook")
    similarity.save_codebook(spark, cents, path)
    loaded = similarity.load_codebook(spark, path)
    assert loaded == cents
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    fresh = sorted(
        (r.q_id, r.neighbor_id)
        for r in similarity.ivf_kmeans_topk(
            emb, queries, centroids=cents, k=3, nprobe=2
        ).collect()
    )
    reloaded = sorted(
        (r.q_id, r.neighbor_id)
        for r in similarity.ivf_kmeans_topk(
            emb, queries, centroids=loaded, k=3, nprobe=2
        ).collect()
    )
    assert fresh == reloaded


def test_ivf_partitioned_index_prunes_and_matches(spark, tmp_path):
    """The label-partitioned IVF index must (a) return the same neighbors
    as the in-memory IVF with the same codebook, and (b) read ONLY the
    probed partitions — the label filter appears as a partition filter in
    the scan, not a post-scan predicate."""
    import contextlib
    import io

    from statline_bq_spark.operators import similarity

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cents = similarity.kmeans_fit(emb, k=4, max_iter=2, seed=42)
    path = str(tmp_path / "ivf_index")
    similarity.write_ivf_index(emb, cents, path)
    import os
    parts = sorted(d for d in os.listdir(path) if d.startswith("label="))
    assert len(parts) >= 2  # several inverted lists materialized

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = similarity.ivf_index_topk(
        spark, path, queries, cents, k=3, nprobe=2
    )
    got = sorted((r.q_id, r.neighbor_id) for r in out.collect())
    want = sorted(
        (r.q_id, r.neighbor_id)
        for r in similarity.ivf_kmeans_topk(
            emb, queries, centroids=cents, k=3, nprobe=2
        ).collect()
    )
    assert got == want

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    # the label filter must be IN the partition filters of the index scan
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("label" in ln for ln in pf_lines)


def test_compile_pipeline_ops_and_errors(spark):
    """Composer op coverage beyond the oracle query: top_per_group,
    select, distinct, limit — plus clear errors for bad specs."""
    import pytest as _pytest

    from statline_bq_spark.plans import compose
    from tests.conftest import SF_SMOKE

    top = compose.compile_pipeline(
        spark,
        SF_SMOKE,
        (
            {"op": "read", "table": "orders"},
            {"op": "select", "cols": ["o_custkey", "o_totalprice", "o_orderkey"]},
            {"op": "top_per_group", "keys": ["o_custkey"],
             "order": ["o_totalprice DESC", "o_orderkey"], "k": 2},
            {"op": "with_column", "name": "is_big",
             "expr": "o_totalprice > 100000"},
            {"op": "distinct"},
            {"op": "limit", "n": 10000},
        ),
    )
    rows = top.groupBy("o_custkey").count().agg({"count": "max"}).collect()
    assert rows[0][0] <= 2  # never more than k per group

    with _pytest.raises(ValueError, match="must start with a 'read'"):
        compose.compile_pipeline(spark, SF_SMOKE, ({"op": "filter", "where": "1=1"},))
    run = compose.compile_pipeline(
        spark,
        SF_SMOKE,
        (
            {"op": "read", "table": "orders"},
            {"op": "select", "cols": ["o_custkey", "o_orderdate", "o_orderkey",
                                      "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents"]},
            {"op": "running_sum", "keys": ["o_custkey"],
             "order": ["o_orderdate", "o_orderkey"],
             "value": "cents", "out": "cum_cents"},
        ),
    )
    import pyspark.sql.functions as _F
    last = run.groupBy("o_custkey").agg(
        _F.max("cum_cents").alias("cum"), _F.sum("cents").alias("tot")
    )
    assert last.filter("cum <> tot").count() == 0  # final cumsum == total

    with _pytest.raises(ValueError, match="unknown op"):
        compose.compile_pipeline(
            spark, SF_SMOKE,
            ({"op": "read", "table": "orders"}, {"op": "explode_all"}),
        )


def test_profile_numeric_empty_table_counts_are_zero(spark):
    """Counts must read 0 (not NULL) on an empty table; extrema/mean stay
    honestly NULL."""
    from statline_bq_spark.functions.profile import profile_numeric

    df = spark.createDataFrame([], "a long, b double")
    rows = {r.column: r for r in profile_numeric(df, ["a", "b"]).collect()}
    assert set(rows) == {"a", "b"}
    for r in rows.values():
        assert (r.n_rows, r.n_nulls, r.n_distinct) == (0, 0, 0)
        assert r.min_v is None and r.max_v is None and r.mean_v is None


def test_ivf_and_kmeans_empty_corpus_behavior(spark):
    """Searching an empty IVF corpus returns an empty, correctly-typed
    result; fitting a codebook on an empty corpus yields an EMPTY
    codebook (round-7b totality contract — a raise here would kill a
    100 TB job whose filter matched nothing; see
    test_empty_corpus_is_total_not_fatal for the full composition)."""
    from statline_bq_spark.operators import similarity

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>, label int")
    qs = spark.createDataFrame([(1, [1.0, 0.0])], "q_id long, embedding array<double>")
    out = similarity.ivf_topk(emb, qs, nprobe=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["q_id", "neighbor_id", "rn", "sim"]
    assert similarity.kmeans_fit(emb, k=2) == []


def test_dedup_pipelines_tolerate_null_and_empty_text(spark):
    """Real corpora carry NULL/empty text rows the synthetic tables never
    do: NULL text must not crash any dedup pipeline, must not pair with
    anything (no shingles), and must stay its own exact-dedup group
    (md5(NULL) group, distinct from the empty string)."""
    from statline_bq_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, "a b c d"), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    # two NULL-text docs must each survive as their OWN group: md5(NULL)
    # is NULL, so a bare md5 group key would collapse them into one bogus
    # "duplicate" pair and silently discard doc 5
    exact = {r.doc_id: r.n_copies for r in dedup.exact_dedup(docs).collect()}
    assert exact == {1: 2, 2: 1, 4: 1, 5: 1}
    for pairs in (
        dedup.ngram_jaccard_pairs(docs, threshold=0.1),
        dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.1),
        dedup.simhash_neardup_pairs(docs),
    ):
        assert {(r[0], r[1]) for r in pairs.collect()} == {(1, 3)}


def test_similarity_paths_exclude_null_vectors(spark):
    """NULL embeddings (failed encoder calls in real corpora) are excluded
    by contract from every search/fit path: no numpy crashes, no NULL-sim
    rows in any top-k, NULL query vectors return no rows."""
    from statline_bq_spark.operators import similarity as s

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, None, 0), (3, [0.9, 0.1], 1), (4, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    qs = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, None)], "q_id long, embedding array<double>"
    )
    for fn in (
        lambda: s.ann_cosine_topk(emb, qs, k=2),
        lambda: s.ann_cosine_topk_np(emb, qs, k=2),
        lambda: s.ann_cosine_topk_arrow(emb, qs, k=2),
        lambda: s.ivf_topk(emb, qs, k=2, nprobe=1),
        lambda: s.lsh_bucket_topk(emb, qs, dim=2, k=2),
        lambda: s.quantized_rerank_topk(emb, qs, k=2),
    ):
        rows = fn().collect()
        assert {(r.q_id, r.neighbor_id) for r in rows} == {(10, 1), (10, 3)}
        assert all(r.sim is not None for r in rows)
    assert len(s.kmeans_fit(emb, k=2)) == 2


def test_mixture_sample_keeps_null_source_group(spark):
    """A NULL source is a group like any other (groupBy semantics): its
    rows must be sampled, not silently dropped by a non-null-safe join."""
    from statline_bq_spark.operators.packing import mixture_sample

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y"), (4, None)],
        "doc_id long, source string",
    )
    out = mixture_sample(df, "source", "doc_id", alpha=1.0)
    assert out.count() == 4  # alpha=1 keeps rate 1.0 for every group
    assert out.filter("source IS NULL").count() == 2
    assert out.filter("keep").count() == 4


def test_pack_sequences_packs_null_stream_as_own_stream(spark):
    """A NULL stream key is a stream like any other: its documents must
    get correct prefix offsets, not silently vanish in the block-prefix
    join-back."""
    from statline_bq_spark.operators.packing import pack_sequences

    toks = spark.createDataFrame(
        [("a", 1, 5), (None, 2, 3), ("a", 3, 4), (None, 4, 2)],
        "stream string, doc_id long, n_tokens long",
    )
    got = {
        r.doc_id: (r.start_offset, r.seq_id)
        for r in pack_sequences(toks, "stream", "doc_id", "n_tokens", 8).collect()
    }
    assert got == {1: (0, 0), 3: (5, 0), 2: (0, 0), 4: (3, 0)}


def test_gap_fill_treats_null_key_as_a_series(spark):
    """A NULL series key must fill/interpolate like any other key — the
    grid join-back is null-safe, so its observations don't silently read
    as all-gaps."""
    from datetime import datetime

    from statline_bq_spark.operators.timeseries import (
        gap_fill_forward,
        gap_fill_linear,
    )

    df = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, 0, 30), 1.0),
            (None, datetime(2024, 1, 1, 0, 15), 5.0),
            (None, datetime(2024, 1, 1, 2, 15), 7.0),
            ("a", datetime(2024, 1, 1, 2, 45), 3.0),
        ],
        "k string, ts timestamp, v double",
    )
    fwd = {
        (r.k, r.window_start): (r.n_events, r.filled_value)
        for r in gap_fill_forward(df, "ts", "1 hour", "k", "v").collect()
    }
    assert fwd[(None, "2024-01-01 00:00:00")] == (1, 5.0)
    assert fwd[(None, "2024-01-01 01:00:00")] == (0, 5.0)
    assert fwd[(None, "2024-01-01 02:00:00")] == (1, 7.0)
    lin = {
        (r.k, r.window_start): r.interp_value
        for r in gap_fill_linear(df, "ts", "1 hour", "k", "v").collect()
    }
    assert lin[(None, "2024-01-01 01:00:00")] == 6.0


def test_gap_fill_domain_guard_excludes_corrupt_clocks(spark):
    """domain=(lo, hi) is the grid-explosion guard: a single 1905 row
    would inflate an hourly spine by ~1M buckets; with the guard it is
    excluded like NULL ts and the spine spans only the valid range."""
    from datetime import datetime

    from statline_bq_spark.operators.timeseries import (
        gap_fill_forward,
        gap_fill_linear,
    )

    df = spark.createDataFrame(
        [
            ("a", datetime(1905, 6, 30, 12, 0), 9.0),  # corrupt clock
            ("a", datetime(2024, 1, 1, 0, 30), 1.0),
            ("a", datetime(2024, 1, 1, 3, 45), 3.0),
            ("a", datetime(2262, 1, 1, 0, 0), 9.0),  # future corrupt clock
        ],
        "k string, ts timestamp, v double",
    )
    dom = ("2020-01-01", "2030-01-01")
    fwd = gap_fill_forward(df, "ts", "1 hour", "k", "v", domain=dom).collect()
    assert len(fwd) == 4  # hours 00..03 only, no 1905/2262 spine
    assert {r.window_start for r in fwd} == {
        "2024-01-01 00:00:00",
        "2024-01-01 01:00:00",
        "2024-01-01 02:00:00",
        "2024-01-01 03:00:00",
    }
    lin = gap_fill_linear(df, "ts", "1 hour", "k", "v", domain=dom).collect()
    assert len(lin) == 4
    # interpolation uses only in-domain neighbours: 1.0 -> 3.0 over 3 steps
    by_start = {r.window_start: r.interp_value for r in lin}
    assert by_start["2024-01-01 01:00:00"] == pytest.approx(1.6667, abs=1e-3)


def test_quantizable_measure_contract(spark):
    """The quantization-domain guard (README robustness): NaN, ±Inf and
    finite values outside DECIMAL(20,6)'s |x| < 1e14 domain all scrub to
    NULL — a bare ANSI decimal cast would THROW on the finite 1e300 and
    bigint cents arithmetic would overflow; one corrupt row must not
    kill a 100 TB aggregate. In-domain values pass through untouched,
    and the DuckDB mirror agrees value-for-value."""
    import duckdb

    from statline_bq_spark.workload import _quantizable, _sql_quantizable

    vals = [1e300, -1e300, 1e14, 1e14 - 1, float("nan"),
            float("inf"), float("-inf"), 0.0, -123.45, None]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r[0] for r in df.select(_quantizable("x").alias("q")).collect()]
    expect = [None, None, None, 1e14 - 1, None, None, None, 0.0, -123.45,
              None]
    assert got == expect
    # the decimal cast is now total (no ANSI throw anywhere in the domain)
    df.select(_quantizable("x").cast("decimal(20,6)")).collect()
    duck = [
        r[0]
        for r in duckdb.sql(
            "SELECT " + _sql_quantizable("x") + " FROM (SELECT "
            "unnest([1e300, -1e300, 1e14, 1e14 - 1, 'NaN'::DOUBLE, "
            "'Infinity'::DOUBLE, '-Infinity'::DOUBLE, 0.0::DOUBLE, "
            "-123.45, NULL::DOUBLE]) AS x)"
        ).fetchall()
    ]
    assert duck == expect


def test_ascii_tokenization_contract():
    """The portable tokenization contract (README robustness): ASCII-only
    case fold (locale-sensitive Unicode case mapping is engine-divergent)
    and ASCII-only \\s in Python tokenizers (Python's default \\s splits
    NBSP; Java/RE2 do not)."""
    import re

    from statline_bq_spark.functions.udtf import make_chunk_udtf  # noqa: F401
    from statline_bq_spark.functions.text import _ASCII_LOWER, _ASCII_UPPER

    assert len(_ASCII_UPPER) == len(_ASCII_LOWER) == 26
    # the chunker's split must keep a NBSP-joined token intact, exactly
    # like Java's \s and RE2's \s (both ASCII-only)
    words = re.split(r"\s+", "nb\u00a0sp end".strip(" "), flags=re.ASCII)
    assert words == ["nb\u00a0sp", "end"]
    # Python WITHOUT re.ASCII would split it — the divergence being pinned
    assert re.split(r"\s+", "nb\u00a0sp") == ["nb", "sp"]


def test_empty_corpus_is_total_not_fatal(spark):
    """Empty-in/empty-out totality (round 7b, found by the empty-corpus
    probe): an empty — or fully-unusable — corpus or query set must
    compose to EMPTY results, never a driver exception. At 100 TB an
    upstream filter legitimately matches nothing; 'cannot fit' /
    'queries is empty' crashes would kill the whole job."""
    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>, label int"
    )
    some = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1), (3, [1.0, 1.0], 0)],
        "vec_id bigint, embedding array<double>, label int",
    )
    # fit on empty -> empty codebook; assignment with it -> empty result
    assert similarity.kmeans_fit(empty, k=4) == []
    assigned = similarity.kmeans_assign(some, [])
    assert assigned.count() == 0
    assert assigned.columns == ["vec_id", "embedding", "label", "cid",
                                "dist2"]
    # empty query set -> schema-stable empty top-k on every Python path
    q_empty = empty.select(F.col("vec_id").alias("q_id"), "embedding")
    for fn in (
        similarity.ann_cosine_topk_np,
        similarity.ann_cosine_topk_arrow,
    ):
        out = fn(some, q_empty, k=2)
        assert out.count() == 0
        assert out.columns == ["q_id", "neighbor_id", "rn", "sim"]
    # a query set that exists but is fully unusable (zero-norm) is the
    # same class — the second guard
    q_zero = spark.createDataFrame(
        [(9, [0.0, 0.0])], "q_id bigint, embedding array<double>"
    )
    assert similarity.ann_cosine_topk_np(some, q_zero, k=2).count() == 0
    # ivf with a trained-on-empty codebook composes to empty too
    out = similarity.ivf_kmeans_topk(empty, q_empty, n_clusters=4, k=2)
    assert out.count() == 0


def test_json_quarantine_payload_contract(spark):
    """Per-payload parse verdicts for the declared-schema JSON parse
    (q_json_quarantine), pinned at ROW grain on BOTH engines. The
    grouped report alone cannot pin this: its per-type counts can hide
    COMPENSATING misclassifications — the round-7b dirty rows alternated
    event types, and the pre-fix oracle's two opposite misreadings
    (blank payloads quarantined, top-level 'null'/'[]' parsed) cancelled
    exactly in every per-type count while the sweep stayed green.

    Contract: NULL/blank (JSON-whitespace-only) = parsed-nothing; a
    valid unique-key OBJECT whose k is integral-or-absent-or-null =
    parsed; everything else (malformed, duplicate key, non-object top
    level, non-integral/string k) = quarantined."""
    import duckdb

    from statline_bq_spark.workload import (
        _json_ambiguous,
        _sql_json_parseable,
    )

    payloads = [None, "", "   ", " \t\n\r ", "null", "[]", "[1,2]",
                "123", '"s"', "{}", '{"k":1}', '{"k":-7}', '{"k":null}',
                '{"j":5}', '{"k":2.5}', '{"k":"7"}', '{"k":1,"k":2}',
                "{bad json", 'x{"k": 2}']
    expect = [True, True, True, True, False, False, False,
              False, False, True, True, True, True,
              True, False, False, False,
              False, False]
    df = spark.createDataFrame([(p,) for p in payloads], "payload string")
    parsed = df.withColumn(
        "rec",
        F.from_json(
            "payload",
            "k bigint, _corrupt_record string",
            {"mode": "PERMISSIVE",
             "columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    bad = F.col("rec._corrupt_record").isNotNull() | _json_ambiguous(
        "payload"
    )
    got = [r.ok for r in parsed.select((~bad).alias("ok")).collect()]
    assert got == expect
    con = duckdb.connect()
    duck = [
        r[1]
        for r in con.execute(
            "SELECT i, " + _sql_json_parseable("payload") + " AS ok "
            "FROM (SELECT unnest($1::VARCHAR[]) AS payload, "
            "unnest(range(1, len($1::VARCHAR[]) + 1)) AS i) ORDER BY i",
            [payloads],
        ).fetchall()
    ]
    con.close()
    assert duck == expect


def test_star_contraction_handles_long_chains_in_few_rounds(spark):
    """A 200-node path has diameter 199 — min-label propagation would need
    ~200 rounds; star contraction must finish well inside its 30-round cap
    and still label every node with the chain's minimum."""
    from statline_bq_spark.operators.graph import connected_components_star

    chain = [(i, i + 1) for i in range(200)]
    chain += [(1000, 1001), (1001, 1002)]  # a second component
    df = spark.createDataFrame(chain, "src long, dst long")
    got = {r.node: r.component for r in connected_components_star(df).collect()}
    assert all(got[i] == 0 for i in range(201))
    assert all(got[i] == 1000 for i in (1000, 1001, 1002))


def test_cosine_excludes_zero_vectors_under_ansi(spark):
    """One all-zero embedding must not kill a cosine query: under ANSI
    (Spark 4 default) a plain divide throws DIVIDE_BY_ZERO. The contract:
    cosine/l2_normalize yield NULL via try_divide, and every search path
    EXCLUDES zero-norm vectors — as corpus rows and as queries — with no
    NULL or NaN sims in any top-k."""
    from statline_bq_spark.functions.vectors import (
        cosine_similarity,
        l2_normalize,
    )
    from statline_bq_spark.operators import similarity as s

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 0.0], 0), (3, [0.9, 0.1], 1), (4, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    qs = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 0.0])], "q_id long, embedding array<double>"
    )
    row = emb.filter("vec_id = 2").select(
        cosine_similarity("embedding", "embedding").alias("c"),
        l2_normalize("embedding").alias("u"),
    ).collect()[0]
    assert row.c is None and row.u == [None, None]
    for fn in (
        lambda: s.ann_cosine_topk(emb, qs, k=3),
        lambda: s.ann_cosine_topk_np(emb, qs, k=3),
        lambda: s.ann_cosine_topk_arrow(emb, qs, k=3),
        lambda: s.ivf_topk(emb, qs, k=3, nprobe=2),
        lambda: s.quantized_rerank_topk(emb, qs, k=3),
    ):
        rows = fn().collect()
        assert {(r.q_id, r.neighbor_id) for r in rows} == {(10, 1), (10, 3), (10, 4)}
        assert all(r.sim is not None and r.sim == r.sim for r in rows)


def test_cosine_pairs_blocked_survives_zero_and_null_vectors(spark):
    """The blocked pair enumerator shares cosine_similarity's dirty-data
    contract: a zero-norm vector yields NULL sim via try_divide (dropped by
    the threshold filter — NOT an ANSI DIVIDE_BY_ZERO job kill), and NULL
    embeddings are excluded up front."""
    from statline_bq_spark.operators.similarity import cosine_pairs_blocked

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 0.0]),  # zero-norm: the ANSI divide hazard
            (3, None),        # failed encoder call
            (4, [2.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = cosine_pairs_blocked(emb, threshold=0.5, n_blocks=4).collect()
    assert {(r.a, r.b, r.sim) for r in rows} == {(1, 4, 1.0)}


def test_kmeans_assign_excludes_null_vectors(spark):
    """kmeans_assign shares the NULL-embedding exclusion contract: a None
    in the Arrow batch must not build a ragged numpy array and crash the
    BLAS scoring (the fit path already drops NULLs — assignment over the
    same dirty table has to as well)."""
    from statline_bq_spark.operators.similarity import kmeans_assign

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.cid
        for r in kmeans_assign(emb, [[1.0, 0.0], [0.0, 1.0]]).collect()
    }
    assert got == {1: 0, 3: 1}


def test_ivf_topk_tolerates_null_labels_and_all_null_embeddings(spark):
    """Two IVF dirty-data contracts: (a) corpus rows with a NULL label
    must not crash codebook assembly (None is unsortable against ints) —
    they are searchable through their nearest non-NULL-label list; (b) a
    non-empty corpus whose embeddings are ALL NULL has no inverted lists:
    the result is EMPTY, not Q x N fabricated (rn=1, sim=0.0) rows."""
    from statline_bq_spark.operators.similarity import ivf_topk

    qs = spark.createDataFrame(
        [(10, [1.0, 0.0])], "q_id long, embedding array<double>"
    )
    mixed = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], None), (3, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    rows = ivf_topk(mixed, qs, k=3, nprobe=2).collect()
    got = {(r.q_id, r.neighbor_id) for r in rows}
    assert (10, 1) in got and (10, 2) in got  # NULL-label row searchable
    all_null = spark.createDataFrame(
        [(1, None, 0), (2, None, 1)],
        "vec_id long, embedding array<double>, label int",
    )
    out = ivf_topk(all_null, qs, k=3, nprobe=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "q_id", "neighbor_id", "rn", "sim",
    ]


def test_connected_components_hash_magnitude_ids(spark):
    """Node ids are routinely 64-bit hashes (~2^62): the convergence probe
    must not ARITHMETIC_OVERFLOW under ANSI when summing labels — the
    decimal(38,0) probe keeps the strictly-decreasing invariant exact."""
    from statline_bq_spark.operators.graph import connected_components

    big = 1 << 62
    edges = spark.createDataFrame(
        [(big, big + 1), (big + 1, big + 2), (big + 10, big + 11)],
        "src long, dst long",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {
        big: big, big + 1: big, big + 2: big,
        big + 10: big + 10, big + 11: big + 10,
    }


def test_unigram_gram_builders_support_n_equal_1(spark):
    """n=1 (unigrams) is a legitimate config for every lead-window gram
    builder — shingle_index, winnowing k=1, doc_ngram_strings, and
    contamination_counts — not an IndexError at plan build. Empty text
    yields no unigrams (split's single '' token is dropped, matching the
    n>=2 NULL-last-lead filter)."""
    from statline_bq_spark.operators.decontaminate import (
        contamination_counts,
        doc_ngram_strings,
    )
    from statline_bq_spark.operators.dedup import (
        shingle_index,
        winnowing_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, ""), (3, "b")],
        "doc_id long, text string",
    )
    idx = shingle_index(docs, n=1)
    per_doc = {
        r.doc_id: r.n for r in idx.groupBy(F.col("_id").alias("doc_id"))
        .agg(F.count("*").alias("n")).collect()
    }
    assert per_doc == {1: 3, 3: 1}  # distinct unigrams; empty text absent
    grams = {
        (r._id, r._g) for r in doc_ngram_strings(docs, n=1).collect()
    }
    assert grams == {(1, "a"), (1, "b"), (1, "c"), (3, "b")}
    fp = winnowing_fingerprints(docs, k=1, window=2)
    assert fp.filter("doc_id = 2").count() == 0
    assert fp.filter("doc_id = 1").count() >= 1
    bench = spark.createDataFrame([(100, "a z")], "doc_id long, text string")
    cont = {
        r.doc_id: (r.n_shared, r.n_grams)
        for r in contamination_counts(docs, bench, n=1).collect()
    }
    # only documents sharing >=1 gram are reported (contract): doc 1
    # shares 'a'; docs 2/3 share nothing and are absent
    assert cont == {1: (1, 3)}


def test_fuzzy_pairs_short_and_empty_strings_emit_no_grams(spark):
    """Strings shorter than q produce NO q-grams (the oracle's range(1,1)
    is empty): without the guard, sequence(1,0) descends and every
    empty/short name would share its whole text as a phantom gram and
    pair up quadratically."""
    from statline_bq_spark.operators.dedup import fuzzy_pairs

    df = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "ab"), (4, "ab"), (5, "abcd"), (6, "abce")],
        "id long, name string",
    )
    rows = fuzzy_pairs(df, max_dist=1, q=3).collect()
    # only the two length>=q names can pair; the empty/short ones have no
    # grams, so no candidate can ever surface them
    assert {(r.a, r.b) for r in rows} == {(5, 6)}


def test_hash_split_null_key_gets_null_split(spark):
    """A NULL key yields a NULL split (same contract as kfold_assign) —
    not a silent fall-through that routes the whole NULL-key error
    population into the last-named split."""
    from statline_bq_spark.operators.sampling import hash_split

    df = spark.createDataFrame(
        [(1,), (None,), (3,)], "doc_id long"
    )
    out = {
        r.doc_id: r.split
        for r in hash_split(df, "doc_id", {"train": 0.8, "test": 0.2}).collect()
    }
    assert out[None] is None
    assert out[1] in ("train", "test") and out[3] in ("train", "test")


def test_extract_features_null_payload_yields_null_feature(spark):
    """A NULL payload (failed fetch) must NOT be fake-decoded as b'' — that
    would fabricate a real-looking feature vector for media that was never
    retrieved. The contract is feature = NULL."""
    from statline_bq_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, b"bytes"), (2, None)], "media_id long, payload binary"
    )
    rows = {
        r.media_id: r.feature
        for r in multimodal.extract_features(
            df, decoder=multimodal.deterministic_fake_decoder, dim=4
        ).collect()
    }
    assert rows[2] is None
    assert rows[1] is not None and len(rows[1]) == 4


def test_chunkers_null_and_empty_text_contract(spark):
    """NULL text chunks to NOTHING in both the JVM chunker and the UDTF
    (greatest(NULL-overlap, 1) silently skips the NULL and would fabricate
    one chunk with a NULL body and n_tokens = width); empty/whitespace
    text follows the split(trim, '\\s+') convention — ONE chunk of the
    single '' token."""
    from statline_bq_spark.functions.text import chunk_words
    from statline_bq_spark.functions.udtf import register_chunk_udtf

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "a b c")],
        "doc_id long, text string",
    )
    jvm = {}
    for r in chunk_words(df, width=8, overlap=3).collect():
        jvm.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk, r.n_tokens))
    assert 1 not in jvm
    assert jvm[2] == [(0, "", 1)] and jvm[3] == [(0, "", 1)]
    assert jvm[4] == [(0, "a b c", 3)]

    register_chunk_udtf(spark, "chunk_text_nulltest", chunk_size=8, overlap=3)
    df.createOrReplaceTempView("nulltest_docs")
    udtf_out = {}
    for r in spark.sql(
        "SELECT d.doc_id, c.* FROM nulltest_docs d,"
        " LATERAL chunk_text_nulltest(d.text) c"
    ).collect():
        udtf_out.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.chunk, r.n_tokens)
        )
    assert udtf_out == jvm


def test_pack_sequences_null_token_count_is_zero_length_placeholder(spark):
    """A doc with a NULL token count (un-tokenizable text) advances the
    stream by ZERO but keeps a well-defined position: start_offset is the
    prefix sum of its predecessors, it spans exactly the sequence it
    starts in, and successors are NOT poisoned by NULL arithmetic."""
    from statline_bq_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [("en", 1, 5), ("en", 2, None), ("en", 3, 7)],
        "lang string, doc_id long, n_tokens long",
    )
    got = {
        r.doc_id: (r.start_offset, r.seq_id, r.n_seqs_spanned)
        for r in pack_sequences(
            df, "lang", "doc_id", "n_tokens", capacity=4, block_size=2
        ).collect()
    }
    assert got == {1: (0, 0, 2), 2: (5, 1, 1), 3: (5, 1, 2)}


def test_token_counts_are_session_mode_invariant(spark):
    """NULL text must count NULL tokens under BOTH ANSI settings: plain
    F.size reads -1 for a NULL array on legacy (ANSI-off, every Spark
    3.x cluster) sessions — the round-9 ANSI-off sweep caught 13 queries
    emitting -1 token/dim counts. safe_size pins the contract."""
    from statline_bq_spark.functions.text import (
        bpe_ish_token_count,
        safe_size,
        token_count,
    )

    df = spark.createDataFrame([("a b c",), (None,)], "text string")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("false", "true"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            rows = df.select(
                token_count("text").alias("n"),
                bpe_ish_token_count("text").alias("b"),
                safe_size("split(text, ' ')").alias("s"),
            ).collect()
            got = {(r.n, r.b, r.s) for r in rows}
            assert got == {(3, 3, 3), (None, None, None)}, (mode, got)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_stopword_fold_is_ascii_only(spark):
    """Stopword membership folds [A-Z] only (text.ascii_fold): full
    Unicode lower() is engine-divergent exactly at tokens that fold INTO
    the ASCII stopword list — DuckDB (utf8proc simple mapping) lowers
    Turkish 'İN' to 'in' while Spark (Java full mapping) gives 'i̇n',
    so a lower()-based ratio disagrees with any utf8proc-based oracle
    (round-10 locale fixture, caught live in quality_scores). Under the
    ASCII fold 'İN' is NOT a stopword and 'IN'/'in'/'The' are, on every
    engine, in every locale."""
    from statline_bq_spark.functions.text import ascii_fold, stopword_ratio

    df = spark.createDataFrame(
        [("İN ıN IN in The THE of",), ("ΑΣ ß ﬁn",)], "text string"
    )
    rows = df.select(
        F.round(stopword_ratio("text"), 4).alias("r"),
        ascii_fold("text").alias("f"),
    ).collect()
    got = {(r.r, r.f) for r in rows}
    # 5 of 7 stopwords (IN, in, The, THE, of — İN and ıN excluded)
    assert got == {
        (round(5 / 7, 4), "İn ın in in the the of"),
        (0.0, "ΑΣ ß ﬁn"),
    }, got


def test_stopword_ratio_escapes_quoted_stopwords(spark):
    """A custom stopword holding a quote (``don't``) goes into the SQL text
    as an escaped literal: unescaped, it ended the string early and broke
    the expression. Ratios are hand-counted over the folded tokens."""
    from statline_bq_spark.functions.text import stopword_ratio

    df = spark.createDataFrame(
        [("Don't stop the music",), ("dont THE don't",), ("no stopwords",)],
        "text string",
    )
    rows = df.select(
        stopword_ratio("text", ("don't", "the")).alias("r")
    ).collect()
    # don't + the of 4 tokens; THE + don't of 3 ('dont' is no stopword); 0 of 2
    assert [r.r for r in rows] == [2 / 4, 2 / 3, 0 / 2]


def test_sql_double_renders_finite_and_rejects_non_finite():
    from statline_bq_spark.sqltext import sql_double

    assert sql_double(0.5) == "0.5D"
    assert sql_double(-1e-05) == "-1e-05D"
    assert sql_double(2) == "2.0D"
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="non-finite"):
            sql_double(bad)


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_dedup_thresholds_reject_non_finite_before_any_job(spark, bad):
    """A NaN/Inf Jaccard threshold has no SQL literal: both pair finders
    raise ValueError while building, before any Spark job runs (it used to
    render as ``nanD``/``infD`` and fail deep in analysis)."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"non-finite-threshold-{bad}"
    sc.setJobGroup(group, "non-finite dedup thresholds")
    try:
        with pytest.raises(ValueError, match="non-finite"):
            dedup.ngram_jaccard_pairs(df, threshold=bad)
        with pytest.raises(ValueError, match="non-finite"):
            dedup.minhash_lsh_pairs(df, jaccard_threshold=bad)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(tracker.getJobIdsForGroup(group)) == []
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_kmeans_parallel_tiny_corpus_pads_to_k(spark):
    """k larger than the distinct-vector count: the k-means|| pool cycles
    its candidates so the codebook still has exactly k rows (duplicate
    centers; assignment stays total via argmin-first tie-break)."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [0.0, 10.0])],
        "vec_id bigint, embedding array<double>",
    )
    cents = similarity.kmeans_fit(df, k=5, max_iter=3, seed=2)
    assert len(cents) == 5 and all(len(c) == 2 for c in cents)
    assert similarity.kmeans_assign(df, cents).count() == 3
