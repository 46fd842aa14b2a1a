"""Similarity search over embedding columns (north star, BASELINE.json).

Two tiers, mirroring how ANN systems are deployed on data pipelines:

- ``ann_cosine_topk``: brute-force exact top-k — the correctness baseline.
  The (small) query set is broadcast, so the big corpus is scanned once with
  zero shuffle of the embedding column; per-row math is a JVM-side
  sequential fold (functions/vectors.py). A per-query top-k window trims
  results. At 100 TB the same plan holds: broadcast Q queries, mapper-side
  score, TakeOrdered per query.

- ``lsh_bucket_topk``: multi-table random-hyperplane (sign) LSH — the scale
  path. Each vector gets a B-bit signature per hash table from fixed
  pseudo-random hyperplanes (deterministic, seeded); candidates are corpus
  rows sharing a query's bucket in ANY table; exact cosine re-ranks the
  candidate set. Multiple tables are what buy recall (single-table sign-LSH
  recall is (1-θ/π)^B — e.g. ~0.16 for 4 bits at the ~66° angles typical of
  nearest neighbors among random 64-d vectors; L tables lift it to
  1-(1-p)^L). This turns the O(N·Q) scan into a bucket-join whose cost is
  the collision count. Hyperplanes are generated driver-side (tiny:
  L×B×dim floats) and shipped as literals — no extra table, no shuffle
  beyond the bucket join.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from statline_bq_spark.functions.vectors import (
    cosine_from_norms,
    cosine_from_norms_sql,
    cosine_similarity,
    dot_sql,
    finite_vector_sql,
    l2_norm,
    l2_norm_sql,
)
from statline_bq_spark.sqltext import sql_double


def _drop_null_vectors(
    df: DataFrame, vec_col: str, id_col: str | None = None
) -> DataFrame:
    """Exclude rows whose embedding is NULL or carries ANY non-finite
    component — the uniform usable-vector contract for every search/fit
    path here. Real corpora carry NULL vectors and NaN/Inf-poisoned
    vectors (failed or overflowed encoder calls); letting them through
    either crashes the numpy/quantization paths, overflows ANSI integer
    rounding, or — worst — injects NaN similarities whose top-k rank is
    engine-defined (Spark sorts NaN greatest; IEEE comparisons say
    false). There is no partial credit for a half-failed embedding: one
    bad component poisons every dot product it touches, so the whole
    vector is unusable. The filter (``finite_vector_sql``) is codegen'd
    and rides the scan. Found by the round-6 NaN-component dirty probe
    (11 of 16 embedding queries crashed or silently diverged without it).

    ``id_col`` (round 8, found by the NULL-PK dirty class): search and
    assignment paths that EMIT the row's id also require it non-NULL —
    an id-less neighbor is undereferenceable, the JVM path's self-match
    ``!=`` predicate and every SQL oracle's pair predicate already drop
    it implicitly (NULL never equals or differs), and the NumPy/Arrow
    paths would otherwise mangle NULL through an int64 cast. Fit-only
    paths (centroids, codebooks) and storage transforms (quantization)
    pass ``id_col=None``: content is usable regardless of identity."""
    cond = finite_vector_sql(f"`{vec_col}`")
    if id_col is not None:
        cond = f"(`{id_col}` IS NOT NULL) AND {cond}"
    return df.filter(cond)


def _empty_topk_result(df: DataFrame) -> DataFrame:
    """Schema-stable EMPTY top-k result (q_id, neighbor_id, rn, sim):
    an empty — or fully-unusable — query set retrieves nothing instead
    of killing the job. At 100 TB an upstream filter can legitimately
    match zero queries; empty-in/empty-out keeps the pipeline total
    (empty-corpus probe, round 7b)."""
    return df.sparkSession.createDataFrame(
        [], "q_id bigint, neighbor_id bigint, rn int, sim double"
    )


def ann_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    k: int = 5,
    round_to: int | None = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    ``queries`` must carry (query_id_col, vec_col). Output:
    (q_id, neighbor_id, rn, sim) — rn 1..k by descending similarity with the
    neighbor id as deterministic tiebreaker; self-matches excluded.
    """
    # norms are projected per SIDE ROW before the N×Q scoring join —
    # inline cosine would re-fold the corpus norm once per query
    # (SQL-text projections, round 12: identical trees, one round trip)
    q = F.broadcast(
        _drop_null_vectors(queries, vec_col, query_id_col).selectExpr(
            f"`{query_id_col}` AS q_id",
            f"`{vec_col}` AS _q_vec",
            f"{l2_norm_sql(f'`{vec_col}`')} AS _q_nrm",
        )
    )
    scored = (
        _drop_null_vectors(corpus, vec_col, id_col)
        .selectExpr(
            f"`{id_col}` AS neighbor_id",
            f"`{vec_col}` AS _c_vec",
            f"{l2_norm_sql(f'`{vec_col}`')} AS _c_nrm",
        )
        .join(q, F.col("neighbor_id") != F.col("q_id"), "inner")
        .withColumn(
            "_sim",
            F.expr(
                cosine_from_norms_sql(
                    "_c_vec", "_q_vec", "_c_nrm", "_q_nrm"
                )
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("_sim").desc(), F.col("neighbor_id")
    )
    out = (
        scored.withColumn("rn", F.row_number().over(w))
        # desc() sorts NULL sims LAST; dropping them after the rank test
        # touches <= k rows per query, where a pre-window filter would
        # re-evaluate the cosine fold (measured +70% on the JVM path)
        .filter((F.col("rn") <= k) & F.col("_sim").isNotNull())
        .select(
            "q_id",
            "neighbor_id",
            "rn",
            (F.round("_sim", round_to) if round_to is not None else F.col("_sim")).alias(
                "sim"
            ),
        )
    )
    return out


def ann_cosine_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    k: int = 5,
    round_to: int | None = 4,
) -> DataFrame:
    """Brute-force ANN, Arrow + BLAS edition: one matmul scores a whole
    Arrow batch against every query at once (``mapInPandas``), each
    partition emits only its per-query top-k, and a final window merges the
    per-partition candidates (Q × k × partitions rows — tiny).

    Same contract as :func:`ann_cosine_topk`; the neighbor SETS match (a
    test pins that), but sims are summed by BLAS in blocked order rather
    than a sequential fold, so value hashes aren't cross-engine-stable →
    rows-only check for the query entry.

    The query set is collected to the driver by design — it is the bounded
    side (10s-1000s of vectors), and shipping it inside the closure is
    exactly what `broadcast` would do anyway.
    """
    import numpy as np
    import pandas as pd

    q_rows = _drop_null_vectors(queries, vec_col, query_id_col).select(query_id_col, vec_col).collect()
    if not q_rows:
        return _empty_topk_result(corpus)
    q_ids = np.array([r[0] for r in q_rows], dtype="int64")
    qm = np.asarray([list(map(float, r[1])) for r in q_rows], dtype="float64")
    _qn = np.linalg.norm(qm, axis=1, keepdims=True)
    _qnz = _qn[:, 0] > 0.0  # zero-norm queries: cosine undefined, exclude
    q_ids, qm, _qn = q_ids[_qnz], qm[_qnz], _qn[_qnz]
    if qm.shape[0] == 0:
        return _empty_topk_result(corpus)
    qm /= _qn

    dim = qm.shape[1]

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # dimension guard BEFORE stacking: one truncated/empty vector
            # makes np.asarray produce a ragged object array and the
            # matmul below throws — the whole job dies on one malformed
            # row. Mismatched vectors are un-scorable against these
            # queries and are excluded, matching the JVM path's
            # NULL-padded-cosine exclusion.
            ok = pdf[vec_col].map(len) == dim
            if not ok.all():
                pdf = pdf[ok]
                if pdf.empty:
                    continue
            ids = pdf[id_col].to_numpy(dtype="int64")
            m = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            nz = norms[:, 0] > 0.0  # zero-norm: cosine undefined, exclude
            if not nz.all():
                m, ids, norms = m[nz], ids[nz], norms[nz]
                if m.shape[0] == 0:
                    continue
            m /= norms
            sims = m @ qm.T  # (batch, n_queries)
            frames = []
            for j in range(len(q_ids)):
                col = sims[:, j]
                keep = ids != q_ids[j]
                cid, csim = ids[keep], col[keep]
                # order by (-sim, id): lexsort's last key is primary
                order = np.lexsort((cid, -csim))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            "q_id": q_ids[j],
                            "neighbor_id": cid[order],
                            "sim": csim[order],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    cand = _drop_null_vectors(corpus, vec_col, id_col).select(id_col, vec_col).mapInPandas(
        score, "q_id bigint, neighbor_id bigint, sim double"
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "q_id",
            "neighbor_id",
            "rn",
            (
                F.round("sim", round_to)
                if round_to is not None
                else F.col("sim")
            ).alias("sim"),
        )
    )


def ann_cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    k: int = 5,
    round_to: int | None = 4,
) -> DataFrame:
    """Brute-force ANN, ``mapInArrow`` edition: same blocked-BLAS scoring
    as :func:`ann_cosine_topk_np`, but the Python boundary stays at the
    Arrow RecordBatch level — no pandas block-manager materialization on
    either side of the UDF, which is the lowest-overhead Python execution
    surface Spark offers. The embedding matrix is rebuilt zero-copy from
    the ListArray's flat values buffer (one reshape, no per-row Python).

    Same contract as the BLAS twin: neighbor sets match the exact JVM
    fold; blocked-sum sims aren't bit-stable, so the query entry pins
    set-equality rather than value hashes.
    """
    import numpy as np
    import pyarrow as pa

    q_rows = _drop_null_vectors(queries, vec_col, query_id_col).select(query_id_col, vec_col).collect()
    if not q_rows:
        return _empty_topk_result(corpus)
    q_ids = np.array([r[0] for r in q_rows], dtype="int64")
    qm = np.asarray([list(map(float, r[1])) for r in q_rows], dtype="float64")
    _qn = np.linalg.norm(qm, axis=1, keepdims=True)
    _qnz = _qn[:, 0] > 0.0  # zero-norm queries: cosine undefined, exclude
    q_ids, qm, _qn = q_ids[_qnz], qm[_qnz], _qn[_qnz]
    if qm.shape[0] == 0:
        return _empty_topk_result(corpus)
    qm /= _qn

    dim = qm.shape[1]

    def score(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(rb.schema.get_field_index(id_col)).to_numpy(
                zero_copy_only=False
            ).astype("int64")
            vecs = rb.column(rb.schema.get_field_index(vec_col))
            if isinstance(vecs, pa.ChunkedArray):  # pragma: no cover
                vecs = vecs.combine_chunks()
            # dimension guard BEFORE the flatten-reshape: the reshape
            # infers the dim from total length, so one truncated/empty
            # vector either throws (length not divisible) or — worse —
            # silently shears every row's components. Mismatched vectors
            # are un-scorable against these queries and are excluded.
            lens = vecs.value_lengths().to_numpy(zero_copy_only=False)
            if (lens != dim).any():
                keep_dim = lens == dim
                ids = ids[keep_dim]
                if len(ids) == 0:
                    continue
                vecs = vecs.filter(pa.array(keep_dim))
            n_rows = len(ids)
            flat = vecs.flatten()
            m = (
                flat.to_numpy(zero_copy_only=False)
                .astype("float64")
                .reshape(n_rows, dim)
            )
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            nz = norms[:, 0] > 0.0  # zero-norm: cosine undefined, exclude
            if not nz.all():
                m, ids, norms = m[nz], ids[nz], norms[nz]
                if m.shape[0] == 0:
                    continue
            m /= norms
            sims = m @ qm.T
            out_q, out_n, out_s = [], [], []
            for j in range(len(q_ids)):
                col = sims[:, j]
                keep = ids != q_ids[j]
                cid, csim = ids[keep], col[keep]
                order = np.lexsort((cid, -csim))[:k]
                out_q.extend([int(q_ids[j])] * len(order))
                out_n.extend(cid[order].tolist())
                out_s.extend(csim[order].tolist())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_q, type=pa.int64()),
                    pa.array(out_n, type=pa.int64()),
                    pa.array(out_s, type=pa.float64()),
                ],
                names=["q_id", "neighbor_id", "sim"],
            )

    cand = _drop_null_vectors(corpus, vec_col, id_col).select(id_col, vec_col).mapInArrow(
        score, "q_id bigint, neighbor_id bigint, sim double"
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "q_id",
            "neighbor_id",
            "rn",
            (
                F.round("sim", round_to)
                if round_to is not None
                else F.col("sim")
            ).alias("sim"),
        )
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (sign LSH only needs
    directions)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def signature_expr(vec_col: str, planes: list[list[float]]):
    """Bit-signature expression: bit b = sign(vec · plane_b) ≥ 0.

    Pure built-in fold per plane (``dot_sql``); planes ship as double
    array literals.
    """
    sig = "CAST(0 AS bigint)"
    for b, plane in enumerate(planes):
        p = "array(" + ", ".join(sql_double(x) for x in plane) + ")"
        sig = (
            f"({sig} | CASE WHEN {dot_sql(f'`{vec_col}`', p)} >= 0"
            f" THEN CAST({1 << b} AS bigint) ELSE CAST(0 AS bigint) END)"
        )
    return F.expr(sig)


def _bucket_array(vec_col: str, all_planes: list[list[list[float]]]):
    """array<struct<table_id,bucket>> — one LSH bucket per hash table."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("table_id"),
                signature_expr(vec_col, planes).alias("bucket"),
            )
            for t, planes in enumerate(all_planes)
        ]
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    dim: int = 64,
    bits: int = 8,
    tables: int = 8,
    seed: int = 42,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: candidates share a query's bucket in any of
    ``tables`` hash tables; exact cosine re-ranks the deduped candidates."""
    all_planes = [
        _hyperplanes(dim, bits, seed + 7919 * t) for t in range(tables)
    ]
    corpus = _drop_null_vectors(corpus, vec_col, id_col)
    queries = _drop_null_vectors(queries, vec_col, query_id_col)
    # norms fold once per row BEFORE the bucket explode — inline cosine
    # would re-fold them per (table × candidate) pair in the verify step
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_c_vec"),
        l2_norm(f"`{vec_col}`").alias("_c_nrm"),
        F.explode(_bucket_array(vec_col, all_planes)).alias("_b"),
    ).select("neighbor_id", "_c_vec", "_c_nrm", "_b.table_id", "_b.bucket")
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("q_id"),
            F.col(vec_col).alias("_q_vec"),
            l2_norm(f"`{vec_col}`").alias("_q_nrm"),
            F.explode(_bucket_array(vec_col, all_planes)).alias("_b"),
        ).select("q_id", "_q_vec", "_q_nrm", "_b.table_id", "_b.bucket")
    )
    candidates = (
        c.join(q, ["table_id", "bucket"])
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id", "_q_vec", "_q_nrm", "neighbor_id", "_c_vec", "_c_nrm"
        )
        .dropDuplicates(["q_id", "neighbor_id"])
    )
    scored = candidates.withColumn(
        "_sim",
        cosine_from_norms("_c_vec", "_q_vec", "_c_nrm", "_q_nrm"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        # desc() sorts NULL sims LAST; dropping them after the rank test
        # touches <= k rows per query, where a pre-window filter would
        # re-evaluate the cosine fold (measured +70% on the JVM path)
        .filter((F.col("rn") <= k) & F.col("_sim").isNotNull())
        .select("q_id", "neighbor_id", "rn", F.round("_sim", 4).alias("sim"))
    )


def cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, sim ≥ threshold).

    Brute-force all-pairs — the exact baseline; at scale run
    ``lsh_bucket_topk``-style bucketing first and this as the in-bucket
    verifier.
    """
    a = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("sim", F.round(cosine_similarity("_va", "_vb"), 4))
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )


def cosine_pairs_blocked(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_blocks: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Exact cosine near-duplicate pairs via block-grid equi-joins — the
    100 TB shape of brute-force all-pairs.

    ``cosine_pairs``' ``a.join(b, a<b)`` compiles to a
    BroadcastNestedLoopJoin: one side is broadcast whole and every executor
    re-scans it per row — unusable beyond a few thousand vectors. This
    operator keeps the *exact* semantics (identical output, same rounded
    JVM cosine expression) but restructures the O(N²) compare as blocked
    matrix multiplication:

    1. each vector gets a deterministic block id ``xxhash64(id) % P``;
    2. a P(P+1)/2-row block-pair grid (bi ≤ bj) is built driver-side and
       broadcast;
    3. vectors join the grid on their block id (BroadcastHashJoin), then
       equi-join the other side on the partner block id — every unordered
       vector pair is produced exactly once (same-block pairs dedup on
       id order);
    4. the exact JVM cosine + threshold filter runs per candidate.

    Cost model: data moved ≈ N·(P+1)/2 rows (each block participates in P
    block-pairs), compute = the same N²/2 cosines but spread evenly over
    P(P+1)/2 independent tasks — no broadcast of the full table, no nested
    re-scan, AQE-splittable. Choose P ≈ max(shuffle partitions, N·dim·8 /
    executor-memory-budget) so one block pair fits in memory.

    Why not sign-LSH candidates here: at moderate thresholds (e.g. 0.4)
    the per-bit collision probability is 1-arccos(t)/π ≈ 0.63, so any
    table count that keeps recall at 1.0 (required: this op's contract is
    *exact*) generates more candidates than the blocked exact compare.
    LSH (``lsh_bucket_topk``) is the right tool for high-threshold/top-k
    workloads, not exact moderate-threshold pair enumeration. A metric
    pruning layer (k-means cells + spherical triangle inequality
    ``sim(x,y) ≤ cos(θ_cells − r1 − r2)``) composes with this blocking for
    clustered corpora, but on near-uniform data (cell radii ~80°) it
    prunes nothing, so it is not the default.
    """
    spark = df.sparkSession
    df = _drop_null_vectors(df, vec_col, id_col)
    grid = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "_bi int, _bj int",
    )
    # Per-side L2 norms are computed ONCE per vector before the join (same
    # expression tree as cosine_similarity, so values are bit-identical),
    # cutting per-candidate work from dot+2 norms to dot+divide — a
    # measured ~3x on the O(N^2) verify stage.
    left = df.select(
        F.col(id_col).alias("_xid"),
        F.col(vec_col).alias("_xv"),
        l2_norm(f"`{vec_col}`").alias("_xn"),
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(n_blocks))
        .cast("int")
        .alias("_xb"),
    )
    right = df.select(
        F.col(id_col).alias("_yid"),
        F.col(vec_col).alias("_yv"),
        l2_norm(f"`{vec_col}`").alias("_yn"),
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(n_blocks))
        .cast("int")
        .alias("_yb"),
    )
    cand = (
        left.join(F.broadcast(grid), left["_xb"] == grid["_bi"])
        # merge hint: the partner-block side is the full corpus — a
        # borderline size estimate must not tempt the planner into
        # driver-broadcasting it (the block-pair grid above is the only
        # intentionally-broadcast relation here).
        .join(right.hint("merge"), F.col("_bj") == right["_yb"])
        .filter(
            (F.col("_bi") < F.col("_bj")) | (F.col("_xid") < F.col("_yid"))
        )
    )
    return (
        cand.withColumn(
            "sim",
            # try_divide: a zero-norm vector yields NULL (dropped by the
            # threshold filter below), not an ANSI DIVIDE_BY_ZERO
            F.round(cosine_from_norms("_xv", "_yv", "_xn", "_yn"), 4),
        )
        .filter(F.col("sim") >= threshold)
        .select(
            F.least("_xid", "_yid").alias("a"),
            F.greatest("_xid", "_yid").alias("b"),
            "sim",
        )
    )


def centroids_by_label(
    df: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Per-label centroid, long form: (label, pos, centroid_val).

    posexplode → groupBy(label, pos) → avg. One shuffle on (label, pos);
    at 100 TB pre-aggregate per partition happens automatically (partial
    avg), so the shuffle carries only group partials.
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("val"), round_to).alias("centroid_val")
    )


def _assign_nearest_literal(
    df: DataFrame,
    labeled_centroids: list[tuple],
    *,
    id_col: str,
    vec_col: str,
    out_id: str,
    out_vec: str,
) -> DataFrame:
    """Zero-shuffle nearest-centroid (cosine) assignment for the CORPUS side
    of an IVF probe: the codebook is bounded by definition, so it ships
    inside the task closure as an L2-normalised numpy matrix and each Arrow
    batch is scored with ONE BLAS matmul + argmax — scan → mapInArrow, no
    join, no window, no shuffle of the corpus. (The window-based
    :func:`_assign_to_centroids` stays for the query side, which needs
    top-``nprobe`` rather than the argmax and is the small side anyway.)

    Three formulations were measured at sf0.1 before settling here: a
    broadcast-join + per-row window shuffles N×nlist rows; a zip_with/
    aggregate fold is interpreted per element (~1.5× slower end-to-end);
    an unrolled ``v[0]*c0+...`` literal tree is whole-stage-codegen'd but
    pays seconds of analysis/codegen per plan (nlist×dim terms) — worst of
    all. The Arrow+BLAS path has a constant-size plan and C-speed math.

    ``mapInArrow``, not ``mapInPandas`` (round 11): the pandas boundary
    materialized every embedding as a per-row Python list (object column)
    on BOTH sides of the UDF — the matrix stack and the output conversion
    each looped rows in Python. At the RecordBatch level the embedding
    matrix is rebuilt zero-copy from the ListArray's flat values buffer
    (one reshape), the id and vector columns pass through as the same
    Arrow buffers, and only the label column is newly built — measured
    2.1s → 1.5s on q_ivf_topk_raw in a back-to-back A/B, identical
    assignments. It also carries nullable int64 ids exactly (the same
    class of pandas float64-coercion hazard kmeans_assign hit in round 8),
    though ids here are already non-NULL by contract.

    ``labeled_centroids`` is [(label, vector), ...]; cosine ties break
    toward the earlier entry (np.argmax takes the first maximum), matching
    the window path's (sim desc, label asc) ordering when entries are
    sorted by label.
    """
    import numpy as np

    if not labeled_centroids:
        # empty codebook -> no inverted lists: every vector is
        # un-assignable (the same class as a dimension mismatch) — a
        # schema-stable empty result instead of a driver crash
        out_type = df.schema[id_col].dataType.simpleString()
        vec_type = df.schema[vec_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"{out_id} {out_type}, {out_vec} {vec_type}, label int"
        )
    cmat = np.asarray([c for _, c in labeled_centroids], dtype="float64")
    # belt-and-braces against a poisoned codebook: a zero-norm or
    # non-finite centroid must be a deterministic LOSER of the argmax
    # (its column scores -> 0/finite), never a NaN column that np.argmax
    # would rank as the winner for every row
    cmat = np.nan_to_num(cmat, nan=0.0, posinf=0.0, neginf=0.0)
    norms = np.linalg.norm(cmat, axis=1)
    norms[norms == 0.0] = 1.0
    cmat = (cmat / norms[:, None]).T  # (dim, nlist), closure-shipped
    labels = [lbl for lbl, _ in labeled_centroids]
    out_type = df.schema[id_col].dataType.simpleString()
    vec_type = df.schema[vec_col].dataType.simpleString()

    expected_dim = cmat.shape[0]  # cmat is (dim, nlist)
    lab_arr = np.asarray(labels, dtype="int32")

    def assign(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(rb.schema.get_field_index(id_col))
            vecs = rb.column(rb.schema.get_field_index(vec_col))
            if isinstance(vecs, pa.ChunkedArray):  # pragma: no cover
                vecs = vecs.combine_chunks()
            # dimension guard BEFORE the flatten-reshape: the reshape
            # infers rows from total length, so one truncated/empty vector
            # either throws or silently shears every row's components —
            # mismatched vectors join no inverted list (un-assignable)
            lens = vecs.value_lengths().to_numpy(zero_copy_only=False)
            if (lens != expected_dim).any():
                keep = pa.array(lens == expected_dim)
                ids, vecs = ids.filter(keep), vecs.filter(keep)
                if len(ids) == 0:
                    continue
            m = (
                vecs.flatten()
                .to_numpy(zero_copy_only=False)
                .astype("float64")
                .reshape(len(ids), expected_dim)
            )
            # argmax over normalised-centroid dots == argmax cosine (the
            # row's own norm is constant across candidates)
            idx = np.argmax(m @ cmat, axis=1)
            yield pa.RecordBatch.from_arrays(
                [ids, vecs, pa.array(lab_arr[idx], pa.int32())],
                names=[out_id, out_vec, "label"],
            )

    return _drop_null_vectors(df, vec_col, id_col).select(id_col, vec_col).mapInArrow(
        assign, f"{out_id} {out_type}, {out_vec} {vec_type}, label int"
    )


def _assign_to_centroids(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """Attach the ``nprobe`` nearest centroid labels to every vector:
    (id, vec, label). Centroids are a bounded dimension → broadcast
    nested-loop scoring, then a per-id top-nprobe window."""
    # row norm folds once per vector, centroid norms once per centroid —
    # inline cosine would re-fold the row norm per (row × centroid) pair
    scored = (
        _drop_null_vectors(df, vec_col, id_col)
        .selectExpr(
            f"`{id_col}` AS _aid",
            f"`{vec_col}` AS _avec",
            f"{l2_norm_sql(f'`{vec_col}`')} AS _anrm",
        )
        .join(
            F.broadcast(
                centroids.selectExpr(
                    "*", f"{l2_norm_sql('_cvec')} AS _cnrm"
                )
            )
        )
        .withColumn(
            "_csim",
            F.expr(
                cosine_from_norms_sql("_avec", "_cvec", "_anrm", "_cnrm")
            ),
        )
    )
    w = Window.partitionBy("_aid").orderBy(F.col("_csim").desc(), F.col("label"))
    return (
        scored.withColumn("_crn", F.row_number().over(w))
        .filter(F.col("_crn") <= nprobe)
        .select(
            F.col("_aid").alias(id_col),
            F.col("_avec").alias(vec_col),
            "label",
        )
    )


def _seed_parallel(hashed, first, *, k: int, round_to: int):
    """Deterministic k-means‖ seeding over ``hashed`` (columns ``_v``
    array<double>, ``_h`` bigint): ceil(log2 k) oversampling passes, one
    weighting pass, then a driver-local weighted greedy + Lloyd refine of
    the candidate pool down to k centers. Returns a k×dim float64 array.

    Derandomization: the d²-proportional draw of k-means‖ is replaced by
    Efraimidis–Spirakis keys ``log(u)/d²`` where u comes from a per-round
    splitmix of the row's xxhash64 — a weighted sample without
    replacement that needs no RNG state, is identical under any
    partitioning (per-batch top-ℓ is a superset-safe prefilter of the
    global top-ℓ), and never selects a d²=0 row (an exact duplicate of an
    existing candidate adds nothing to the pool)."""
    import math

    import numpy as np

    ell = 2 * k
    rounds = max(1, math.ceil(math.log2(k)))
    pool_v = [np.asarray(first["_v"], dtype="float64")]
    pool_h = [int(first["_h"])]

    for rnd in range(rounds):
        cmat = np.asarray(pool_v, dtype="float64")
        cn2 = (cmat * cmat).sum(axis=1)
        salt = np.uint64(((rnd + 1) * 0xD1B54A32D192ED03) & 0xFFFFFFFFFFFFFFFF)

        def batch_sample(batches, _c=cmat, _n2=cn2, _s=salt, _l=ell):
            import pandas as pd

            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.asarray(
                    [np.asarray(v, dtype="float64") for v in pdf["_v"]]
                )
                d2 = (
                    (m * m).sum(axis=1)[:, None]
                    - 2.0 * (m @ _c.T)
                    + _n2[None, :]
                ).min(axis=1)
                d2 = np.maximum(d2, 0.0)
                h64 = pdf["_h"].to_numpy()
                mix = h64.astype(np.uint64) * np.uint64(
                    0x9E3779B97F4A7C15
                ) + _s
                u = (mix >> np.uint64(11)).astype("float64") / float(1 << 53)
                u = np.clip(u, 1e-18, 1.0 - 1e-18)
                with np.errstate(divide="ignore"):
                    key = np.where(d2 > 0.0, np.log(u) / d2, -np.inf)
                # per-batch top-ℓ is a sound prefilter: every global
                # top-ℓ key is necessarily within its own batch's top-ℓ
                top = np.lexsort((h64, -key))[:_l]
                yield pd.DataFrame(
                    {
                        "_v": [list(map(float, m[i])) for i in top],
                        "_h": [int(h64[i]) for i in top],
                        "_key": [float(key[i]) for i in top],
                    }
                )

        # finish the top-ℓ reduction DISTRIBUTED (TakeOrdered): collecting
        # every batch's winners would be ℓ·num_batches dim-length vectors
        # on the driver — at 100 TB that is GBs; orderBy+limit ships only
        # ℓ rows. Already-pooled hashes are excluded in-plan (the pool is
        # bounded, so the isin literal list is too).
        cand = (
            hashed.mapInPandas(
                batch_sample, "_v array<double>, _h bigint, _key double"
            )
            .filter(
                (F.col("_key") != float("-inf"))
                & ~F.col("_h").isin([int(h) for h in pool_h])
            )
            .orderBy(F.col("_key").desc(), F.col("_h"))
            .limit(ell)
            .collect()
        )
        seen = set(pool_h)
        for r in cand:
            if r["_h"] in seen:
                continue
            pool_v.append(np.asarray(r["_v"], dtype="float64"))
            pool_h.append(int(r["_h"]))
            seen.add(r["_h"])

    # weighting pass: corpus mass nearest to each candidate
    cmat = np.asarray(pool_v, dtype="float64")
    cn2 = (cmat * cmat).sum(axis=1)

    def batch_weight(batches, _c=cmat, _n2=cn2):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf["_v"]]
            )
            idx = (
                (m * m).sum(axis=1)[:, None]
                - 2.0 * (m @ _c.T)
                + _n2[None, :]
            ).argmin(axis=1)
            cnt = np.bincount(idx, minlength=len(_n2))
            nz = np.nonzero(cnt)[0]
            yield pd.DataFrame(
                {"idx": nz.astype("int64"), "cnt": cnt[nz].astype("int64")}
            )

    # reduce the per-batch partial counts with one hash aggregate (the
    # shuffle moves ≤ pool-size rows per batch); the driver collects only
    # the bounded pool-sized result
    w = np.zeros(len(pool_v), dtype="float64")
    for r in (
        hashed.mapInPandas(batch_weight, "idx bigint, cnt bigint")
        .groupBy("idx")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    ):
        w[r["idx"]] += r["cnt"]

    # driver-local reduce: weighted greedy seeding then weighted Lloyd on
    # the bounded pool (≤ 1 + 2k·ceil(log2 k) points — trivially local)
    hs = np.asarray(pool_h, dtype="int64")
    start = int(np.lexsort((hs, -w))[0])
    picked = [start]
    for _ in range(min(k, len(pool_v)) - 1):
        chosen_m = cmat[picked]
        d2 = (
            (cmat * cmat).sum(axis=1)[:, None]
            - 2.0 * (cmat @ chosen_m.T)
            + (chosen_m * chosen_m).sum(axis=1)[None, :]
        ).min(axis=1)
        d2 = np.maximum(d2, 0.0)
        score = w * d2
        score[picked] = -1.0
        picked.append(int(np.lexsort((hs, -score))[0]))
    while len(picked) < k:  # fewer candidates than k: cycle (dup centers)
        picked.append(picked[len(picked) % max(1, len(pool_v))])
    centers = cmat[picked].copy()
    for _ in range(20):
        d = (
            (cmat * cmat).sum(axis=1)[:, None]
            - 2.0 * (cmat @ centers.T)
            + (centers * centers).sum(axis=1)[None, :]
        )
        a = d.argmin(axis=1)
        new = centers.copy()
        for c in range(k):
            sel = a == c
            tw = w[sel].sum()
            if tw > 0:
                new[c] = (cmat[sel] * w[sel, None]).sum(axis=0) / tw
        new = np.round(new, round_to)
        if np.array_equal(new, centers):
            break
        centers = new
    return centers


def kmeans_fit(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_iter: int = 5,
    seed: int = 42,
    round_to: int = 6,
    init: str = "parallel",
) -> list[list[float]]:
    """Distributed Lloyd's k-means over an embedding column; returns the
    trained codebook as a k×dim list (driver-side — a codebook is bounded
    by definition, k·dim floats, exactly what MLlib's KMeans also collects
    and broadcasts every iteration).

    Scale shape per iteration: ONE ``mapInPandas`` pass assigns every row
    to its nearest centroid with a BLAS matmul against the broadcast
    codebook and emits only per-(batch, cluster) partial sums — k rows per
    Arrow batch, each carrying a dim-length sum vector and a count. The
    global reduce is a groupBy(cid) over those partials (posexplode →
    sum), so the shuffle moves k·num_batches tiny rows, never the corpus.
    No corpus-wide join, no N-row shuffle, no lineage growth (each
    iteration reads the same source scan).

    Initialisation (``init="parallel"``, the default) is a deterministic
    k-means‖ (Bahmani et al., VLDB 2012): seed 1 is the row with the
    smallest ``xxhash64(id, seed)``; then ceil(log2 k) oversampling rounds
    each make ONE corpus pass that draws ~2k candidates with probability
    ∝ d²(nearest candidate) — derandomized via Efraimidis–Spirakis
    weighted sampling keyed on a per-round mix of the row hash, so the
    draw is reproducible with no RNG state. One final pass weights every
    candidate by the corpus mass nearest to it, and a driver-local
    weighted greedy + Lloyd refine over the ≤(1+2k·log2 k)-point pool
    reduces it to k centroids. Total seeding passes: 2 + ceil(log2 k)
    (5 at k=8) instead of the k−1 of farthest-first traversal — the slope
    that matters when k is in the thousands (IVF codebooks at 100 TB).
    ``init="farthest"`` keeps the k-center 2-approximation traversal for
    small k. Both are fully deterministic. Empty clusters keep their
    previous centroid. Centroids are rounded to ``round_to`` dp each
    iteration so results don't drift with shuffle order across runs.
    """
    import numpy as np
    import pandas as pd

    df = _drop_null_vectors(df, vec_col)
    # the corpus dimensionality is the MODAL vector length (scalar agg,
    # one scan), never .first()'s arbitrary row: with a truncated/empty
    # vector in the feed, a row-order-dependent probe could pick the
    # malformed dim and silently filter out the whole corpus. Vectors of
    # any other length are un-fittable (a ragged Arrow batch crashes the
    # BLAS distance matmuls) and are excluded like NULL/non-finite ones.
    dim_row = (
        df.groupBy(F.size(F.col(vec_col)).alias("_d"))
        .count()
        .orderBy(F.col("count").desc(), F.col("_d"))
        .first()
    )
    if dim_row is None:
        # empty (or fully-unusable) corpus fits an EMPTY codebook: the
        # assign/probe paths compose it to empty results instead of a
        # dead job (empty-corpus probe, round 7b)
        return []
    dim = dim_row["_d"]
    hashed = df.filter(F.size(F.col(vec_col)) == dim).select(
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"),
    )
    first = hashed.orderBy("_h").limit(1).collect()
    if not first:
        return []  # same empty-codebook contract as the dim probe above
    chosen = [[float(x) for x in first[0]["_v"]]]
    if init == "parallel" and k > 1:
        centroids = _seed_parallel(hashed, first[0], k=k, round_to=round_to)
    else:
        for _ in range(k - 1):
            # distance to the NEAREST chosen seed; pick the farthest row.
            # Each pass is one mapInPandas scan emitting ONE candidate per
            # Arrow batch (BLAS distance matrix + argmax); the global
            # winner is reduced DISTRIBUTED via orderBy+limit(1) — same
            # TakeOrdered shape as _seed_parallel — so the driver receives
            # exactly one dim-length vector per pass regardless of batch
            # count (collecting every batch's winner would be
            # num_batches·dim floats: GBs at 100 TB). Tie-break: (dist
            # desc, hash asc).
            cmat = np.asarray(chosen, dtype="float64")
            cn2 = (cmat * cmat).sum(axis=1)

            def batch_far(batches, _c=cmat, _n2=cn2):
                import pandas as pd

                for pdf in batches:
                    if pdf.empty:
                        continue
                    m = np.asarray(
                        [np.asarray(v, dtype="float64") for v in pdf["_v"]]
                    )
                    d = (
                        (m * m).sum(axis=1)[:, None]
                        - 2.0 * (m @ _c.T)
                        + _n2[None, :]
                    ).min(axis=1)
                    h = pdf["_h"].to_numpy()
                    best = np.lexsort((h, -d))[0]
                    yield pd.DataFrame(
                        {
                            "_v": [list(map(float, m[best]))],
                            "_h": [int(h[best])],
                            "_d": [float(d[best])],
                        }
                    )

            far = (
                hashed.mapInPandas(
                    batch_far, "_v array<double>, _h bigint, _d double"
                )
                .orderBy(F.col("_d").desc(), F.col("_h"))
                .limit(1)
                .collect()[0]
            )
            chosen.append([float(x) for x in far["_v"]])
        centroids = np.asarray(chosen, dtype="float64")

    # the Lloyd scans share the seeding's dimension filter: a truncated/
    # empty vector would make the stacked Arrow batch ragged and crash
    # the partial-sum matmuls
    src = df.filter(F.size(F.col(vec_col)) == dim).select(
        F.col(vec_col).alias("_v")
    )
    out_schema = "cid int, psum array<double>, n bigint"

    for _ in range(max_iter):
        cmat = centroids.copy()  # closure-captured snapshot for this pass
        half_norms = 0.5 * (cmat * cmat).sum(axis=1)

        def partial_sums(batches, _c=cmat, _h=half_norms):
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.asarray(
                    [np.asarray(v, dtype="float64") for v in pdf["_v"]]
                )
                # argmin ||x-c||^2 == argmax (x·c - ||c||^2/2)
                cid = np.argmax(m @ _c.T - _h, axis=1)
                rows = []
                for c in np.unique(cid):
                    sel = m[cid == c]
                    rows.append(
                        {
                            "cid": int(c),
                            "psum": sel.sum(axis=0).tolist(),
                            "n": int(sel.shape[0]),
                        }
                    )
                yield pd.DataFrame(rows)

        agg = (
            src.mapInPandas(partial_sums, out_schema)
            .select("cid", "n", F.posexplode("psum").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                F.sum("val").alias("s"),
                F.sum(F.when(F.col("pos") == 0, F.col("n"))).alias("cnt"),
            )
            .collect()
        )
        counts = [0] * k
        sums = np.zeros((k, dim), dtype="float64")
        for r in agg:
            sums[r["cid"], r["pos"]] = r["s"]
            if r["cnt"] is not None:
                counts[r["cid"]] = r["cnt"]
        new = centroids.copy()  # empty cluster -> keep previous centroid
        for c in range(k):
            if counts[c] > 0:
                new[c] = np.round(sums[c] / counts[c], round_to)
        if np.array_equal(new, centroids):
            break
        centroids = new
    return [list(map(float, row)) for row in centroids]


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Attach (cid, dist2) — nearest trained centroid and squared L2 — with
    ZERO shuffle: the codebook ships inside the task closure and each Arrow
    batch is scored by one BLAS distance matrix + argmin (the assignment
    step of an IVF index build at 100 TB: scan → mapInPandas, no join).
    All input columns pass through. Ties break toward the smaller cid
    (np.argmin takes the first minimum). Rows with a NULL embedding are
    excluded (the uniform search/fit contract — a None in the Arrow batch
    would otherwise build a ragged object array and crash the BLAS path).
    """
    import numpy as np

    df = _drop_null_vectors(df, vec_col)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", cid int, dist2 double"
    if not centroids:
        # an EMPTY codebook (fit over an empty corpus) assigns nothing —
        # schema-stable empty result, not a shape crash (round 7b)
        return df.sparkSession.createDataFrame([], out_schema)
    cmat = np.asarray(centroids, dtype="float64")
    cn2 = (cmat * cmat).sum(axis=1)

    expected_dim = cmat.shape[1]

    # mapInArrow, not mapInPandas (round 8, found by the NULL-PK ×
    # int64-edge dirty cross): the pandas serializer coerces a
    # pass-through bigint column containing ANY null to float64, which
    # silently corrupts 19-digit ids (2^63-1 is not float64-representable)
    # and then fails Arrow's safe int64 re-conversion. Arrow RecordBatches
    # carry nullable int64 exactly; the UDF touches ONLY the vector column
    # and appends (cid, dist2) — every other column passes through
    # bit-identical.
    def assign(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = rb.columns
            vecs = cols[rb.schema.get_field_index(vec_col)].to_pylist()
            # dimension guard: a truncated/empty vector would make the
            # stacked batch ragged and crash the matmul (un-assignable
            # vectors are excluded, same as NULL/non-finite ones)
            keep = [i for i, v in enumerate(vecs) if len(v) == expected_dim]
            if len(keep) < rb.num_rows:
                if not keep:
                    continue
                # Array.take (ancient API), not RecordBatch.take — the
                # RecordBatch column-modification methods postdate the
                # oldest pyarrow pyspark 4.x accepts
                idx = pa.array(keep, pa.int64())
                cols = [c.take(idx) for c in cols]
                vecs = [vecs[i] for i in keep]
            m = np.asarray(vecs, dtype="float64")
            d = (
                (m * m).sum(axis=1)[:, None]
                - 2.0 * (m @ cmat.T)
                + cn2[None, :]
            )
            cid = np.argmin(d, axis=1)
            dist2 = np.round(
                np.maximum(d[np.arange(len(cid)), cid], 0.0), round_to
            )
            # build the output batch with from_arrays (portable across
            # every pyarrow pyspark supports) instead of append_column
            yield pa.RecordBatch.from_arrays(
                list(cols)
                + [
                    pa.array(cid.astype("int32"), pa.int32()),
                    pa.array(dist2, pa.float64()),
                ],
                names=list(rb.schema.names) + ["cid", "dist2"],
            )

    return df.mapInArrow(assign, out_schema)


def ivf_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    n_clusters: int = 8,
    max_iter: int = 4,
    seed: int = 42,
    k: int = 5,
    nprobe: int = 2,
    centroids: list | None = None,
) -> DataFrame:
    """IVF top-k with a TRAINED coarse quantizer: k-means codebook instead
    of :func:`ivf_topk`'s label-mean stand-in. Same search path — inverted
    lists keyed by nearest centroid, probe ``nprobe`` lists per query,
    exact cosine re-rank — but the lists now follow the data's own
    geometry, so recall holds when labels don't align with clusters.

    Pass ``centroids`` (e.g. from :func:`load_codebook`) to reuse a
    persisted codebook instead of re-training — the 'train once, query
    many' index lifecycle."""
    spark = corpus.sparkSession
    codebook = centroids if centroids is not None else kmeans_fit(
        corpus,
        vec_col=vec_col,
        id_col=id_col,
        k=n_clusters,
        max_iter=max_iter,
        seed=seed,
    )
    cents = F.broadcast(
        spark.createDataFrame(
            [(cid, vec) for cid, vec in enumerate(codebook)],
            "label int, _cvec array<double>",
        )
    )
    corpus_lists = _assign_nearest_literal(
        corpus,
        list(enumerate(codebook)),
        id_col=id_col,
        vec_col=vec_col,
        out_id="neighbor_id",
        out_vec="_c_vec",
    )
    query_probes = _assign_to_centroids(
        queries, cents, id_col=query_id_col, vec_col=vec_col, nprobe=nprobe
    ).selectExpr(
        f"`{query_id_col}` AS q_id",
        f"`{vec_col}` AS _q_vec",
        f"{l2_norm_sql(f'`{vec_col}`')} AS _q_nrm",
        "label",
    )
    candidates = (
        # the corpus norm folds once per inverted-list row, pre-join
        corpus_lists.selectExpr("*", f"{l2_norm_sql('_c_vec')} AS _c_nrm")
        .join(query_probes, "label")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .dropDuplicates(["q_id", "neighbor_id"])
        .withColumn(
            "_sim",
            F.expr(
                cosine_from_norms_sql(
                    "_c_vec", "_q_vec", "_c_nrm", "_q_nrm"
                )
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col("neighbor_id"))
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= k) & F.col("_sim").isNotNull())
        .select("q_id", "neighbor_id", "rn", F.round("_sim", 4).alias("sim"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    label_col: str = "label",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    inverted lists keyed by nearest centroid, probe the ``nprobe`` nearest
    lists per query, exact-cosine re-rank inside them.

    The coarse quantizer here is the per-``label`` mean vector (a
    deterministic stand-in for a k-means codebook — see
    :func:`ivf_kmeans_topk` for the trained variant sharing this search
    path). The codebook is bounded (nlist×dim), so the corpus-side
    assignment ships it as normalised literal arrays and runs as a
    zero-shuffle projection; the only corpus-wide shuffle is the candidate
    equi-join on the centroid label, which is exactly the inverted-list
    probe — scan cost per query drops from O(N) to O(N·nprobe/nlist).

    Output: (q_id, neighbor_id, rn, sim) like ``ann_cosine_topk`` — but
    approximate: neighbors outside the probed lists are missed.
    """
    # the codebook is bounded (nlist × dim) — collect it once; the
    # corpus-side assignment then runs as a zero-shuffle literal projection
    # (vs a broadcast-join + per-row window over N×nlist rows), and the
    # query side probes a literal-backed local relation instead of
    # re-deriving the centroid aggregation subplan a second time
    # NULL labels are excluded from the codebook: a NULL label can never
    # equi-join a probe (so its inverted list would be unreachable), and a
    # (None, vec) entry would crash the sort below. NULL-label rows stay
    # searchable — the assignment step below routes every corpus row to
    # its nearest NON-NULL-label centroid.
    #
    # The LONG form (label, pos, centroid_val) is collected and the
    # vectors assembled driver-side: re-aggregating it into per-label
    # arrays would add a second exchange to the codebook job only to
    # reshape nlist×dim tiny rows the driver collects anyway. Usable
    # vectors only: one NaN-component vector would poison its label's
    # centroid, and a NaN column wins np.argmax, routing every corpus
    # row to that one inverted list.
    by_label: dict[int, dict[int, float]] = {}
    for r in centroids_by_label(
        _drop_null_vectors(corpus, vec_col),
        label_col=label_col,
        vec_col=vec_col,
        round_to=6,
    ).collect():
        if r["label"] is not None:
            by_label.setdefault(r["label"], {})[r["pos"]] = float(
                r["centroid_val"]
            )
    labeled = sorted(
        (lbl, [vals[p] for p in sorted(vals)])
        for lbl, vals in by_label.items()
    )
    if not labeled:
        # no inverted lists (empty corpus, all embeddings NULL, or all
        # labels NULL) → searching finds nothing: a typed EMPTY result.
        # limit(0) on both sides keeps the q_id/neighbor_id input types
        # without fabricating rows when only one side is empty.
        return (
            queries.select(F.col(query_id_col).alias("q_id"))
            .limit(0)
            .crossJoin(
                corpus.select(F.col(id_col).alias("neighbor_id")).limit(0)
            )
            .select(
                "q_id",
                "neighbor_id",
                F.lit(1).cast("int").alias("rn"),
                F.lit(0.0).alias("sim"),
            )
        )
    corpus_lists = _assign_nearest_literal(
        corpus,
        labeled,
        id_col=id_col,
        vec_col=vec_col,
        out_id="neighbor_id",
        out_vec="_c_vec",
    )
    cents = F.broadcast(
        corpus.sparkSession.createDataFrame(
            labeled, "label int, _cvec array<double>"
        )
    )
    query_probes = _assign_to_centroids(
        queries, cents, id_col=query_id_col, vec_col=vec_col, nprobe=nprobe
    ).selectExpr(
        f"`{query_id_col}` AS q_id",
        f"`{vec_col}` AS _q_vec",
        f"{l2_norm_sql(f'`{vec_col}`')} AS _q_nrm",
        "label",
    )
    candidates = (
        # the corpus norm folds once per inverted-list row, pre-join
        corpus_lists.selectExpr("*", f"{l2_norm_sql('_c_vec')} AS _c_nrm")
        .join(query_probes, "label")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .dropDuplicates(["q_id", "neighbor_id"])
        .withColumn(
            "_sim",
            F.expr(
                cosine_from_norms_sql(
                    "_c_vec", "_q_vec", "_c_nrm", "_q_nrm"
                )
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col("neighbor_id"))
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= k) & F.col("_sim").isNotNull())
        .select("q_id", "neighbor_id", "rn", F.round("_sim", 4).alias("sim"))
    )


def quantize_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    storage/IO scale lever for 100 TB embedding tables (float32 → int8 is a
    4× scan-byte reduction; IVF/re-rank pipelines read codes and
    dequantize with one per-vector scale).

    Per vector: ``scale = max(|v|)/127``, ``code_i = floor(v_i/scale + 0.5)``
    (half-up via floor — cross-engine deterministic, unlike round(), whose
    tie behavior differs between engines). The all-zero vector gets
    ``scale = 0`` and all-zero codes.

    Formulated as posexplode + hash aggregation with the per-vector
    ``maxabs`` computed ONCE PER ROW as an array expression before the
    explode (round 8; the previous window-max-over-surrogate shape
    shuffled and sorted the full 64×-exploded relation just to attach
    maxabs — with maxabs pre-attached, the groupBy's partial aggregate
    collapses the exploded rows map-side and the exchange carries one
    partial row per vector). The single interpreted higher-order pass
    (one abs-fold over the array) is per-ROW, not per-component-row —
    the hot per-component math stays codegen'd.

    Output: (id, n_dims, code_sum, code_min, code_max, scale_micros) — the
    verifiable integer facets of the codes; scale_micros =
    floor(scale·1e6) keeps the float deterministic cross-engine.
    """
    # usable vectors only: a NaN/Inf component would poison maxabs and
    # every code derived from it (and overflow the ANSI long cast).
    # The window/group key is a per-ROW surrogate carried alongside the
    # id: quantization is per VECTOR, and a duplicated vec_id (a
    # double-encoded document) must yield two independent code rows —
    # an id-keyed window would mix both vectors' components into one
    # maxabs/code stream. The surrogate never reaches the output.
    # (the surrogate projects BELOW the generator — in the same select
    # as posexplode it would evaluate once per exploded component)
    # (SQL-text construction, round 12: identical trees — D-suffixed
    # literals match F.lit(float), CASE matches when/otherwise, the
    # int-vs-bigint branch coercion and the final CAST are unchanged.)
    ex = (
        _drop_null_vectors(df, vec_col)
        .select(F.col(id_col), F.col(vec_col))
        .selectExpr("*", "monotonically_increasing_id() AS _rid")
        .selectExpr(
            "*",
            f"array_max(transform(`{vec_col}`,"
            " x -> abs(CAST(x AS double)))) AS _maxabs",
        )
        .selectExpr(
            f"`{id_col}`",
            "_rid",
            "_maxabs",
            f"posexplode(`{vec_col}`) AS (_pos, _vf)",
        )
        .selectExpr("*", "CAST(_vf AS double) AS _v")
    )
    code = (
        "CAST(CASE WHEN _maxabs = 0.0D THEN 0"
        " ELSE floor(_v * 127.0D / _maxabs + 0.5D) END AS bigint)"
    )
    return (
        ex.selectExpr("*", f"{code} AS _code")
        .groupBy("_rid", id_col)
        .agg(
            F.expr("count(1) AS n_dims"),
            F.expr("sum(_code) AS code_sum"),
            F.expr("min(_code) AS code_min"),
            F.expr("max(_code) AS code_max"),
            F.expr(
                "floor(max(_maxabs) / 127.0D * 1000000.0D) AS scale_micros"
            ),
        )
        .drop("_rid")
    )


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    k: int = 5,
    candidates: int | None = None,
    round_to: int | None = 4,
) -> DataFrame:
    """Two-pass ANN over int8-quantized codes — the search-side counterpart
    of :func:`quantize_embeddings`. Pass 1 scores every corpus row against
    all queries using the int8 representation (the 4×-smaller codes a
    100 TB store would actually scan; cosine is invariant to the per-vector
    scale, so codes can be scored directly); pass 2 re-scores ONLY the
    per-batch top-``candidates`` with the exact float vectors; a final
    window merges per-partition candidates to the global top-k.

    At scale the two passes read different columns: pass 1 touches the
    codes column (¼ the bytes), pass 2 fetches exact vectors for
    ~Q·candidates·partitions rows. Here both live in one ``mapInPandas``
    over the same batch, which keeps the pattern (approximate generation,
    exact re-rank) without a second scan at test scale.

    Like :func:`ann_cosine_topk_np` this is rows-only vs the driver oracle
    (BLAS blocked summation); a unit test pins that the neighbor SET equals
    the exact brute-force answer on the test corpus.
    """
    import numpy as np
    import pandas as pd

    c = candidates if candidates is not None else 4 * k
    q_rows = _drop_null_vectors(queries, vec_col, query_id_col).select(query_id_col, vec_col).collect()
    if not q_rows:
        return _empty_topk_result(corpus)
    q_ids = np.array([r[0] for r in q_rows], dtype="int64")
    qm = np.asarray([list(map(float, r[1])) for r in q_rows], dtype="float64")
    _qn = np.linalg.norm(qm, axis=1, keepdims=True)
    _qnz = _qn[:, 0] > 0.0  # zero-norm queries: cosine undefined, exclude
    q_ids, qm, _qn = q_ids[_qnz], qm[_qnz], _qn[_qnz]
    if qm.shape[0] == 0:
        return _empty_topk_result(corpus)
    qm /= _qn

    dim = qm.shape[1]

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # dimension guard (see ann_cosine_topk_np): a truncated/empty
            # vector would make the stacked batch ragged and crash the
            # GEMMs below
            ok = pdf[vec_col].map(len) == dim
            if not ok.all():
                pdf = pdf[ok]
                if pdf.empty:
                    continue
            ids = pdf[id_col].to_numpy(dtype="int64")
            m = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            # zero-norm corpus rows: cosine undefined, exclude (same
            # contract as every other search path)
            _nz = np.linalg.norm(m, axis=1) > 0.0
            if not _nz.all():
                m, ids = m[_nz], ids[_nz]
                if m.shape[0] == 0:
                    continue
            # pass 1: symmetric int8 codes, scored as-is (cosine ignores
            # the positive per-vector scale) — int16 accumulation is what
            # a real codes-only scan would do; float64 here for numpy GEMM
            maxabs = np.abs(m).max(axis=1, keepdims=True)
            maxabs[maxabs == 0.0] = 1.0
            codes = np.floor(m * 127.0 / maxabs + 0.5)
            cn = np.linalg.norm(codes, axis=1, keepdims=True)
            cn[cn == 0.0] = 1.0
            approx = (codes / cn) @ qm.T  # (batch, Q)
            # pass 2: exact cosine, but only for pass-1 candidates
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            mn = m / norms
            frames = []
            for j in range(len(q_ids)):
                keep = np.flatnonzero(ids != q_ids[j])
                cand = keep[np.lexsort((ids[keep], -approx[keep, j]))[:c]]
                exact = mn[cand] @ qm[j]
                order = np.lexsort((ids[cand], -exact))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            "q_id": q_ids[j],
                            "neighbor_id": ids[cand][order],
                            "sim": exact[order],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    cand = _drop_null_vectors(corpus, vec_col, id_col).select(id_col, vec_col).mapInPandas(
        score, "q_id bigint, neighbor_id bigint, sim double"
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "q_id",
            "neighbor_id",
            "rn",
            (
                F.round("sim", round_to)
                if round_to is not None
                else F.col("sim")
            ).alias("sim"),
        )
    )


# --------------------------------------------------------------------------
# codebook persistence (index lifecycle: train once, query many)
# --------------------------------------------------------------------------

def save_codebook(spark, centroids: list, path: str) -> None:
    """Persist a trained coarse-quantizer codebook as parquet — the IVF
    index lifecycle's 'build once' half. A codebook is bounded (k×dim
    floats) so the single-file write is driver-cheap; queries then load it
    instead of re-running kmeans_fit over the corpus."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(rows, "cid int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def load_codebook(spark, path: str) -> list:
    """Load a persisted codebook back into the k×dim list form every
    IVF/assignment entry point takes."""
    rows = spark.read.parquet(path).orderBy("cid").collect()
    return [list(r.centroid) for r in rows]


def write_ivf_index(
    corpus: DataFrame,
    centroids: list,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF inverted lists as LABEL-PARTITIONED parquet —
    index-organized storage. Each vector lands under its nearest-centroid
    partition (``label=<cid>/``), so a probe of ``nprobe`` lists is a
    partition-pruned scan: Spark lists and reads ONLY the probed
    directories, and the other (k - nprobe)/k of the corpus costs nothing
    — the at-scale payoff of an ANN index expressed purely through the
    storage layout. One assignment pass (broadcast codebook, zero corpus
    shuffle beyond the partitioned write)."""
    assigned = _assign_nearest_literal(
        corpus,
        list(enumerate(centroids)),
        id_col=id_col,
        vec_col=vec_col,
        out_id=id_col,
        out_vec=vec_col,
    )
    assigned.write.mode("overwrite").partitionBy("label").parquet(path)


def ivf_index_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: list,
    *,
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Query a persisted label-partitioned IVF index: assign each query to
    its ``nprobe`` nearest centroids, read ONLY those partitions (the
    ``label`` filter is a partition filter — gated in tests), exact-cosine
    re-rank inside them."""
    cents = F.broadcast(
        spark.createDataFrame(
            [(cid, [float(x) for x in vec]) for cid, vec in enumerate(centroids)],
            "label int, _cvec array<double>",
        )
    )
    probes = _assign_to_centroids(
        queries, cents, id_col=query_id_col, vec_col=vec_col, nprobe=nprobe
    ).selectExpr(
        f"`{query_id_col}` AS q_id",
        f"`{vec_col}` AS _q_vec",
        f"{l2_norm_sql(f'`{vec_col}`')} AS _q_nrm",
        "label",
    )
    probe_labels = sorted(
        {r.label for r in probes.select("label").distinct().collect()}
    )
    lists = spark.read.parquet(index_path).filter(
        F.col("label").isin(probe_labels)
    )
    candidates = (
        # the corpus norm folds once per inverted-list row, pre-join
        lists.withColumnRenamed(vec_col, "_c_vec")
        .withColumn("_c_nrm", l2_norm("_c_vec"))
        .join(probes, "label")
        .filter(F.col("vec_id") != F.col("q_id"))
        .dropDuplicates(["q_id", "vec_id"])
        .withColumn(
            "_sim",
            cosine_from_norms("_c_vec", "_q_vec", "_c_nrm", "_q_nrm"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col("vec_id"))
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= k) & F.col("_sim").isNotNull())
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "rn",
            F.round("_sim", 4).alias("sim"),
        )
    )
