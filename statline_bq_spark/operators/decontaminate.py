"""Benchmark decontamination — n-gram overlap between a training corpus and
a (small) benchmark/eval set.

A training-data pipeline must guarantee the corpus does not contain eval
material (SURVEY §2.D training-pipeline extensions; the reference has no
analogue — its nearest concept is the table-name anti-filter,
``statline.py:418-427``).  The standard recipe (GPT-3 appendix C / Dolma):
mark a training document contaminated when it shares any word n-gram with
any benchmark document, then drop or flag it.

Scale design: the benchmark side is inherently SMALL (an eval suite:
thousands of documents → at most a few tens of MB of distinct grams), so the
gram join is a **broadcast semi/inner join — the 100-TB corpus side is
never shuffled**; each corpus partition streams its grams past the
broadcast hash set and the per-document counts fold map-side.  If the
blocklist ever outgrows broadcast range, swap the join key to
``xxhash64(gram)`` (8-byte shuffle keys, collisions 2⁻⁶⁴ — the same trade
``dedup.shingle_index`` makes).  Here grams join as raw strings so the
DuckDB oracle reproduces the semantics exactly.

Gram construction reuses the posexplode + per-doc window ``lead`` shape of
``dedup.shingle_index`` (measured ~5× faster than higher-order array
functions, which are interpreted per element).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from statline_bq_spark.functions.text import tokens


def doc_ngram_strings(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    distinct: bool = True,
) -> DataFrame:
    """Word n-grams of each document as strings: (_id, _g).

    ``distinct=True`` dedups grams within a document (set semantics, the
    contamination convention); ``False`` keeps multiplicity (used by the
    repetition score).  Everything — split, explode, window lead, concat —
    stays inside whole-stage codegen; the only shuffle is by document id
    and the window sort is bounded by one document's length.
    """
    # The gram window partitions by a per-ROW surrogate, not the id: a
    # duplicated doc_id (a re-crawled URL under a reused id) would
    # otherwise interleave BOTH texts' tokens in one window — same _pos
    # twice, tie order engine-arbitrary — fabricating grams that span two
    # crawls and diverge nondeterministically. The surrogate never leaves
    # this function; output grams stay keyed by the caller's id.
    # NOTE: the surrogate is projected in its own step BELOW the
    # generator — in the same select as posexplode it would evaluate
    # once per EXPLODED row (unique rid per token → every gram window
    # a singleton).
    base = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    ).withColumn("_rid", F.monotonically_increasing_id())
    toks = base.select(
        "_id",
        "_rid",
        F.posexplode(tokens("_text")).alias("_pos", "_tok"),
    )
    w = Window.partitionBy("_rid").orderBy("_pos")
    leads = [F.lead("_tok", j).over(w) for j in range(1, n)]
    # n=1 (unigram decontamination is a legitimate config): no lead
    # columns, the gram is the token; completeness degenerates to "token
    # non-empty" (empty text splits to a single '' token, which the n>=2
    # path also drops via its NULL last-lead).
    completeness = (
        leads[-1].isNotNull() if leads else F.col("_tok") != F.lit("")
    )
    grams = (
        toks.select(
            "_id",
            F.concat_ws(" ", "_tok", *leads).alias("_g"),
            completeness.alias("_ok"),
        )
        .filter(F.col("_ok"))
        .select("_id", "_g")
    )
    return grams.distinct() if distinct else grams


def contamination_counts(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Per-document contamination: (doc_id, n_shared, n_grams) for every
    corpus document sharing ≥1 distinct n-gram with the benchmark set.

    ``n_grams`` is the document's distinct-gram count (the denominator for
    a contamination ratio — emitted as exact ints so the result is
    bit-deterministic across engines).
    """
    corpus_grams = doc_ngram_strings(
        corpus, id_col=id_col, text_col=text_col, n=n
    )
    bench_grams = (
        doc_ngram_strings(benchmark, id_col=id_col, text_col=text_col, n=n)
        .select("_g")
        .distinct()
    )
    sizes = corpus_grams.groupBy("_id").agg(F.count(F.lit(1)).alias("n_grams"))
    shared = (
        corpus_grams.join(F.broadcast(bench_grams), "_g")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes, "_id")
        .select(
            F.col("_id").alias(id_col),
            "n_shared",
            "n_grams",
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Corpus rows that share NO word n-gram with the benchmark set.

    Plan shape: corpus grams ⟕(anti, broadcast)⟖ benchmark grams → distinct
    contaminated ids → LEFT ANTI join back to the corpus.  The contaminated
    id set is tiny (it's bounded by the benchmark's reach), so the final
    anti join broadcasts too — the full corpus is never shuffled.
    """
    corpus_grams = doc_ngram_strings(
        corpus, id_col=id_col, text_col=text_col, n=n
    )
    bench_grams = (
        doc_ngram_strings(benchmark, id_col=id_col, text_col=text_col, n=n)
        .select("_g")
        .distinct()
    )
    contaminated = (
        corpus_grams.join(F.broadcast(bench_grams), "_g")
        .select("_id")
        .distinct()
    )
    return corpus.join(
        F.broadcast(contaminated),
        corpus[id_col] == contaminated["_id"],
        "left_anti",
    )


def repetition_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): per document,
    total vs distinct word n-grams and their ratio.

    A document whose ``distinct_ratio`` is far below 1 repeats itself —
    boilerplate, keyword stuffing, generation loops.  The ratio is one
    double division of two exact ints, so it is bit-identical across
    engines (no rounding step to disagree on).
    """
    grams = doc_ngram_strings(
        df, id_col=id_col, text_col=text_col, n=n, distinct=False
    )
    return grams.groupBy(F.col("_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count_distinct("_g").alias("n_distinct"),
        (
            F.count_distinct("_g").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("distinct_ratio"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Embedding-based decontamination: drop corpus rows whose embedding is
    within cosine ``threshold`` of ANY benchmark embedding.

    The semantic complement of :func:`decontaminate` (n-gram overlap):
    paraphrased or lightly-edited eval material shares no exact grams but
    stays close in embedding space — modern pipelines run both filters.

    Scale shape is :func:`~statline_bq_spark.operators.similarity.ann_cosine_topk`'s:
    the benchmark side is inherently small (an eval suite), so it
    BROADCASTS and the corpus streams past it once — no corpus shuffle,
    no pair materialization; the per-row max-similarity folds map-side
    inside the (left-anti) broadcast join condition. The similarity is
    rounded to 4 dp before thresholding (the repo-wide cross-engine
    convention — raw float comparison at the boundary is the one place
    two engines can disagree). Exact semantics ⇒
    fully oracle-checkable (DuckDB NOT EXISTS over the same inputs). If
    the benchmark outgrows broadcast range, swap in the blocked grid of
    ``cosine_pairs_blocked`` with benchmark-side blocks.
    """
    from statline_bq_spark.functions.vectors import (
        cosine_from_norms_sql,
        l2_norm_sql,
    )

    def _usable(c: str) -> str:
        # NULL, zero-norm (cosine NULL via try_divide) and NaN/Inf-
        # poisoned vectors are un-scorable. The explicit non-finite guard
        # matters because a NaN cosine is NOT NULL: Spark evaluates
        # NaN >= threshold as TRUE (NaN sorts greatest), which would
        # silently DROP every encoder-failed corpus row as 'contaminated'
        # — un-scorable rows must SURVIVE (contamination unproven).
        # (SQL-text form, round 12: identical IsNotNull/Not(Exists) tree,
        # one py4j round trip; CAST('Infinity' AS DOUBLE) folds to the
        # Infinity literal.)
        return (
            f"(`{c}` IS NOT NULL) AND (NOT exists(`{c}`,"
            " x -> (isnull(x) OR isnan(x))"
            " OR abs(x) = CAST('Infinity' AS DOUBLE)))"
        )

    b = F.broadcast(
        benchmark.filter(_usable(vec_col)).selectExpr(
            f"`{vec_col}` AS _b_vec",
            f"{l2_norm_sql(f'`{vec_col}`')} AS _b_nrm",
        )
    )
    # The corpus-side guard AND norm are PROJECTED once per row before
    # the join, not written inline in the join condition: Catalyst cannot
    # hoist a left-side-only conjunct out of a left-anti condition (that
    # would change semantics), so an EXISTS — or a norm fold — in the
    # condition re-runs once per broadcast benchmark row, B× the work on
    # the hottest embedding path. The boolean is semantically identical
    # inside the condition: un-scorable rows (false) fail it for every
    # pair and SURVIVE; cosine_from_norms is the same try_divide
    # expression with the side norms precomputed, so the rounded
    # similarity is bit-identical.
    guarded = corpus.selectExpr(
        "*",
        f"({_usable(vec_col)}) AS _usable_vec",
        f"{l2_norm_sql(f'`{vec_col}`')} AS _c_nrm",
    )
    return (
        guarded.join(
            b,
            F.col("_usable_vec")
            & (
                F.round(
                    F.expr(
                        cosine_from_norms_sql(
                            f"`{vec_col}`", "_b_vec", "_c_nrm", "_b_nrm"
                        )
                    ),
                    4,
                )
                >= threshold
            ),
            "leftanti",
        )
        .drop("_usable_vec")
        .drop("_c_nrm")
    )
