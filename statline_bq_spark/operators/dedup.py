"""Deduplication operators for the LLM-data-pipeline surface (north star,
BASELINE.json): exact, MinHash-LSH, SimHash, n-gram Jaccard.

All hot-path math uses built-in JVM expressions (xxhash64, higher-order
array functions) — no Python UDFs — so the per-row work stays inside
whole-stage codegen and the only shuffles are the ones the algorithms
require (one groupBy for exact dedup; one band-bucket join for LSH).

Scale design (100 TB):
- Exact dedup shuffles on a 128-bit content hash, never on the text itself.
- MinHash-LSH is the classic shingle → K minhashes → B bands → bucket join.
  Bucket skew (boilerplate/spam clusters) is capped via ``max_bucket_size``
  so one degenerate bucket can't quadratic-blow a partition; AQE skew-join
  handles the rest.
- SimHash emits one 64-bit fingerprint per doc; near-dup candidates are
  fingerprints equal on rotated prefix blocks (not implemented here —
  fingerprint generation is the per-row primitive).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from statline_bq_spark.functions.text import tokens, tokens_sql
from statline_bq_spark.sqltext import sql_double

#: Document-frequency cap of the capped-gram Jaccard universe. One
#: constant on purpose: :func:`ngram_jaccard_pairs` (the exact truth),
#: :func:`informative_doc_ids` (the comparable universe), and every
#: DuckDB oracle mirroring them (``workload.py`` interpolates this into
#: the SQL) must cap at the SAME value or the precision/recall quality
#: contracts silently compare different universes.
DEFAULT_DF_CAP = 128


# --------------------------------------------------------------------------
# shingling helpers (shared by minhash / jaccard)
# --------------------------------------------------------------------------

def shingle_index(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exploded inverted index of distinct token n-grams: (_id, _g:bigint).

    posexplode the tokens, then hash each gram as ``xxhash64(tok, lead(tok,1),
    …)`` over a per-document window — every step (regex split, explode,
    window lead, hash, hash-agg distinct) stays inside whole-stage codegen.
    This beats the array-of-shingles formulation by ~5× because higher-order
    array functions (transform/slice/concat_ws) are interpreted per element.

    Scale: the ONLY shuffle is by document id (the lead window's), and
    per-document state is bounded by document length, so the window sort
    never spills beyond one doc. Per-doc dedup is a ``collect_set``
    groupBy(_id) that rides the window's existing _id partitioning — a
    local aggregate, where ``.distinct()`` re-shuffled the whole (doc,
    gram) index on the composite key. The explode back out is narrow, so
    the index STAYS partitioned by _id: every downstream per-doc
    aggregate (minhash signatures, gram arrays, set sizes) is local too.
    Gram identity is a 64-bit hash (collisions ~2⁻⁶⁴), so downstream set
    math shuffles 8-byte keys.
    """
    return _shingle_sets(df, id_col=id_col, text_col=text_col, n=n).select(
        "_id", F.explode("_gs").alias("_g")
    )


def _shingle_sets(
    df: DataFrame, *, id_col: str, text_col: str, n: int
) -> DataFrame:
    # Per-document distinct gram-hash sets (_id, _gs: array<bigint>): the
    # pre-explode form of shingle_index, which the exact-Jaccard verifies
    # read directly (round 11: the explode → collect_list round trip was
    # pure rework). The design rationale lives in shingle_index's docstring.
    # Duplicate-id safety WITHOUT a second exchange (round 8; the round-7
    # per-ROW-surrogate window partitioned by _rid, which cost an extra
    # full shuffle of the gram index because groupBy(_id) no longer rode
    # the window's partitioning — measured +0.3s / +1.3 MB on
    # ngram_jaccard_pairs alone, ×2 because the df-cap side recomputes the
    # index): partition by _id as before, ORDER by (_rid, _pos) so a
    # duplicated doc_id's rows are contiguous instead of interleaved, and
    # drop any gram whose last token fell in a DIFFERENT source row
    # (lead(_rid, n-1) != _rid — also subsumes the old NULL-last-lead
    # completeness check at partition end). _rid is projected BELOW the
    # generator — in the same select as posexplode it would evaluate once
    # per exploded token.
    #
    # Expression-batched construction (round 12, guide §1/§7.1 driver
    # floor): each F.* Column call is a py4j round trip (~0.5 ms), and
    # this subtree is rebuilt by every dedup query — SQL strings via
    # selectExpr build an equivalent expression tree in one round trip
    # per projection. Literal typing checked: SQL integer literals are
    # IntegerType exactly like F.lit(int), '' is StringType, and the
    # window-spec text resolves to the same WindowSpecDefinition, so
    # plans are semantically identical (output-snapshot-verified).
    toks = (
        df.selectExpr(f"`{id_col}` AS _id", f"`{text_col}` AS _t")
        .selectExpr("_id", "_t", "monotonically_increasing_id() AS _rid")
        .selectExpr(
            "_id",
            "_rid",
            f"posexplode({tokens_sql('_t')}) AS (_pos, _tok)",
        )
    )
    over = "OVER (PARTITION BY _id ORDER BY _rid, _pos)"
    gram_args = ", ".join(
        ["_tok"] + [f"lead(_tok, {j}) {over}" for j in range(1, n)]
    )
    # n=1 (unigrams) has no lead columns: the gram is the token itself and
    # the completeness filter degenerates to "token non-empty" (split of
    # empty/whitespace text yields a single '' token, which the n>=2 path
    # also drops via its cross-row/NULL last-_rid guard).
    completeness = (
        f"(lead(_rid, {n - 1}) {over} = _rid)" if n > 1 else "(_tok != '')"
    )
    grams = toks.selectExpr(
        "_id",
        f"xxhash64({gram_args}) AS _g",
        f"{completeness} AS _ok",
    ).filter(F.col("_ok"))
    return grams.groupBy("_id").agg(F.collect_set("_g").alias("_gs"))


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup by content hash: keep min(id) per identical text.

    Groups on ``md5(text)`` so the shuffle key is a fixed-width hash, not
    arbitrary-length text. Output: (<id_col>, n_copies) — one row per
    distinct content, with the surviving (minimum) id.

    NULL text is NOT comparable content: ``md5(NULL)`` is NULL, and a
    plain md5 group key would collapse every NULL-text document (failed
    fetches) into one bogus "duplicate" group, silently discarding all
    but one. The key falls back to a per-document sentinel
    (``_null:<id>`` — can't collide with 32-hex-char md5 output), so each
    NULL-text document survives as its own group with n_copies per its
    own multiplicity.
    """
    return (
        df.groupBy(
            F.coalesce(
                F.md5(F.col(text_col)),
                F.concat(
                    F.lit("_null:"), F.col(id_col).cast("string")
                ),
            ).alias("content_hash")
        )
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding, verified with the
    exact shingle-set Jaccard.

    Pipeline: shingle → signature → split into ``bands`` bands → hash each
    band → explode to (band_id, band_hash) → self-join on the bucket →
    distinct candidate pairs → exact-Jaccard verify ≥ threshold.

    Output: (a, b, jaccard) with a < b. Signatures are computed as
    ``num_perm`` parallel ``min(xxhash64(seed_i, gram))`` hash-aggregates
    over the exploded shingle index — the classic distributed minhash: pure
    codegen'd hash-agg with map-side partial mins, no array columns, no
    interpreted higher-order functions. Verification joins the candidate
    pairs back against the (doc, gram) index to count common shingles, so
    only candidate documents are ever re-touched — at 100 TB the verify
    cost is proportional to candidates, not corpus.
    """
    # rendered first: a non-finite threshold fails before any job runs
    thr = sql_double(jaccard_threshold)
    r = num_perm // bands
    docsets = None
    if shingles is not None:
        inv = shingles
    else:
        # build the pre-explode doc-set form once: the signature side
        # explodes it, the verify side below uses the arrays DIRECTLY —
        # re-aggregating the exploded index back into per-doc arrays
        # (the pre-round-11 shape) was pure rework on the same
        # partitioning.
        #
        # localCheckpoint (round 11): the query references the
        # shingle-set subtree three times (signature agg, verify side a,
        # verify side b) and Spark does NOT reuse the exchange across the
        # branches (the deduplicated join sides prune differently, so the
        # canonicalized subtrees differ) — each reference re-ran the full
        # scan → tokenize-explode → window-sort → collect_set pipeline,
        # the single most CPU-dense subtree in the query. The checkpoint
        # materializes it ONCE (8-byte gram hashes, never text).
        # eager=False defers block materialization, though under AQE the
        # upstream exchange stages still execute when the DataFrame is
        # BUILT (AdaptiveSparkPlanExec materializes stages in toRdd) —
        # inside bench's timed region, which wraps construction+action.
        # Measured 3.01s → 2.10s min-of-4 at sf0.1, identical output.
        # Trade at scale: checkpoint blocks are not lineage-recoverable
        # (executor loss fails the job instead of recomputing), the
        # standard Spark trade for cutting repeated subtree work.
        docsets = _shingle_sets(
            df, id_col=id_col, text_col=text_col, n=shingle_n
        ).localCheckpoint(eager=False)
        inv = docsets.select("_id", F.explode("_gs").alias("_g"))
    # _sz (per-doc gram-set size) rides the same hash aggregate as the
    # minhashes — one extra count column, no extra pass — to power the
    # size-ratio candidate prefilter below (round 11).
    # Expression-batched (round 12): one F.expr per aggregate instead of
    # min(xxhash64(lit, col)).alias() chains — 4 py4j round trips → 1 per
    # permutation; SQL integer literals are IntegerType exactly like
    # F.lit(int), so the xxhash64 seeds hash identically.
    sig = inv.groupBy("_id").agg(
        F.expr("count(1) AS _sz"),
        *[
            F.expr(f"min(xxhash64({i}, _g)) AS _h{i}")
            for i in range(num_perm)
        ],
    )

    # One parsed expression for the whole band array (was ~8 py4j calls
    # per band): struct literals/fields and xxhash64 arg lists are
    # type-identical to the Column form.
    band_parts = ", ".join(
        "struct({b} AS band_id, xxhash64({hs}) AS band_hash)".format(
            b=b, hs=", ".join(f"_h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    buckets = sig.selectExpr(
        "_id", "_sz", f"explode(array({band_parts})) AS band"
    ).select("_id", "_sz", "band.band_id", "band.band_hash")

    # Cap degenerate buckets (boilerplate clusters) to keep the self-join
    # from going quadratic on one key; AQE skew-join splits the rest.
    # The cap names the HEAVY buckets (> max_bucket_size members) and
    # broadcast-anti-joins them away: the heavy set is small by
    # construction (heavy hitters over a frequency floor), the groupBy
    # ships map-side-combined partials, and the anti-join is map-side —
    # so the bucket stream never shuffles for the cap. The signature
    # aggregate feeds two consumers (the heavy census prunes _sz away, so
    # the canonicalized subtrees differ and NO ReusedExchange fires — the
    # 32-min aggregate genuinely runs twice, see
    # plans/r11/minhash_pairs_raw_after.txt). Measured round 11: a lazy
    # localCheckpoint of `sig` to kill the duplicate was collect-identical
    # but slightly SLOWER (min-of-5 noop 1.76 -> 1.83 s at sf0.1) — the
    # duplicated agg reads the already-checkpointed shingle blocks and is
    # cheaper than the extra materialization barrier, so it stays; an
    # eager localCheckpoint measured ~60% slower cold.
    heavy = (
        buckets.groupBy("band_id", "band_hash")
        .agg(F.expr("count(1) AS _n"))
        .filter(F.col("_n") > max_bucket_size)
        .select("band_id", "band_hash")
    )
    buckets = buckets.join(
        F.broadcast(heavy), ["band_id", "band_hash"], "left_anti"
    )

    # Candidate pairs from per-bucket member ARRAYS, not a bucket
    # self-join: one groupBy collects the (≤ max_bucket_size, enforced by
    # the anti-join above) members per bucket and two chained generators
    # enumerate the ordered pairs in place — same cardinality the
    # self-join would materialize, minus the second shuffle read and the
    # two sort passes of the sort-merge formulation (same reshape as
    # ``ngram_jaccard_pairs``). posexplode + explode(slice) instead of a
    # nested interpreted transform (round 11): the lambda form built one
    # flattened pair-struct array per bucket through interpreted
    # per-element evaluation; the generator form runs in codegen and
    # allocates one slice per anchor member instead of per pair
    # (measured ~16% off the ngram twin, identical pairs). distinct()
    # then dedups pairs that collide in several bands.
    members = (
        buckets.groupBy("band_id", "band_hash")
        .agg(
            F.array_sort(F.collect_list(F.struct("_id", "_sz"))).alias("_ids")
        )
        .filter(F.size("_ids") >= 2)
    )
    # Size-ratio prefilter on the enumerated candidates (round 11):
    # jaccard ≤ min(|A|,|B|)/max(|A|,|B|) and the verify's final filter is
    # round(jaccard,4) ≥ threshold, so (monotone round) dropping pairs
    # whose rounded ratio bound misses the threshold loses nothing. The
    # two set sizes are already on the bucket row; the filter runs in the
    # same codegen stage as the generators, BEFORE the distinct()'s
    # exchange and the two corpus-sized verify joins — fewer candidate
    # rows shuffled and merge-joined (guide §2.3/§3).
    # Expression-batched enumeration (round 12): selectExpr strings build
    # the identical generator/prefilter tree in one round trip per
    # projection. least/greatest over two count(1) bigints divide to
    # DOUBLE under Spark's fractional `/` exactly like the explicit
    # .cast("double") pair did; the threshold keeps its D suffix so the
    # literal stays DoubleType like F.lit(float).
    candidates = (
        members.selectExpr("_ids", "posexplode(_ids) AS (_i, _x)")
        .selectExpr(
            "_x._id AS a",
            "_x._sz AS _sa",
            "explode(slice(_ids, _i + 2, size(_ids))) AS _y",
        )
        .selectExpr("a", "_y._id AS b", "_sa", "_y._sz AS _sb")
        .filter(
            "round(least(_sa, _sb) / greatest(_sa, _sb), 4)"
            f" >= {thr}"
        )
        .select("a", "b")
        .distinct()
    )

    # Exact-Jaccard verify restricted to candidates, against PER-DOC gram
    # ARRAYS (one row per doc, bounded by document length) rather than the
    # exploded index (one row per gram): two doc-level joins bring each
    # side's gram array to the pair, and the intersection size (hash-set
    # based, O(|A|+|B|) per candidate) finishes the query with no
    # aggregate and no further join.
    # The array relation groups on the same exchange the signature
    # groupBy(_id) created (ReusedExchange), and the joins carry merge
    # hints: the gram-array relation is corpus-sized, and letting a
    # borderline size estimate tempt the planner into driver-broadcasting
    # it is a scale hazard (and a measured source of 20x run-to-run
    # variance mid-size); SMJ is what a real cluster picks at scale.
    docgrams = (
        docsets.select("_id", F.col("_gs").alias("_grams"))
        if docsets is not None
        else inv.groupBy("_id").agg(F.collect_list("_g").alias("_grams"))
    )
    ga = docgrams.selectExpr("_id AS a", "_grams AS _ga").hint("merge")
    gb = docgrams.selectExpr("_id AS b", "_grams AS _gb").hint("merge")
    # common appears twice in the SQL text exactly as the shared Column
    # subtree did — identical expression tree, codegen subexpression
    # elimination still fires; int sizes divide to double implicitly like
    # the explicit casts (round 12 expression batching).
    common = "size(array_intersect(_ga, _gb))"
    return (
        candidates.join(ga, "a")
        .join(gb, "b")
        .selectExpr(
            "a",
            "b",
            f"round({common} / (size(_ga) + size(_gb) - {common}), 4)"
            " AS jaccard",
        )
        .filter(f"jaccard >= {thr}")
        .select("a", "b", "jaccard")
    )


def informative_doc_ids(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    df_cap: int = DEFAULT_DF_CAP,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Doc ids carrying at least one INFORMATIVE gram (document frequency
    ≤ ``df_cap``) — the universe over which capped-gram Jaccard
    (:func:`ngram_jaccard_pairs`) is defined. A doc whose every gram is
    boilerplate (df > cap) has an EMPTY capped gram set: exact capped
    Jaccard can neither confirm nor deny its pairs, so quality contracts
    that compare a discovery method (MinHash, SimHash) against the capped
    truth must restrict both sides to this universe. Found by the round-8
    content-skew probe: 50% of a corpus sharing one text makes MinHash
    (correctly) emit ~n²/8 identical-doc pairs that the capped truth
    (correctly) refuses to score — a precision contract comparing the two
    raw sets is comparing different universes. Output: one column named
    ``id_col``. Pass ``shingles`` (a prebuilt :func:`shingle_index` of
    the SAME df/columns/n) to share the index subtree with sibling
    consumers — see :func:`ngram_jaccard_pairs` on why sharing the
    OBJECT matters."""
    inv = (
        shingles
        if shingles is not None
        else shingle_index(df, id_col=id_col, text_col=text_col, n=shingle_n)
    )
    heavy = (
        inv.groupBy("_g")
        .agg(F.expr("count(1) AS _df"))
        .filter(F.col("_df") > df_cap)
        .select("_g")
    )
    return (
        inv.join(F.broadcast(heavy), "_g", "left_anti")
        .select(F.col("_id").alias(id_col))
        .distinct()
    )


# --------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index join baseline)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.2,
    df_cap: int = DEFAULT_DF_CAP,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over token n-gram sets for every pair sharing ≥1 shingle.

    The inverted-index join (explode shingles → self-join on shingle →
    count common per pair) is the exact baseline MinHash approximates; its
    cost is Σ bucket² over shingle buckets, so it's the *verification*
    strategy, not the discovery strategy, at 100 TB.

    ``df_cap`` bounds that Σ bucket² blowup: shingles appearing in more
    than ``df_cap`` documents are dropped from the gram universe (both the
    common counts AND the per-doc set sizes — Jaccard over *informative*
    grams) before the self-join. A boilerplate trigram shared by 1M docs
    would otherwise emit 10¹² join rows from a single key; dropping it
    loses no discriminative signal (it has none — its presence says
    nothing about any specific pair), mirroring ``minhash_lsh_pairs``'
    ``max_bucket_size``. The cap is far above natural-corpus gram
    frequencies at test scale (max df 25 at sf0.1), so results are
    unchanged there; the DuckDB oracles mirror the cap so semantics agree
    at every scale.

    Output: (a, b, jaccard) with a < b, jaccard ≥ threshold, rounded to 4.

    Shingles are 64-bit hashes (``shingle_index``) so the exploded inverted
    index shuffles 8-byte keys and the per-pair common counts come from
    long equality — identical Jaccard values modulo a ~2⁻⁶⁴ collision
    probability.

    ``shingles``: a prebuilt :func:`shingle_index` DataFrame (same
    df/columns/n) to use instead of building one — the composition
    handle for pipelines that index once and feed several consumers
    (e.g. a CHECKPOINTED index driving both LSH discovery and exact
    verification without re-reading the corpus). Measured at sf0.1
    (round 9): merely sharing the un-materialized object does NOT
    dedupe work (each consumer compiles its own stages; 53.7 MB shuffle
    either way), and ``.persist()`` of the exploded index is a net LOSS
    (71 MB — materialization defeats the map-side partial aggregates),
    so recomputing per consumer is the right default and callers should
    reach for this parameter only with a checkpointed/persisted index
    whose scan they've already paid.
    """
    # rendered first: a non-finite threshold fails before any job runs
    thr = sql_double(threshold)
    if shingles is not None:
        inv = shingles
    else:
        # LAZY localCheckpoint of the compact per-doc gram-set form
        # (round 11): the index feeds two consumers (the heavy-gram
        # census and the capped index) and Spark does not reuse the
        # exchange across the branches, so each re-ran the full scan →
        # tokenize → window-sort → collect_set pipeline. Materialize the
        # doc-set arrays once (8-byte hashes, never text) and explode
        # per consumer — the explode is narrow. Same rationale and
        # measured shape as minhash_lsh_pairs; identical output.
        inv = (
            _shingle_sets(df, id_col=id_col, text_col=text_col, n=shingle_n)
            .localCheckpoint(eager=False)
            .select("_id", F.explode("_gs").alias("_g"))
        )
    # The df cap names the HEAVY grams (df > cap) and broadcast-anti-joins
    # them away. The heavy set is small by construction — heavy hitters
    # above a frequency floor — so the broadcast always fits, and the
    # inverted index itself never shuffles for the cap: the groupBy ships
    # only map-side-combined (gram, count) partials, and the anti-join is
    # map-side. (A window count over _g would instead shuffle AND sort the
    # whole index; measured 5× slower at sf0.1.) The pass also guarantees
    # the per-gram doc lists below are ≤ df_cap elements — collect_list
    # memory stays bounded no matter how pathological the corpus.
    heavy = (
        inv.groupBy("_g")
        .agg(F.expr("count(1) AS _df"))
        .filter(F.col("_df") > df_cap)
        .select("_g")
    )
    capped = inv.join(F.broadcast(heavy), "_g", "left_anti")
    # Per-doc CAPPED set sizes ride the _id partitioning the shingle
    # window already established (the anti-join is narrow): a LOCAL
    # re-collect per doc — no exchange, no sort — where a separate sizes
    # aggregate + two sort-merge joins against the pair counts (the
    # round-3 shape) sorted the full candidate-pair relation twice. At
    # 100 TB the candidate pairs are the largest relation in the query;
    # never shuffling them again after enumeration is the point.
    withsz = (
        capped.groupBy("_id")
        .agg(F.collect_list("_g").alias("_cg"))
        .selectExpr("_id", "size(_cg) AS _sz", "explode(_cg) AS _g")
    )
    # Candidate pairs from per-gram doc ARRAYS, not an index self-join:
    # one groupBy(_g) collects the (≤ df_cap) (doc, set-size) structs
    # sharing each gram, and two chained generators enumerate the ordered
    # pairs in-place. The self-join formulation shuffled the full capped
    # index TWICE (both join sides) plus a sort; this shuffles it once
    # and emits exactly the Σ k(k-1)/2 candidate pairs from the explode.
    # array_sort on struct<_id,_sz> orders by _id first, so a < b holds.
    # posexplode + explode(slice) instead of a nested interpreted
    # transform (round 11): the lambda form built one flattened
    # pair-struct array per gram through interpreted per-element
    # evaluation and allocated one slice per PAIR; the generator form
    # runs in codegen and slices once per anchor member — measured
    # 2.5s → 2.1s end-to-end at sf0.1 over 1.27M candidate pairs,
    # identical output.
    grouped = (
        withsz.groupBy("_g")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_id", "_sz"))
            ).alias("_ids")
        )
        .filter(F.size("_ids") >= 2)
    )
    anchored = grouped.selectExpr("_ids", "posexplode(_ids) AS (_i, _x)")
    pairs = anchored.selectExpr(
        "_x._id AS a",
        "_x._sz AS _sa",
        "explode(slice(_ids, _i + 2, size(_ids))) AS _y",
    )
    # Size-ratio prefilter BEFORE the (a, b) aggregate's exchange
    # (round 11): jaccard(A,B) = |A∩B| / |A∪B| ≤ min(|A|,|B|) /
    # max(|A|,|B|), and round() is monotone, so any pair whose rounded
    # upper bound is under the threshold can be dropped with zero false
    # negatives — before its duplicate gram hits count even enter the
    # pair shuffle. Pure codegen'd comparison on two ints already on the
    # row; cuts shuffled pair rows wherever the corpus mixes document
    # lengths (guide §2.3: shuffle fewer bytes).
    # selectExpr/SQL-string form (round 12): int sizes divide to double
    # implicitly exactly like the explicit casts; threshold keeps the D
    # suffix so the literal stays DoubleType like F.lit(float).
    pairs = pairs.selectExpr(
        "a", "_y._id AS b", "_sa", "_y._sz AS _sb"
    ).filter(
        "round(least(_sa, _sb) / greatest(_sa, _sb), 4)"
        f" >= {thr}"
    )
    # Sizes arrived with the pair, so one hash aggregate finishes the
    # query: group on (a, b) — _sa/_sb are functionally dependent, kept
    # as grouping cols to stay in the same codegen'd agg — count common
    # grams, compute Jaccard inline, filter. No join after enumeration.
    return (
        pairs
        .groupBy("a", "b", "_sa", "_sb")
        .agg(F.expr("count(1) AS common"))
        .selectExpr(
            "a",
            "b",
            "_sa",
            "_sb",
            "round(common / (_sa + _sb - common), 4) AS jaccard",
        )
        .filter(f"jaccard >= {thr}")
        .select("a", "b", "jaccard")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash64_sql(text_col: str) -> str:
    """64-bit SimHash fingerprint of whitespace tokens, as bigint.

    Classic construction: per token take xxhash64, add +1/-1 per bit into 64
    counters, emit bit i = 1 iff counter_i > 0 (ties → 0: the vote rule of
    :func:`simhash_fingerprints`). Entirely built-in higher-order
    expressions: fold the token hashes into an array<int> of counters, then
    fold the counters into one bigint; ``shiftleft(1L, 63)`` is the sign
    bit."""
    return (
        "aggregate(transform(aggregate("
        f"transform({tokens_sql(text_col)}, t -> xxhash64(t)),"
        " array_repeat(0, 64),"
        " (acc, h) -> transform(acc, (cnt, i) ->"
        " cnt + CASE WHEN shiftright(h, i) & 1L = 1L THEN 1 ELSE -1 END)),"
        " (cnt, i) -> CASE WHEN cnt > 0 THEN shiftleft(1L, i) ELSE 0L END),"
        " 0L, (acc, x) -> acc | x)"
    )


def simhash64(text_col: str) -> Column:
    return F.expr(simhash64_sql(text_col))


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(<id_col>, simhash) — the per-row primitive for hamming-distance
    near-dup clustering.

    Computed on the exploded token stream as LANE-PACKED bit-count
    hash-aggregates: ``(h >>> j) & 0x0000000100000001`` puts bits j and
    j+32 of each token hash into two 32-bit lanes of one bigint, so 32
    packed sums (one shift + one AND per row each) replace the naive 64
    ``sum(CASE ±1)`` aggregates — half the aggregation state, a quarter
    of the per-row expression work, measured 2.1s → 0.9s at sf0.1. The
    vote rule is unchanged exactly: bit i is set iff more tokens have it
    than not, i.e. ``2·cnt_i > n_tokens`` ⟺ ``Σ±1 > 0`` (ties → 0, as
    before). Lanes hold per-doc token counts, so overflow needs a 2³²-
    token document — not a real corpus. Same rationale as
    ``shingle_index``: codegen'd hash-agg with map-side partials instead
    of interpreted per-element array folds (``simhash64`` remains as the
    column-level form).
    """
    # NULL-id rows are excluded (round 8, NULL-PK dirty class): the
    # fingerprint is cited BY id downstream (join-backs, pair outputs) —
    # an id-less fingerprint is undereferenceable, and a NULL group key
    # here would merge all id-less docs' tokens into one phantom vote.
    #
    # Expression-batched (round 12): the 32 lane sums built ~160 py4j
    # round trips as Columns; one parsed array(...) aggregate builds the
    # identical tree in one. 4294967297L == F.lit(0x0000000100000001)
    # .cast("bigint") (both LongType), & is bitwiseAND.
    toks = (
        df.filter(F.col(id_col).isNotNull())
        .selectExpr(
            f"`{id_col}`",
            f"explode({tokens_sql(f'`{text_col}`')}) AS _tok",
        )
        .selectExpr(f"`{id_col}`", "xxhash64(_tok) AS _h")
    )
    lane_sums = ", ".join(
        f"sum(shiftrightunsigned(_h, {j}) & 4294967297L)" for j in range(32)
    )
    votes = toks.groupBy(id_col).agg(
        F.expr("count(1) AS _n"),
        F.expr(f"array({lane_sums}) AS _s"),
    )
    # Unpack the lanes and fold the 64 vote bits into one bigint with
    # higher-order functions over the 32-element sum array: a handful of
    # expression nodes where the unrolled 64-term when/OR chain cost ~1.2s
    # of Catalyst optimization per plan build (driver-side, but real in
    # every bench/interactive run). The interpreted lambda runs once per
    # DOC (post-aggregation), not per token — the volume path above stays
    # whole-stage-codegen'd.
    # One parsed expression for the whole unpack-and-fold (round 12):
    # SQL lambda syntax builds the identical higher-order tree the py4j
    # lambda-builder assembled one node at a time. 4294967295L ==
    # F.lit(0xFFFFFFFF).cast("bigint"); CASE WHEN == F.when/otherwise;
    # the two-arg transform lambda is (element, index) in both forms.
    fp = (
        "aggregate("
        "  transform(_s, (s, i) ->"
        "    (CASE WHEN (s & 4294967295L) * 2 > _n"
        "          THEN shiftleft(1L, i) ELSE 0L END)"
        "    | (CASE WHEN shiftrightunsigned(s, 32) * 2 > _n"
        "            THEN shiftleft(1L, i + 32) ELSE 0L END)),"
        "  0L, (acc, x) -> acc | x)"
    )
    return votes.selectExpr(f"`{id_col}`", f"{fp} AS simhash")


def simhash_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: Hamming(fp_a, fp_b) <= max_hamming.

    Candidate generation is the standard block-permutation scheme: split
    the 64-bit fingerprint into ``blocks`` equal bit-blocks and bucket-join
    on (block_id, block_value) — by pigeonhole, any pair within
    ``max_hamming`` < ``blocks`` bit flips agrees on at least one block, so
    recall is exact. Verification is ``bit_count(a XOR b)``, a single JVM
    intrinsic per candidate.

    Output: (a, b, hamming) with a < b. One shuffle for the bucket join;
    degenerate buckets (all-identical boilerplate) are capped like in
    ``minhash_lsh_pairs``.
    """
    assert max_hamming < blocks, "pigeonhole guarantee needs max_hamming < blocks"
    width = 64 // blocks
    # LAZY localCheckpoint (round 11): the fingerprint relation is tiny
    # (one (id, bigint) row per doc) but its producer — tokenize-explode
    # + 32 lane-packed bit-count aggregates — is the query's most
    # CPU-dense subtree, and it feeds two consumers (heavy-bucket census
    # and the member collect) that do not share an exchange. Materialize
    # the fingerprints once; same pattern as minhash/ngram.
    fps = simhash_fingerprints(
        df, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=False)
    # One parsed expression for the block array (round 12, same batching
    # as minhash's band structs): SQL int literals match F.lit(int) and
    # {mask}L matches .cast("bigint") exactly.
    mask = (1 << width) - 1
    block_parts = ", ".join(
        f"struct({b} AS block_id,"
        f" shiftrightunsigned(simhash, {b * width}) & {mask}L AS block_val)"
        for b in range(blocks)
    )
    buckets = fps.selectExpr(
        f"`{id_col}` AS _id",
        "simhash",
        f"explode(array({block_parts})) AS blk",
    ).select("_id", "simhash", "blk.block_id", "blk.block_val")
    # Cap degenerate buckets by naming the HEAVY ones (> max_bucket_size
    # members, small by construction) and broadcast-anti-joining them away
    # — the bucket stream never shuffles for the cap, and the 64-way
    # fingerprint hash-agg's groupBy(id) exchange is identical in all
    # three consumers (heavy + both join sides) so Spark reuses one
    # shuffle (ReusedExchange). An eager localCheckpoint here measured
    # slower cold at sf0.1 and adds a materialization barrier.
    heavy = (
        buckets.groupBy("block_id", "block_val")
        .agg(F.expr("count(1) AS _n"))
        .filter(F.col("_n") > max_bucket_size)
        .select("block_id", "block_val")
    )
    buckets = buckets.join(
        F.broadcast(heavy), ["block_id", "block_val"], "left_anti"
    )

    # Candidate pairs from per-bucket member ARRAYS (same reshape as
    # ``minhash_lsh_pairs``/``ngram_jaccard_pairs``): one groupBy per
    # bucket collects struct<_id,simhash> members (bounded by the
    # max_bucket_size anti-join above), two chained generators enumerate
    # the ordered pairs with the Hamming distance computed inline
    # (posexplode + explode(slice) runs in codegen and slices once per
    # anchor member; the pre-round-11 nested interpreted transform built
    # a flattened pair-struct array per bucket and sliced once per
    # pair), and distinct() dedups pairs agreeing on several blocks —
    # no bucket self-join, no sort passes, the fingerprints travel with
    # the pair so verification needs no further join.
    members = (
        buckets.groupBy("block_id", "block_val")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_id", "simhash"))
            ).alias("_ms")
        )
        .filter(F.size("_ms") >= 2)
    )
    anchored = members.selectExpr("_ms", "posexplode(_ms) AS (_i, _x)")
    return (
        anchored.selectExpr(
            "_x",
            "explode(slice(_ms, _i + 2, size(_ms))) AS _y",
        )
        .selectExpr(
            "_x._id AS a",
            "_y._id AS b",
            "bit_count(_x.simhash ^ _y.simhash) AS hamming",
        )
        .filter(f"hamming <= {int(max_hamming)}")
        .distinct()
    )


def passage_dup_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """INTER-document repeated-passage fraction: the share of a document's
    distinct token n-grams that also appear in at least one other document.

    The cross-corpus complement of the Gopher-style intra-doc repetition
    ratio (``decontaminate.repetition_stats``): high ``shared_ratio`` flags
    boilerplate/templated/mirrored content that near-dup PAIR detection
    misses when the duplication is spread across many partners (a licence
    header shared by 10k docs never yields a high-Jaccard pair, but every
    one of its grams is shared). Used as a filter signal before training.

    Output: (<id_col>, n_grams, n_shared, shared_ratio) for every doc with
    at least one n-gram (docs shorter than ``n`` tokens emit nothing).

    Scale: one inverted index (shuffle on the doc id for gram construction,
    then 8-byte gram hashes everywhere), one gram document-frequency
    aggregate, one gram-keyed join back — the index's exchange by gram is
    identical for the aggregate and the join probe, so Spark reuses it
    (ReusedExchange); nothing ever shuffles text. (Round 11 measured the
    tempting alternative — n_shared = n_grams − #{df==1 grams owned},
    one gram-keyed aggregate, no join-back — 13% SLOWER at sf0.1 with
    identical output: the join-back's final groupBy(_id) already
    partially combines to doc-level rows map-side, so the "second
    full-index shuffle" it was meant to remove never existed, while the
    min(_id) owner aggregate widened the gram exchange's partial rows.)

    Round 11: the index feeds the gram-df census and the join probe, and
    the two branches do not share an exchange — a lazy localCheckpoint
    of the compact doc-set form materializes the tokenize/window
    pipeline once (same pattern as minhash/ngram).
    """
    inv = (
        _shingle_sets(df, id_col=id_col, text_col=text_col, n=n)
        .localCheckpoint(eager=False)
        .select("_id", F.explode("_gs").alias("_g"))
    )
    # merge hint: gram_df is corpus-sized (one row per distinct gram) — a
    # borderline size estimate must not tempt the planner into
    # driver-broadcasting it (same hazard as the minhash verify joins).
    gram_df = (
        inv.groupBy("_g").agg(F.expr("count(1) AS _df")).hint("merge")
    )
    flagged = inv.join(gram_df, "_g").selectExpr(
        "_id", "CAST(_df >= 2 AS int) AS _s"
    )
    return (
        flagged.groupBy("_id")
        .agg(
            F.expr("count(1) AS n_grams"),
            F.expr("CAST(sum(_s) AS bigint) AS n_shared"),
        )
        .selectExpr(
            f"_id AS `{id_col}`",
            "n_grams",
            "n_shared",
            "CAST(n_shared AS double) / CAST(n_grams AS double)"
            " AS shared_ratio",
        )
    )


# --------------------------------------------------------------------------
# winnowing (rolling-hash document fingerprints)
# --------------------------------------------------------------------------

def winnowing_fingerprints(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    k-gram, slide a window of ``window`` consecutive k-gram hashes, keep
    each window's minimum — guaranteeing any match of length ≥ k+window-1
    shares a selected fingerprint, with ~2/(window+1) selection density.

    Output: (<id_col>, fingerprint) distinct — the per-doc fingerprint set
    for plagiarism/overlap detection; join two corpora on `fingerprint` to
    find shared passages.

    Same execution shape as ``shingle_index`` (posexplode + per-doc window
    functions, all codegen): the k-gram rolling hash is the window-lead
    xxhash64, and the winnowing min is a ROWS-frame min over the hash
    sequence. Shuffles once on the doc id.
    """
    # per-ROW surrogate windows, as in shingle_index: duplicate ids must
    # not interleave two texts' rolling-hash streams
    toks = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        .withColumn("_rid", F.monotonically_increasing_id())
        .select(
            "_id",
            "_rid",
            F.posexplode(tokens("_t")).alias("_pos", "_tok"),
        )
    )
    w = Window.partitionBy("_rid").orderBy("_pos")
    leads = [F.lead("_tok", j).over(w) for j in range(1, k)]
    # k=1: the k-gram is the bare token (no leads); completeness becomes
    # "token non-empty" — see shingle_index for the same degenerate case.
    completeness = (
        leads[-1].isNotNull() if leads else F.col("_tok") != F.lit("")
    )
    grams = toks.select(
        "_id",
        "_rid",
        "_pos",
        F.xxhash64("_tok", *leads).alias("_h"),
        completeness.alias("_ok"),
    ).filter(F.col("_ok"))
    wmin = (
        Window.partitionBy("_rid")
        .orderBy("_pos")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    selected = (
        grams.select(
            "_id",
            F.min("_h").over(wmin).alias("fingerprint"),
            F.row_number().over(Window.partitionBy("_rid").orderBy("_pos")).alias("_rn"),
        )
        # the first window-1 rows carry partial windows; winnowing emits
        # starting from the first full window
        .filter(F.col("_rn") >= window)
        .select(F.col("_id").alias(id_col), "fingerprint")
        .distinct()
    )
    return selected


def fuzzy_pairs(
    df: DataFrame,
    *,
    id_col: str = "id",
    str_col: str = "name",
    max_dist: int = 1,
    q: int = 3,
    df_cap: int = 64,
) -> DataFrame:
    """Fuzzy string matching (entity resolution): pairs within Levenshtein
    ``max_dist``, discovered through a character q-gram inverted index.

    The scalable shape of a similarity join on names/titles/identifiers:
    an all-pairs ``levenshtein`` is O(N²·L²); instead, candidate pairs
    must share at least one *informative* q-gram (strings of length L
    within edit distance k share ≥ L-q+1-k·q grams, so near-matches
    share many), then the exact ``levenshtein`` — a JVM intrinsic —
    verifies only candidates. Grams seen in more than ``df_cap`` rows are
    dropped exactly like ``ngram_jaccard_pairs``' cap: a shared prefix
    ("Supplier#000...") would otherwise quadratic-blow the index join.
    A length-difference prefilter (|len(a)-len(b)| ≤ k, a Levenshtein
    lower bound) cuts verify work without changing results.

    NOTE the contract is "within ``max_dist`` AND sharing an uncapped
    gram" — the oracle mirrors the gram rule, so the semantics are
    engine-checkable at any scale. Output: (a, b, dist), a < b.
    """
    grams = (
        df.select(
            F.col(id_col).alias("_id"),
            # String length rides the index (functionally dependent on
            # _id, so the distinct is unchanged) to power the
            # length-difference prefilter at pair-enumeration time.
            F.length(str_col).alias("_len"),
            # Guard: sequence(1, 0) DESCENDS ([1, 0]) — for strings
            # shorter than q it would emit the whole short string (and ''
            # for empty names) as phantom grams instead of none. The
            # oracle's range(1, 1) is empty, so short strings emit NO
            # grams in both engines (they can still never pair: no gram).
            F.explode(
                F.expr(
                    f"CASE WHEN length({str_col}) >= {q} THEN"
                    f" transform(sequence(1, length({str_col})-{q - 1}),"
                    f" i -> substring({str_col}, i, {q}))"
                    f" ELSE CAST(array() AS array<string>) END"
                )
            ).alias("_g"),
        )
        .distinct()
        # LAZY localCheckpoint (round 11): the distinct q-gram index
        # feeds the heavy-gram census and the capped index, which do not
        # share an exchange — materialize it once (same pattern as
        # minhash/ngram).
        .localCheckpoint(eager=False)
    )
    # Heavy (uninformative) grams are named by a map-side-combined groupBy
    # and removed with a broadcast LeftAnti — the index never shuffles for
    # the cap (same design as ngram_jaccard_pairs).
    heavy = (
        grams.groupBy("_g")
        .agg(F.expr("count(1) AS _df"))
        .filter(F.col("_df") > df_cap)
        .select("_g")
    )
    capped = grams.join(F.broadcast(heavy), "_g", "left_anti")
    # Candidate pairs from per-gram member ARRAYS, not an index self-join
    # (round 11; same reshape as ngram/minhash/simhash): one groupBy
    # collects the (≤ df_cap, enforced above) (id, len) structs per gram
    # and two chained generators enumerate the ordered pairs in codegen —
    # the self-join formulation shuffled the capped index twice and
    # sorted both sides. The Levenshtein length lower bound
    # (|len(a)−len(b)| ≤ max_dist, formerly applied after the name joins)
    # now drops candidates in the same stage, BEFORE the distinct()'s
    # exchange and the two verify joins — identical final predicate, so
    # no result movement, just fewer rows shuffled and joined.
    members = (
        capped.groupBy("_g")
        .agg(
            F.array_sort(F.collect_list(F.struct("_id", "_len"))).alias("_ids")
        )
        .filter(F.size("_ids") >= 2)
    )
    cand = (
        members.selectExpr("_ids", "posexplode(_ids) AS (_i, _x)")
        .selectExpr(
            "_x._id AS a",
            "_x._len AS _la",
            "explode(slice(_ids, _i + 2, size(_ids))) AS _y",
        )
        .filter(f"abs(_la - _y._len) <= {int(max_dist)}")
        .selectExpr("a", "_y._id AS b")
        .distinct()
    )
    na = df.selectExpr(f"`{id_col}` AS a", f"`{str_col}` AS _sa")
    nb = df.selectExpr(f"`{id_col}` AS b", f"`{str_col}` AS _sb")
    return (
        cand.join(na, "a")
        .join(nb, "b")
        .selectExpr("a", "b", "levenshtein(_sa, _sb) AS dist")
        .filter(f"dist <= {int(max_dist)}")
        .select("a", "b", "dist")
    )
