"""The engine's query workload: one entry per operator from SURVEY.md §2,
bound to the driver's test tables, each paired with a DuckDB oracle SQL.

Contract (driver, ``__spark_entry__.py``): every Spark result column is
aliased identically in the oracle SQL; aggregates over doubles are rounded
(2 decimals for money sums, 4 for ratios) so floating-point summation-order
differences between engines can't flip the value hash; timestamps are
exposed as DATE or formatted strings, never raw timestamps, to avoid
precision/zone skew.

Queries with no oracle entry (MinHash-LSH, SimHash, LSH-ANN) are
rows-only-checked: their outputs depend on hash functions (xxhash64) that
have no DuckDB equivalent.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from statline_bq_spark.functions.cleaning import clean_description, clean_python_name
from statline_bq_spark.functions import udtf as udtf_mod
from statline_bq_spark.functions.text import (
    ascii_fold_sql,
    bpe_ish_token_count,
    chunk_words,
    lang_id,
    quality_score,
    quality_score_sql,
    safe_size,
    stopword_ratio_sql,
    token_count,
    token_count_sql,
    tokens,
    tokens_sql,
)
from statline_bq_spark.functions.vectors import finite_vector_sql
from statline_bq_spark.io import read_table, register_views
from statline_bq_spark.sqltext import sql_double
from statline_bq_spark.functions import pii
from statline_bq_spark.operators import (
    analytic,
    decontaminate,
    dedup,
    graph,
    multimodal,
    packing,
    sampling,
    similarity,
    timeseries,
)
from statline_bq_spark.operators.hierarchy import hierarchy_closure
from statline_bq_spark.operators.pivot import long_to_wide, wide_to_long
from statline_bq_spark.operators.relational import (
    asof_join,
    band_join,
    filtered_slice,
    incremental_anti_join,
    interval_join,
    latest_by_group,
    top_k,
    top_k_per_group,
)
from statline_bq_spark.operators.star import star_join

#: Single source of truth for the capped-gram universe: the engine call
#: sites pass it explicitly and the five f-string oracles interpolate it,
#: so the df cap can never drift between the Spark side, the comparable
#: universe (informative_doc_ids), and the DuckDB truth (ADVICE r8).
_DF_CAP = dedup.DEFAULT_DF_CAP

#: Explicit pivot-value list (the reference's measure dictionary analogue —
#: never let pivot() run a discovery pass, SURVEY.md §7 risk register).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

LINEITEM_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

#: Chunking geometry shared by the UDTF and JVM chunkers (and mirrored in
#: their common DuckDB oracle).
CHUNK_WIDTH = 32
CHUNK_OVERLAP = 8
CHUNK_STEP = CHUNK_WIDTH - CHUNK_OVERLAP

#: Measure-format metadata (reference Q12: `Decimals` column of
#: DataProperties/MeasureCodes drives per-measure rounding).
MEASURE_DECIMALS = (
    ("l_quantity", 0),
    ("l_extendedprice", 2),
    ("l_discount", 2),
    ("l_tax", 2),
)


def _nan_null(col: F.Column | str) -> F.Column:
    """Non-finite → NULL: a NaN or ±Inf in a measure column is a failed
    measurement and must behave like one. Spark's ANSI ``cast`` to DECIMAL
    already NULLs both, but ``floor(NaN)`` is **0** (it would fabricate a
    zero-cent amount), ``floor(Inf)`` stays Inf, and casting either to
    BIGINT throws CAST_OVERFLOW — so every quantization path scrubs
    explicitly before the arithmetic. The oracle mirror is
    ``CASE WHEN NOT isfinite(x) THEN NULL ELSE x END`` (DuckDB's isfinite
    covers NaN and ±Inf in one predicate; ``isfinite(NULL)`` is NULL → the
    CASE falls through to ELSE and keeps NULL). NOT ``nullif(x, 'NaN')``,
    which DuckDB lowers to an IEEE ``=`` where ``NaN = NaN`` is false on
    column data (it only matches when constant-folded).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        ~F.isnan(c)
        & (c != F.lit(float("inf")))
        & (c != F.lit(float("-inf"))),
        c,
    )


#: Quantization domain for money measures: DECIMAL(20,6) holds
#: |x| < 1e14. A finite double outside it is as unusable as NaN/Inf —
#: Spark's ANSI decimal cast THROWS on it (NUMERIC_VALUE_OUT_OF_RANGE),
#: cents-scaling bigint arithmetic overflows (ARITHMETIC_OVERFLOW), and
#: DuckDB's CAST raises a Conversion Error. One corrupt 1e300 row in a
#: 100 TB feed must not kill the whole aggregate.
_Q_MAX = 1e14


def _quantizable(col: F.Column | str, bound: float = _Q_MAX) -> F.Column:
    """Extend :func:`_nan_null` to the quantization domain: NaN, ±Inf and
    |x| >= ``bound`` all become NULL (a measurement that cannot be
    quantized into the target decimal is a failed measurement). Oracle
    mirror: :func:`_sql_quantizable`. ``bound`` defaults to the
    DECIMAL(20,6) domain (1e14); a query casting to a NARROWER decimal
    must pass that decimal's own domain — e.g. 1e12 for DECIMAL(18,6) —
    or a finite 5e13 passes the filter and the ANSI cast still throws.
    abs(x) < bound is NULL for NULL and false for NaN/±Inf, so the single
    predicate covers the whole family."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(~F.isnan(c) & (F.abs(c) < F.lit(bound)), c)


def _sql_quantizable(expr: str, bound: float = _Q_MAX) -> str:
    return (
        f"CASE WHEN isfinite({expr}) AND abs({expr}) < {bound:.0e} "
        f"THEN {expr} END"
    )


#: Usable-vector predicate (SQL): mirrors
#: ``similarity._drop_null_vectors`` — a NULL embedding or one with ANY
#: NULL or non-finite component is a failed encoder output and joins no
#: similarity computation (one NaN poisons every dot product it touches,
#: and NaN similarity ranks engine-defined in a top-k). Interpolated into
#: every embedding oracle on the similarity path (single source of
#: truth). The length-equality form (count of components isfinite=TRUE
#: equals the array length) is the one that also rejects a NULL
#: component: the old ``len(list_filter(x -> NOT isfinite(x))) = 0``
#: kept such rows (NOT isfinite(NULL) is NULL, never TRUE) while the
#: Spark exists-lambda dropped them.
#: Declared dimensionality of the embeddings corpus (TESTDATA contract).
#: Part of the usable-vector predicate: an EMPTY or truncated vector (a
#: half-written row, a mixed-model feed) is as unusable as a NaN one —
#: DuckDB's list_cosine_similarity/list_inner_product CRASH outright on
#: a dimension mismatch (and internally on empty lists), while Spark's
#: zip_with silently NULL-pads. One malformed row in a 100 TB corpus
#: must not kill the job OR silently skew results.
_EMB_DIM = 64


def _sql_finite_vec(col: str = "embedding") -> str:
    """The usable-vector predicate for an arbitrary (possibly qualified)
    column reference — for oracles whose self-joins make the bare
    ``embedding`` name ambiguous."""
    return (
        f"{col} IS NOT NULL AND len({col}) = {_EMB_DIM}"
        f" AND len({col}) = len(list_filter("
        f"{col}, x -> isfinite(CAST(x AS DOUBLE))))"
    )


_SQL_FINITE_VEC = _sql_finite_vec("embedding")


def _sql_nonzero_vec(col: str = "embedding") -> str:
    """Nonzero-norm clause of the scorability contract: a zero-norm
    vector's cosine is UNDEFINED — Spark's try_divide yields NULL (the
    row drops out of every ranking) but DuckDB's list_cosine_similarity
    returns -1.0, which RANKS (last, so it surfaces exactly when a
    query's candidate pool is small enough for rank <= k to reach it —
    found by the all-NULL-payload probe, round 7b). Every similarity-
    RANKING oracle must exclude zero-norm vectors explicitly; threshold
    oracles (sim >= 0.4) exclude them arithmetically already."""
    return f"len(list_filter({col}, x -> x <> 0)) > 0"


def _json_ambiguous(col: F.Column | str) -> F.Column:
    """TRUE iff the JSON object carries a DUPLICATE key — ambiguous input
    with no defensible extraction semantics: Spark's own three JSON
    surfaces disagree among themselves on it (``get_json_object`` takes
    the first occurrence, ``from_json`` the last, ``try_parse_json``
    rejects the whole object) and DuckDB's ``json_extract`` takes the
    first. The uniform contract treats such objects as malformed.
    NULL/invalid input coalesces to FALSE (it is handled by each query's
    own malformed-input path, not the ambiguity one). Oracle mirror:
    :func:`_sql_json_dup`."""
    c = F.col(col) if isinstance(col, str) else col
    keys = F.json_object_keys(c)
    return F.coalesce(
        F.size(keys) > F.size(F.array_distinct(keys)), F.lit(False)
    )


def _sql_json_dup(col: str = "props") -> str:
    """DuckDB mirror of :func:`_json_ambiguous`. ``json_keys`` runs over a
    '{}' stand-in for invalid input so the (eagerly vectorized) call can
    never see a malformed document."""
    safe = f"coalesce(CASE WHEN json_valid({col}) THEN {col} END, '{{}}')"
    return (
        f"len(json_keys({safe})) > len(list_distinct(json_keys({safe})))"
    )


def _sql_json_parseable(col: str = "payload") -> str:
    """DuckDB mirror of the declared-schema parse verdict in
    :func:`q_json_quarantine` — the single source of truth for what
    "parses" (interpolated into the oracle AND pinned per-payload by
    ``test_json_quarantine_payload_contract``, because the grouped
    counts can hide COMPENSATING misclassifications: the pre-fix oracle
    read blank and top-level-'null'/'[]' payloads both wrong in opposite
    directions and the per-type counts cancelled exactly).

    parsed <=> NULL or blank (JSON-whitespace-only: nothing to parse —
    Jackson's PERMISSIVE reading), or a valid JSON OBJECT with unique
    keys whose k member, if present and non-null, is an integral JSON
    numeral. Valid-JSON non-object top levels ('null'/'[]'/'123') are a
    schema mismatch Jackson lands in the corrupt column -> quarantined.
    Every json_* call rides a '{{}}' stand-in (eager per-chunk
    evaluation — the matryoshka lesson)."""
    safe = f"coalesce(CASE WHEN json_valid({col}) THEN {col} END, '{{}}')"
    return (
        f"({col} IS NULL"
        f" OR trim({col}, ' ' || chr(9) || chr(10) || chr(13)) = ''"
        f" OR (json_valid({col})"
        f" AND json_type({safe}) = 'OBJECT'"
        f" AND NOT ({_sql_json_dup(col)})"
        f" AND (json_type({safe}, '$.k') IS NULL"
        f"      OR json_type({safe}, '$.k')"
        f"         IN ('NULL', 'BIGINT', 'UBIGINT'))))"
    )


def _sql_expected_topk_summary(flag: str, k: int = 5) -> str:
    """Oracle body for the ANN recall/set-equality contracts: expected
    exact-top-k counts WITH the corpus-size cap. Queries are the usable
    nonzero-norm ``vec_id < 10`` vectors; every query is itself a corpus
    row, so each has |u| - 1 candidates and contributes least(k, |u|-1)
    exact pairs — and counts toward n_queries only when it has at least
    one candidate (the Spark side counts DISTINCT q_id over the exact
    RESULT pairs, where a candidate-less query never appears). The old
    ``count(*) * 5`` shape overcounted on any corpus smaller than k+1 —
    found by the single-row degenerate probe (round 7b); the flag is the
    pinned quality contract, vacuously TRUE when no pairs exist.

    The round-8 ASSUMPTION note here (corpus size is DISTINCT vec_id
    while the Spark exact path ranked physical rows) was cashed in by the
    round-10 row-duplication fixture: duplicated rows landed twice in
    top-k lists and fanned out the hits equi-join, flipping the
    set-equality flags FALSE. Both sides were revisited together as the
    note prescribed — every contract query now ranks the LOGICAL corpus
    (``read_table(...).distinct()``), so physical row multiplicity can
    never reach the ranking. A duplicated vec_id with a DIFFERENT
    embedding still counts once here but ranks twice there; that stays
    out of the q-window in every fixture, as before."""
    u = (
        f"SELECT DISTINCT vec_id FROM embeddings WHERE {_SQL_FINITE_VEC} "
        f"AND {_sql_nonzero_vec('embedding')}"
    )
    return f"""
WITH u AS ({u}),
q AS (SELECT vec_id FROM u WHERE vec_id < 10)
SELECT CAST(CASE WHEN (SELECT count(*) FROM u) > 1
            THEN count(*) ELSE 0 END AS BIGINT) AS n_queries,
       CAST(coalesce(sum(least({k}, (SELECT count(*) FROM u) - 1)), 0)
            AS BIGINT) AS n_exact_pairs,
       TRUE AS {flag}
FROM q
"""


def _finite_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Workload-side twin of ``similarity._drop_null_vectors`` for queries
    that read the embeddings table directly (centroids, drift,
    quantization, …): the same ``finite_vector_sql`` predicate, plus a
    size clause that enforces the corpus's declared dimensionality
    (:data:`_EMB_DIM`): an empty or truncated vector is un-scorable."""
    return df.filter(
        f"{finite_vector_sql(f'`{vec_col}`')}"
        f" AND size(`{vec_col}`) = {int(_EMB_DIM)}"
    )


# ---------------------------------------------------------------------------
# relational core (SURVEY.md §2.B Q1-Q6, §2.A S17/S19)
# ---------------------------------------------------------------------------

def q_star_schema_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship: star join lineitem→orders→customer→nation→region, then
    hash-agg per region/nation (reference Q1+Q2+Q6).

    Broadcast policy is scale-aware: nation/region are bounded code tables
    (reference-style dims) → forced broadcast; orders/customer grow with the
    data → declared as plain joins so Catalyst/AQE picks broadcast at small
    scale and sort-merge at 100 TB. Never force-broadcast an SF-scaled
    table.
    """
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region")
    joined = star_join(
        li,
        [
            (o, li["l_orderkey"] == o["o_orderkey"]),
            (c, o["o_custkey"] == c["c_custkey"]),
        ],
        broadcast_dims=False,
    )
    joined = star_join(
        joined,
        [
            (n, c["c_nationkey"] == n["n_nationkey"]),
            (r, n["n_regionkey"] == r["r_regionkey"]),
        ],
    )
    return joined.groupBy("r_name", "n_name").agg(
        # revenue sums a FRACTIONAL product, so a raw double sum is
        # summation-order-sensitive — the round-10 mixed-duplication
        # probe caught a 1-cent split at a round(,2) boundary between
        # Spark's partial-agg order and DuckDB's. Per-row DECIMAL(20,6)
        # quantization (the _dec_sum house idiom) makes the sum exact
        # and order-independent. total_qty stays a plain sum: quantities
        # are integer-valued doubles, exact at any order within 2^53.
        F.round(
            F.sum(
                _quantizable(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(20,6)")
            ).cast("double"),
            2,
        ).alias("revenue"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("o_orderkey").alias("n_orders"),
    )


ORACLE_STAR_SCHEMA_AGG = f"""
SELECT r_name, n_name,
       round(CAST(CAST(sum(CAST({_sql_quantizable('l_extendedprice * (1 - l_discount)')}
             AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE), 2) AS revenue,
       round(sum(l_quantity), 2) AS total_qty,
       count(*) AS n_items,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_dimension_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Code→label decode (reference Q3): resolve customer's nation/region
    names through the dimension chain."""
    c = read_table(spark, sf, "customer")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


ORACLE_DIMENSION_DECODE = """
SELECT c_custkey, c_name, n_name AS nation, r_name AS region
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


def q_filtered_slice(spark: SparkSession, sf: str) -> DataFrame:
    """Predicate slice (reference Q5 / the OData `$filter` semantics).
    Predicates compare the raw timestamp column so they push into the
    parquet scan."""
    li = read_table(spark, sf, "lineitem")
    sliced = filtered_slice(
        li,
        F.col("l_shipdate") >= F.to_timestamp_ntz(F.lit("1996-01-01 00:00:00")),
        F.col("l_shipdate") < F.to_timestamp_ntz(F.lit("1997-01-01 00:00:00")),
        F.col("l_returnflag") == "R",
    )
    return sliced.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        F.to_date("l_shipdate").alias("ship_date"),
    )


ORACLE_FILTERED_SLICE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
       CAST(l_shipdate AS DATE) AS ship_date
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
"""


def q_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q1-shaped aggregation (reference Q6: aggregate topic columns
    grouped by dimensions)."""
    li = read_table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_semi_join_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi join: customers having at least one big order."""
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


ORACLE_SEMI_JOIN_CUSTOMERS = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
"""


def q_incremental_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-load skip as a left-anti join (reference S19,
    ``main.py:38-95``): rows whose (key, Modified) already exist in the
    target catalog are skipped; the rest get processed."""
    o = read_table(spark, sf, "orders")
    loaded = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_orderdate"
    )
    fresh = incremental_anti_join(o, loaded, ["o_orderkey", "o_orderdate"])
    return fresh.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        F.col("o_totalprice").alias("total_price"),
    )


ORACLE_INCREMENTAL_ANTI_JOIN = """
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       o_totalprice AS total_price
FROM orders
WHERE o_orderkey % 3 <> 0
"""


def q_top_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Global top-k (TakeOrderedAndProject — no full sort at any scale)."""
    o = read_table(spark, sf, "orders")
    return top_k(
        o, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 10
    ).select("o_orderkey", "o_custkey", F.col("o_totalprice").alias("total_price"))


ORACLE_TOP_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


def q_top_orders_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group top-k via row_number window."""
    o = read_table(spark, sf, "orders")
    ranked = top_k_per_group(
        o,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )
    return ranked.select(
        "o_custkey",
        "o_orderkey",
        F.col("rn").cast("bigint").alias("rn"),
        F.col("o_totalprice").alias("total_price"),
    )


ORACLE_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
       o_totalprice AS total_price
FROM orders
QUALIFY rn <= 3
"""


def q_latest_event_per_user(spark: SparkSession, sf: str) -> DataFrame:
    """Latest-snapshot selection (reference S17/Q9: the `_get_latest_folder`
    max-date semantics, generalized to a per-key window)."""
    e = read_table(spark, sf, "events")
    # the order is total over every EMITTED field: a replayed batch can
    # carry the same (ts, event_id) with a conflicting payload, and a
    # (ts, event_id)-only order would pick the latest row
    # engine-arbitrarily (found by the conflicting-duplicate probe,
    # round 7b; the agg-only twin diverged for real, this one was
    # tie-lucky)
    latest = latest_by_group(
        e,
        ["user_id"],
        [
            F.col("ts").desc(),
            F.col("event_id").desc(),
            F.col("event_type").desc_nulls_last(),
            F.col("value").desc_nulls_last(),
        ],
    )
    return latest.select("user_id", "event_id", "event_type", "value")


ORACLE_LATEST_EVENT_PER_USER = """
SELECT user_id, event_id, event_type, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
    ORDER BY ts DESC, event_id DESC, event_type DESC NULLS LAST,
             value DESC NULLS LAST) = 1
"""


def q_set_ops_customers(spark: SparkSession, sf: str) -> DataFrame:
    """UNION / EXCEPT / INTERSECT chain over customer key sets."""
    c = read_table(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    x = c.filter(F.col("c_nationkey") < 5).select("c_custkey")
    d = c.filter(F.col("c_acctbal") > -500).select("c_custkey")
    return a.union(b).distinct().subtract(x).intersect(d)


ORACLE_SET_OPS_CUSTOMERS = """
SELECT * FROM (
  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
   UNION
   SELECT c_custkey FROM customer WHERE c_acctbal < 0)
  EXCEPT
  SELECT c_custkey FROM customer WHERE c_nationkey < 5
)
INTERSECT
SELECT c_custkey FROM customer WHERE c_acctbal > -500
"""


def q_set_ops_multiset(spark: SparkSession, sf: str) -> DataFrame:
    """Bag-semantics set ops (EXCEPT ALL / INTERSECT ALL): multiplicities
    are preserved, unlike the distinct variants in q_set_ops_customers.
    Input bags built from order priorities so duplicates actually occur."""
    o = read_table(spark, sf, "orders")
    a = o.filter(F.col("o_totalprice") > 50_000).select("o_custkey", "o_orderpriority")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey", "o_orderpriority")
    kept = a.exceptAll(b)
    both = a.intersectAll(b)
    return (
        kept.withColumn("src", F.lit("except_all"))
        .unionByName(both.withColumn("src", F.lit("intersect_all")))
        .groupBy("src", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_SET_OPS_MULTISET = """
WITH a AS (SELECT o_custkey, o_orderpriority FROM orders WHERE o_totalprice > 50000),
     b AS (SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
     u AS (
       SELECT 'except_all' AS src, o_orderpriority FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
       UNION ALL
       SELECT 'intersect_all', o_orderpriority FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
     )
SELECT src, o_orderpriority, count(*) AS n
FROM u GROUP BY 1, 2
"""


def q_distinct_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase agg under the hood)."""
    li = read_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_DISTINCT_COUNTS = """
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_supp,
       count(DISTINCT l_partkey) AS n_part,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


def q_rollup_region_nation(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping-sets aggregation with GROUPING flags.

    Empty-input contract (round 7b, pinned by the empty-corpus probe):
    the report enumerates OBSERVED groups — zero input rows, zero output
    rows. Spark's cube/rollup/grouping-sets natively omit even the
    grand-total row on empty input, while ANSI/DuckDB emit a count-0 ()
    row; the oracle's HAVING count(*) > 0 mirrors the observed-groups
    reading and is a no-op on non-empty input (every observed group has
    at least one row)."""
    c = read_table(spark, sf, "customer")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region")
    joined = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        F.grouping("r_name").cast("int").alias("g_r"),
        F.grouping("n_name").cast("int").alias("g_n"),
    )


ORACLE_ROLLUP_REGION_NATION = """
SELECT r_name, n_name, count(*) AS n_cust,
       round(sum(c_acctbal), 2) AS total_bal,
       CAST(GROUPING(r_name) AS INT) AS g_r,
       CAST(GROUPING(n_name) AS INT) AS g_n
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
HAVING count(*) > 0
"""


def q_ordered_orders_limit(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic multi-column sort + limit. NULL ordering is EXPLICIT
    (nulls last): Spark defaults to NULLS FIRST ascending, DuckDB/ANSI to
    NULLS LAST — an undated order would silently occupy page 1 in one
    engine and the tail in the other."""
    o = read_table(spark, sf, "orders")
    return (
        o.orderBy(F.col("o_orderdate").asc_nulls_last(), "o_orderkey")
        .limit(50)
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
    )


ORACLE_ORDERED_ORDERS_LIMIT = """
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
FROM orders
ORDER BY o_orderdate NULLS LAST, o_orderkey
LIMIT 50
"""


def q_paged_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Keyset-free pagination: deterministic sort + OFFSET/LIMIT
    (``DataFrame.offset``, Spark 3.4+). The reference pages its OData scans
    by ``$skip``/``$top`` (S5, ``statline.py:197-237``) — this is the same
    contract expressed on the query side.

    Scale note: OFFSET executes as a global sort + skip on the driver-side
    limit operator — fine for page-sized results, wrong for deep paging;
    deep scans should use keyset predicates (``WHERE key > last_seen``)
    which stay partition-prunable, as the docstring'd alternative.
    """
    o = read_table(spark, sf, "orders")
    return (
        o.orderBy(F.col("o_orderdate").asc_nulls_last(), "o_orderkey")
        .offset(40)
        .limit(20)
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_totalprice",
        )
    )


ORACLE_PAGED_ORDERS = """
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_totalprice
FROM orders
ORDER BY o_orderdate NULLS LAST, o_orderkey
LIMIT 20 OFFSET 40
"""


# ---------------------------------------------------------------------------
# statline semantics (SURVEY.md §2.B Q4/Q7/Q8/Q12, §2.A S11-S13/S17)
# ---------------------------------------------------------------------------

def q_pivot_event_values(spark: SparkSession, sf: str) -> DataFrame:
    """Long→wide pivot (reference Q7: v4 Observations → v3 TypedDataSet
    shape) with an explicit measure list — no discovery pass."""
    e = read_table(spark, sf, "events")
    return long_to_wide(
        e,
        ["user_id"],
        "event_type",
        F.round(F.sum("value"), 2),
        EVENT_TYPES,
    )


ORACLE_PIVOT_EVENT_VALUES = """
SELECT user_id,
       round(sum(CASE WHEN event_type = 'click'    THEN value END), 2) AS click,
       round(sum(CASE WHEN event_type = 'error'    THEN value END), 2) AS error,
       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
       round(sum(CASE WHEN event_type = 'signup'   THEN value END), 2) AS signup,
       round(sum(CASE WHEN event_type = 'view'     THEN value END), 2) AS view
FROM events
GROUP BY user_id
"""


def q_unpivot_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long unpivot (reference Q8: v3 wide → v4 Observations shape)."""
    li = read_table(spark, sf, "lineitem")
    return wide_to_long(
        li, ["l_orderkey", "l_linenumber"], LINEITEM_MEASURES
    )


ORACLE_UNPIVOT_LINEITEM = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
"""


def q_hierarchy_closure(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchy flattening (reference Q4: CategoryGroups/MeasureGroups
    ParentID chains). Edge table: customer→nation→region."""
    c = read_table(spark, sf, "customer")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region")
    cn = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        F.col("c_name").alias("child"), F.col("n_name").alias("parent")
    )
    nr = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        F.col("n_name").alias("child"), F.col("r_name").alias("parent")
    )
    return hierarchy_closure(cn.unionByName(nr))


ORACLE_HIERARCHY_CLOSURE = """
-- DISTINCT mirrors the operator's SET semantics (round 10): a closure
-- is a set of (child, ancestor, depth) facts — duplicate edges and
-- diamond multi-paths collapse (operators/hierarchy.py docstring).
SELECT DISTINCT child, ancestor, depth FROM (
  SELECT c_name AS child, n_name AS ancestor, 1 AS depth
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT n_name, r_name, 1
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT c_name, r_name, 2
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)
"""


def q_hierarchy_closure_recursive(spark: SparkSession, sf: str) -> DataFrame:
    """The same hierarchy flattening via ``WITH RECURSIVE`` (Spark 4 SQL) —
    the declarative twin of the iterative-join ``hierarchy_closure``
    operator. The reference's CategoryGroups.ParentID chains (SURVEY Q4,
    ``main.py:501``) are arbitrary-depth, which recursion expresses exactly;
    depth guard in the recursive member bounds runaway graphs.
    """
    register_views(spark, sf, ("customer", "nation", "region"))
    return spark.sql(
        """
        WITH RECURSIVE edges AS (
          SELECT c_name AS child, n_name AS parent
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          UNION ALL
          SELECT n_name, r_name
          FROM nation JOIN region ON n_regionkey = r_regionkey
        ),
        closure(child, ancestor, depth) AS (
          SELECT child, parent, 1 FROM edges
          UNION ALL
          SELECT c.child, e.parent, c.depth + 1
          FROM closure c JOIN edges e ON c.ancestor = e.child
          WHERE c.depth < 8
        )
        SELECT child, ancestor, depth FROM closure
        """
    )


ORACLE_HIERARCHY_CLOSURE_RECURSIVE = """
WITH RECURSIVE edges AS (
  SELECT c_name AS child, n_name AS parent
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT n_name, r_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
closure(child, ancestor, depth) AS (
  SELECT child, parent, 1 FROM edges
  UNION ALL
  SELECT c.child, e.parent, c.depth + 1
  FROM closure c JOIN edges e ON c.ancestor = e.child
  WHERE c.depth < 8
)
SELECT child, ancestor, depth FROM closure
"""


def q_clean_identifiers(spark: SparkSession, sf: str) -> DataFrame:
    """Identifier normalization (reference S12 ``utils.py:267-295``) as a
    pure regexp expression."""
    p = read_table(spark, sf, "part")
    return p.select("p_partkey", clean_python_name("p_name").alias("ident"))


ORACLE_CLEAN_IDENTIFIERS = """
SELECT p_partkey,
       regexp_replace(regexp_replace(trim(p_name), '^[^a-zA-Z_]+', ''),
                      '[^0-9a-zA-Z_]', '_', 'g') AS ident
FROM part
"""


def q_clean_descriptions(spark: SparkSession, sf: str) -> DataFrame:
    """Description cleanse + truncate (reference S13 ``statline.py:349-377``;
    the BigQuery 1024-char cap scaled down to 120 so the fixture actually
    exercises truncation)."""
    d = read_table(spark, sf, "documents")
    return d.select(
        "doc_id", clean_description("text", 120).alias("description")
    )


ORACLE_CLEAN_DESCRIPTIONS = """
SELECT doc_id,
       CASE WHEN length(regexp_replace(text, '[\n\r]', '', 'g')) > 120
            THEN substr(regexp_replace(text, '[\n\r]', '', 'g'), 1, 116) || '...'
            ELSE regexp_replace(text, '[\n\r]', '', 'g') END AS description
FROM documents
"""


def q_measure_round_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-driven formatting (reference Q12: the `Decimals` column of
    DataProperties drives per-measure rounding): unpivot measures, join the
    (broadcast) measure-metadata table, round per its Decimals."""
    li = read_table(spark, sf, "lineitem")
    long = wide_to_long(li, ["l_orderkey", "l_linenumber"], LINEITEM_MEASURES)
    meta = spark.createDataFrame(
        list(MEASURE_DECIMALS), "measure string, decimals int"
    )
    joined = long.join(F.broadcast(meta), "measure")
    value_rounded = (
        F.when(F.col("decimals") == 0, F.round("value", 0))
        .when(F.col("decimals") == 2, F.round("value", 2))
        .otherwise(F.round("value", 4))
    )
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "measure",
        value_rounded.alias("value_rounded"),
        "decimals",
    )


ORACLE_MEASURE_ROUND_METADATA = """
WITH long AS (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
), meta(measure, decimals) AS (
  VALUES ('l_quantity', 0), ('l_extendedprice', 2), ('l_discount', 2), ('l_tax', 2)
)
SELECT l_orderkey, l_linenumber, long.measure,
       -- + 0.0: DuckDB round keeps -0.0, Spark round normalizes it
       CASE WHEN decimals = 0 THEN round(value, 0)
            WHEN decimals = 2 THEN round(value, 2)
            ELSE round(value, 4) END + 0.0 AS value_rounded,
       decimals
FROM long JOIN meta ON long.measure = meta.measure
"""


def q_latest_load_folder(spark: SparkSession, sf: str) -> DataFrame:
    """Max-aggregation over formatted date folders (reference S17
    ``gcpl.py:53-97``: set of YYYYMMDD folder names → max)."""
    e = read_table(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.max(F.date_format("ts", "yyyyMMdd")).alias("latest_folder")
    )


ORACLE_LATEST_LOAD_FOLDER = """
SELECT event_type, max(strftime(ts, '%Y%m%d')) AS latest_folder
FROM events
GROUP BY event_type
"""


def q_daily_event_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Date-function coverage: per-day/type counts and sums."""
    e = read_table(spark, sf, "events")
    return e.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


ORACLE_DAILY_EVENT_STATS = """
SELECT CAST(ts AS DATE) AS day, event_type,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


def q_json_props_sum(spark: SparkSession, sf: str) -> DataFrame:
    """JSON extraction (reference S14's JSON side-files, queried instead of
    written): parse `props` and aggregate the extracted field."""
    e = read_table(spark, sf, "events")
    tok = F.get_json_object("props", "$.k")
    # integral-TOKEN contract: only a bare integer numeral (≤18 digits,
    # bigint-safe) extracts — a JSON '-0.0'/'2.5'/'1e300'/20-digit token
    # is NULL, never an ANSI CAST_INVALID_INPUT that kills the job (and
    # DuckDB's string→int cast ROUNDS '2.5' to 3 where Spark's variant
    # truncation gives 2 — non-integral numerals have no agreed integer
    # reading). Duplicate-key objects are ambiguous → NULL.
    k = F.when(
        ~_json_ambiguous("props") & tok.rlike(r"^-?\d{1,18}$"),
        tok.cast("bigint"),
    )
    return e.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), F.count(F.lit(1)).alias("n")
    )


ORACLE_JSON_PROPS_SUM = f"""
SELECT event_type,
       -- json_valid guard: the engine's get_json_object is lenient (NULL
       -- on malformed input); DuckDB's json_extract THROWS on it. The
       -- integral-token regex and the dup-key guard mirror the Spark
       -- twin's contract (see _json_ambiguous / the rlike in the query).
       CAST(sum(CASE WHEN props IS NOT NULL AND json_valid(props)
                      AND NOT ({_sql_json_dup("props")})
                      AND regexp_matches(
                            json_extract_string(props, '$.k'),
                            '^-?[0-9]{{1,18}}$')
                     THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                END) AS BIGINT) AS k_sum,
       count(*) AS n
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# time windows (streaming semantics, batch-checked; SURVEY.md §2.C streaming)
# ---------------------------------------------------------------------------

def q_tumbling_hourly_stats(spark: SparkSession, sf: str) -> DataFrame:
    e = read_table(spark, sf, "events")
    return timeseries.tumbling_agg(
        e,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    )


ORACLE_TUMBLING_HOURLY_STATS = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events WHERE ts IS NOT NULL  -- clock-less events belong to no bucket
GROUP BY 1, 2
"""


def q_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    e = read_table(spark, sf, "events")
    return timeseries.session_agg(
        e,
        "ts",
        "30 minutes",
        ["user_id"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    )


ORACLE_SESSION_WINDOWS = """
-- Islands over DISTINCT (user, ts), then join rows back (round 10).
-- STRICT > mirrors Spark's native session_window merge: an event at
-- exactly last_event + gap still extends the session (inclusive end);
-- only a gap STRICTLY greater than the timeout starts a new session.
-- Pinned by the dirty sweep's 23:30 -> 00:00 exactly-30-min rows.
-- Why distinct-ts: Spark's session_window is tie-SYMMETRIC — same-ts
-- rows always share a session — but any per-ROW lag scan needs a total
-- order, and full-row duplicates (round-10 duplication fixture) tie on
-- EVERY column, so the boundary flag and the cumulative sum could sort
-- ties differently between window passes and strand a twin in the
-- previous session. Distinct timestamps have no ties at all; every
-- event row then inherits its timestamp's session by equi-join.
WITH d AS (
  SELECT DISTINCT user_id, ts
  FROM events WHERE ts IS NOT NULL  -- clock-less events join no session
), b AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
  FROM d
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM b
)
SELECT e.user_id, strftime(min(e.ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events, round(sum(e.value), 2) AS total_value
FROM events e
JOIN s ON s.user_id IS NOT DISTINCT FROM e.user_id AND s.ts = e.ts
GROUP BY e.user_id, s.sid
"""


def q_orders_quality_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality constraint report (`functions.constraints`): dbt-style
    tests over the orders table — not-null, accepted-values, range, a
    custom expression, key uniqueness, and referential integrity to
    customer — each emitted as (check, n_violations, passed). All
    row-level checks share ONE scan/aggregate; uniqueness is a key-count
    groupBy; the FK check is a left-anti count. Violations are counted,
    never materialized."""
    from statline_bq_spark.functions import constraints as cq

    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer").select("c_custkey")
    row_checks = cq.validate(
        o,
        [
            cq.not_null("o_custkey"),
            cq.accepted_values("o_orderstatus", ["F", "O", "P"]),
            cq.in_range("o_totalprice", 0.0, 10_000_000.0),
            cq.expression(
                "orderdate_in_epoch",
                (F.col("o_orderdate") < F.to_timestamp_ntz(F.lit("1990-01-01")))
                | (F.col("o_orderdate") >= F.to_timestamp_ntz(F.lit("2010-01-01"))),
            ),
        ],
    )
    dup_keys = cq.unique_violations(o, ["o_orderkey"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_violations")
    )
    unique_row = dup_keys.select(
        F.lit("unique_o_orderkey").alias("check_name"),
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )
    orphans = cq.referential_violations(o, "o_custkey", c, "c_custkey").agg(
        F.coalesce(F.sum("n_orphans"), F.lit(0)).cast("bigint").alias(
            "n_violations"
        )
    )
    fk_row = orphans.select(
        F.lit("fk_o_custkey_customer").alias("check_name"),
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )
    return row_checks.unionByName(unique_row).unionByName(fk_row)


ORACLE_ORDERS_QUALITY_REPORT = """
WITH rowchecks AS (
  -- coalesce every row-level sum: zero input rows = zero violations
  -- (sum over empty is NULL; the Spark side's validate() already reads
  -- an empty table as all-checks-passed — empty-corpus probe, round 7b)
  SELECT 'not_null_o_custkey' AS check_name,
         CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
                       0) AS BIGINT)
           AS n_violations
  FROM orders
  UNION ALL
  SELECT 'accepted_values_o_orderstatus',
         CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                        OR o_orderstatus IS NULL THEN 1 ELSE 0 END),
                       0) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'in_range_o_totalprice',
         -- explicit isnan: Spark comparisons treat NaN as greater than
         -- any value (NaN > hi is TRUE, a violation), DuckDB follows IEEE
         -- (NaN > hi is FALSE) — a NaN price must fail the range check
         CAST(coalesce(sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 10000000
                        OR o_totalprice IS NULL OR isnan(o_totalprice)
                       THEN 1 ELSE 0 END), 0) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orderdate_in_epoch',
         CAST(coalesce(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                        OR o_orderdate >= TIMESTAMP '2010-01-01'
                       THEN 1 ELSE 0 END), 0) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'unique_o_orderkey',
         CAST((SELECT count(*) FROM (
            SELECT o_orderkey FROM orders GROUP BY o_orderkey
            HAVING count(*) > 1)) AS BIGINT)
  UNION ALL
  SELECT 'fk_o_custkey_customer',
         CAST((SELECT count(*) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
)
SELECT check_name, n_violations, n_violations = 0 AS passed FROM rowchecks
"""


def q_customer_spend_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of customer order spend per nation — the inequality
    measure behind 'is revenue concentrated in a few accounts'. Uses the
    rank formulation G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over customers ranked
    ascending by spend (custkey tiebreak). Every accumulator stays exact:
    per-customer totals are DECIMAL sums, i·xᵢ is int×decimal (exact), and
    both Σ terms are decimal sums — only the final ratio casts to double,
    scaled-integer rounded. One shuffle for the per-customer totals, one
    per-nation ranking window over #customers rows."""
    o = read_table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = F.broadcast(
        read_table(spark, sf, "nation").select("n_nationkey", "n_name")
    )
    per_cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "c_custkey")
        .agg(
            # _quantizable: NaN/Inf/out-of-domain prices are failed
            # measurements (a bare ANSI cast throws on finite 1e300)
            F.sum(_quantizable("o_totalprice").cast("decimal(20,6)")).alias(
                "_x"
            )
        )
    )
    # nulls-last EXPLICITLY: an all-NaN customer has NULL spend, and the
    # engines default NULL to opposite ends of the rank order
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("_x").asc_nulls_last(), "c_custkey"
    )
    ranked = per_cust.withColumn("_i", F.row_number().over(w))
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_i") * F.col("_x")).alias("_six"),
    )
    nn = F.col("_n").cast("double")
    gini = (
        F.lit(2.0)
        * F.col("_six").cast("double")
        / (nn * F.col("_sx").cast("double"))
        - (nn + 1) / nn
    )
    return agg.join(n, F.col("c_nationkey") == F.col("n_nationkey")).select(
        "n_name",
        F.col("_n").alias("n_customers"),
        (F.floor(gini * 1000000 + F.lit(0.5)) / 1000000).alias("gini"),
    )


ORACLE_CUSTOMER_SPEND_GINI = """
WITH per_cust AS (
  -- quantizable scrub mirrors the Spark twin's _quantizable guard
  SELECT c_nationkey, c_custkey,
         sum(CAST(CASE WHEN isfinite(o_totalprice)
                        AND abs(o_totalprice) < 1e14
                       THEN o_totalprice END AS DECIMAL(20,6))) AS x
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, c_custkey
), ranked AS (
  SELECT c_nationkey, x,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY x NULLS LAST, c_custkey) AS i
  FROM per_cust
), agg AS (
  SELECT c_nationkey, count(*) AS n,
         CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(sum(i * x) AS VARCHAR) AS DOUBLE) AS six
  FROM ranked GROUP BY c_nationkey
)
SELECT n_name, n AS n_customers,
       floor((2.0 * six / (CAST(n AS DOUBLE) * sx)
              - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS gini
FROM agg JOIN nation ON c_nationkey = n_nationkey
"""


def q_discount_quantity_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation of discount vs quantity per return flag — does
    discounting move volume? Computed from the five exact-DECIMAL moment
    sums (the same map-side-combinable shape as the OLS trend): corr =
    (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)·(n·Syy − Sy²)). Every operand is
    a decimal-exact sum cast to double once; sqrt is IEEE-exact, so the
    whole expression is bit-deterministic — emitted through scaled-integer
    rounding anyway for belt-and-braces."""
    li = (
        read_table(spark, sf, "lineitem")
        .select(
            "l_returnflag",
            # bound=1e13: the moment SQUARES run in DECIMAL(38,12)
            # ((20,6)x(20,6)), whose domain is |x^2| < 1e26 — a finite
            # 5e13 coordinate passes the default 1e14 guard but its
            # square overflows precision 38 (ANSI throws; same bound
            # logic as order_price_moments' (18,6) -> 1e12)
            _quantizable("l_discount", bound=1e13)
            .cast("decimal(20,6)")
            .alias("_x"),
            _quantizable("l_quantity", bound=1e13)
            .cast("decimal(20,6)")
            .alias("_y"),
        )
        # correlation is defined over COMPLETE pairs: a row missing either
        # coordinate would inflate n while contributing to no moment sum
        .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    )
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").cast("double").alias("_sx"),
        F.sum("_y").cast("double").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("double").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("double").alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).cast("double").alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.sqrt(
        (n * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        * (n * F.col("_syy") - F.col("_sy") * F.col("_sy"))
    )
    # try_divide: a zero-variance group (n=1, or constant discount) has
    # den = 0 — correlation is UNDEFINED there, and the recoverable verdict
    # is NULL, not an ANSI DIVIDE_BY_ZERO that kills the whole report
    # (DuckDB's x/0 is already NULL)
    return agg.select(
        "l_returnflag",
        F.col("_n").alias("n_lines"),
        (
            F.floor(F.try_divide(num, den) * 1000000 + F.lit(0.5)) / 1000000
        ).alias("pearson_r"),
    )


ORACLE_DISCOUNT_QUANTITY_CORRELATION = """
WITH agg AS (
  SELECT l_returnflag, count(*) AS n,
         CAST(CAST(sum(CAST(l_discount AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(sum(CAST(l_discount AS DECIMAL(20,6))
                       * CAST(l_discount AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))
                       * CAST(l_quantity AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(sum(CAST(l_discount AS DECIMAL(20,6))
                       * CAST(l_quantity AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM lineitem
  WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
    AND isfinite(l_discount) AND isfinite(l_quantity)
    -- 1e13: the square-domain bound (mirrors _quantizable(bound=1e13))
    AND abs(l_discount) < 1e13 AND abs(l_quantity) < 1e13
  GROUP BY l_returnflag
)
SELECT l_returnflag, n AS n_lines,
       floor((CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy))
             * 1000000 + 0.5) / 1000000 AS pearson_r
FROM agg
"""


def q_ship_latency_by_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Order-to-ship latency profile: days between order date and each line
    item's ship date, summarized per order priority (count, exact-integer
    mean-days via scaled division, max) plus the share shipped within a
    week — the SLA dashboard over a fact-fact temporal join. The join keys
    on orderkey (SF-scaled equi-join, AQE re-plans); all day arithmetic is
    integer epoch-day subtraction."""
    o = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    day = lambda c: F.floor(F.unix_timestamp(c) / 86400).cast("bigint")  # noqa: E731
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        (day("l_shipdate") - day("o_orderdate")).alias("_lat"),
    )
    fr = lambda c_: F.floor(c_ * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        fr(F.sum("_lat").cast("double") / F.count(F.lit(1))).alias(
            "mean_latency_days"
        ),
        F.max("_lat").cast("bigint").alias("max_latency_days"),
        fr(
            F.sum(F.when(F.col("_lat") <= 7, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("within_week_share"),
    )


ORACLE_SHIP_LATENCY_BY_PRIORITY = """
WITH j AS (
  SELECT o_orderpriority,
         CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT)
           - CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS lat
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority, count(*) AS n_lines,
       floor(CAST(sum(lat) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000
         AS mean_latency_days,
       CAST(max(lat) AS BIGINT) AS max_latency_days,
       floor(CAST(sum(CASE WHEN lat <= 7 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 10000 + 0.5) / 10000 AS within_week_share
FROM j GROUP BY o_orderpriority
"""


def q_brand_cooccurrence(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket pair mining: brand pairs bought together in one order,
    with pair count and support (share of all orders) — the frequent-
    itemset 2-ary core. The (order, brand) set is deduped BEFORE the
    self-join, so the join's blowup is bounded by (distinct brands per
    order)², never line items²; brands are a bounded dimension, so the
    pair space is too. Support is one exact-int division."""
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    p = F.broadcast(
        read_table(spark, sf, "part").select("p_partkey", "p_brand")
    )
    ob = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders_together"))
    )
    total = read_table(spark, sf, "orders").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return pairs.crossJoin(F.broadcast(total)).select(
        "brand_a",
        "brand_b",
        "n_orders_together",
        (
            F.floor(
                F.col("n_orders_together").cast("double")
                / F.col("_n")
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("support"),
    )


ORACLE_BRAND_COOCCURRENCE = """
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         count(*) AS n_orders_together
  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
  WHERE a.p_brand < b.p_brand
  GROUP BY 1, 2
), tot AS (SELECT count(*) AS n FROM orders)
SELECT brand_a, brand_b, n_orders_together,
       floor(CAST(n_orders_together AS DOUBLE) / n * 1000000 + 0.5)
         / 1000000 AS support
FROM pairs CROSS JOIN tot
"""


def q_repeat_purchase_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-event time distribution: days between a customer's consecutive
    orders, bucketed into a week-resolution histogram — the recency model
    input behind churn/LTV features. The lag runs per customer over
    (order_date, order_key)-ordered rows; bucket arithmetic is exact
    integer epoch-day subtraction."""
    o = read_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    day = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("bigint")
    gaps = (
        o.withColumn("_d", day)
        .withColumn("_prev", F.lag("_d").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            F.floor((F.col("_d") - F.col("_prev")) / 7).cast("bigint").alias(
                "gap_weeks"
            )
        )
    )
    return gaps.groupBy("gap_weeks").agg(F.count(F.lit(1)).alias("n_gaps"))


ORACLE_REPEAT_PURCHASE_INTERVALS = """
WITH d AS (
  SELECT o_custkey, o_orderkey,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day
  FROM orders
), g AS (
  SELECT CAST(floor((day - lag(day) OVER (
           PARTITION BY o_custkey ORDER BY day, o_orderkey)) / 7.0) AS BIGINT)
           AS gap_weeks
  FROM d
)
SELECT gap_weeks, count(*) AS n_gaps
FROM g WHERE gap_weeks IS NOT NULL
GROUP BY gap_weeks
"""


def q_lang_source_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus composition matrix: per language, the document count from
    each source as pivot columns plus each source's share of the language
    (scaled-integer-rounded exact-int division) — the mixture dashboard
    behind sampling-weight decisions. Explicit source list (no discovery
    pass), one hash-agg."""
    d = read_table(spark, sf, "documents")
    named = ["src0", "src1", "src2", "src3"]
    counts = [
        F.sum(F.when(F.col("source") == s, 1).otherwise(0))
        .cast("bigint")
        .alias(f"n_{s}")
        for s in named
    ] + [
        F.sum(F.when(~F.col("source").isin(named), 1).otherwise(0))
        .cast("bigint")
        .alias("n_other")
    ]
    agg = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"), *counts)
    fr = lambda c_: F.floor(c_ * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    cols = [f"n_{s}" for s in named] + ["n_other"]
    shares = [
        fr(F.col(c).cast("double") / F.col("n_docs")).alias(
            c.replace("n_", "share_", 1)
        )
        for c in cols
    ]
    return agg.select("lang", "n_docs", *[F.col(c) for c in cols], *shares)


def _lang_source_mix_oracle() -> str:
    named = ["src0", "src1", "src2", "src3"]
    cnt = {
        s: f"sum(CASE WHEN source = '{s}' THEN 1 ELSE 0 END)" for s in named
    }
    in_list = ", ".join(f"'{s}'" for s in named)
    cnt["other"] = f"sum(CASE WHEN source NOT IN ({in_list}) THEN 1 ELSE 0 END)"
    cols = ",\n       ".join(
        f"CAST({e} AS BIGINT) AS n_{k},\n       "
        f"floor(CAST({e} AS DOUBLE) / count(*) * 10000 + 0.5) / 10000"
        f" AS share_{k}"
        for k, e in cnt.items()
    )
    return f"SELECT lang, count(*) AS n_docs,\n       {cols}\nFROM documents GROUP BY lang"


ORACLE_LANG_SOURCE_MIX = _lang_source_mix_oracle()


def q_token_mass_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus skew curve: documents ranked by token count (descending,
    doc_id tiebreak) into deciles, with each decile's token mass and the
    cumulative share — 'the top 10% of documents hold X% of the tokens',
    the concentration figure that drives dedup/truncation priorities.
    All integer sums; the two shares are exact-int divisions, scaled-
    integer rounded. The ranking is DISTRIBUTED (`analytic.global_rank`:
    range-partitioned parallel sort + per-partition offsets — no
    Exchange SinglePartition of the corpus; round 3 replaced the global
    ntile window, which single-tasked the sort) and the decile comes from
    the exact integer ntile formula, so the output is bit-identical to
    the window form the oracle uses."""
    d = read_table(spark, sf, "documents")
    toks = d.select(
        "doc_id", token_count("text").cast("bigint").alias("_t")
    )
    ranked = analytic.global_rank(
        toks, [F.col("_t").desc(), F.col("doc_id")], out_col="_rn"
    )
    total_n = ranked.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    tiled = ranked.crossJoin(F.broadcast(total_n)).withColumn(
        "decile",
        analytic.exact_ntile_from_rank(F.col("_rn"), F.col("_n"), 10),
    )
    per = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_t").alias("_mass"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = per.agg(F.sum("_mass").alias("_tot"))
    fr = lambda c_: F.floor(c_ * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        per.withColumn("_cum", F.sum("_mass").over(wc))
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_docs",
            F.col("_mass").cast("bigint").alias("token_mass"),
            fr(F.col("_mass").cast("double") / F.col("_tot")).alias("share"),
            fr(F.col("_cum").cast("double") / F.col("_tot")).alias(
                "cumulative_share"
            ),
        )
    )


ORACLE_TOKEN_MASS_DECILES = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS t
  FROM documents
), tiled AS (
  SELECT t, ntile(10) OVER (ORDER BY t DESC, doc_id) AS decile FROM toks
), per AS (
  SELECT decile, count(*) AS n_docs, sum(t) AS mass FROM tiled GROUP BY decile
), tot AS (SELECT sum(mass) AS tm FROM per)
SELECT decile, n_docs, CAST(mass AS BIGINT) AS token_mass,
       floor(CAST(mass AS DOUBLE) / tm * 1000000 + 0.5) / 1000000 AS share,
       floor(CAST(sum(mass) OVER (ORDER BY decile
                                  ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / tm * 1000000 + 0.5) / 1000000 AS cumulative_share
FROM per CROSS JOIN tot
"""


def q_event_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over event types WITHIN
    sessions: counts and probabilities of each (from → to) consecutive
    pair, with session boundaries from the same interval-compared
    lag-islands rule as `session_paths` (transitions never cross a 30-min
    gap). The probability is one exact-int division per row; one
    user-keyed shuffle serves the islands window, the lead, and feeds the
    tiny (|types|² ≤ 25-row) transition aggregate."""
    e = (
        read_table(spark, sf, "events")
        .select("user_id", "event_id", "ts", "event_type")
        # clock-less events join no session: a NULL ts would rank FIRST in
        # Spark's window order but LAST in the oracle's, silently shifting
        # every session boundary for that user
        .filter(F.col("ts").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        F.col("ts") - F.lag("ts").over(w) >= F.expr("INTERVAL 30 MINUTES"), 1
    ).otherwise(0)
    sid = F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = e.withColumn("_sid", sid)
    ws = Window.partitionBy("user_id", "_sid").orderBy("ts", "event_id")
    pairs = (
        sess.withColumn("_next", F.lead("event_type").over(ws))
        .filter(F.col("_next").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("_next").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wf = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.floor(
                F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(wf).cast("double")
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("p"),
    )


ORACLE_EVENT_TRANSITION_MATRIX = """
WITH e AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN ts - lag(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST)
                  >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events WHERE ts IS NOT NULL  -- clock-less events join no session
), s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
), p AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id NULLS FIRST) AS to_type
  FROM s
), c AS (
  SELECT from_type, to_type, count(*) AS n_transitions
  FROM p WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
       floor(CAST(n_transitions AS DOUBLE)
             / CAST(sum(n_transitions) OVER (PARTITION BY from_type)
                    AS DOUBLE) * 1000000 + 0.5) / 1000000 AS p
FROM c
"""


def q_json_key_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured profiling: key-frequency census of the events.props
    JSON column — how often each key appears, with how many distinct
    values and how many null/missing rows — the discovery pass before
    declaring a schema over loosely-typed JSON. Pure JVM json parsing
    (from_json to map + explode); one hash-agg on the key."""
    e = read_table(spark, sf, "events")
    total = e.agg(F.count(F.lit(1)).alias("_n"))
    kv = e.select(
        F.explode(
            F.from_json(F.col("props"), "map<string,string>")
        ).alias("key", "val")
    )
    return (
        kv.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_present"),
            F.countDistinct("val").alias("n_distinct_values"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_present",
            "n_distinct_values",
            (F.col("_n") - F.col("n_present")).cast("bigint").alias("n_absent"),
        )
    )


ORACLE_JSON_KEY_PROFILE = """
WITH kv AS (
  -- json_valid guard: the engine's PERMISSIVE from_json yields a NULL map
  -- for malformed/NULL props (the row simply has no keys); DuckDB's
  -- json_keys THROWS on malformed input
  SELECT unnest(json_keys(props)) AS key,
         json_extract_string(props, '$.' || unnest(json_keys(props))) AS val
  FROM events WHERE props IS NOT NULL AND json_valid(props)
), tot AS (SELECT count(*) AS n FROM events)
SELECT key, count(*) AS n_present,
       CAST(count(DISTINCT val) AS BIGINT) AS n_distinct_values,
       CAST(min(tot.n) - count(*) AS BIGINT) AS n_absent
FROM kv CROSS JOIN tot
GROUP BY key
"""


def q_frame_sample_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling plan (multimodal §2.D): one row per (media, frame
    timestamp) to decode, expanded purely JVM-side (sequence + explode) —
    documents stand in as media with a deterministic duration (10ms per
    char). Separating the plan from the stubbed decode lets Spark
    repartition the frame workload independently of media file layout;
    the plan itself is exactly SQL-derivable, so the driver proves the
    expansion arithmetic (start/step/cap semantics) end-to-end."""
    d = read_table(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") * 10).cast("bigint").alias("duration_ms"),
    )
    return multimodal.frame_sample_plan(media, every_ms=500)


ORACLE_FRAME_SAMPLE_PLAN = """
SELECT doc_id AS media_id, 500 * i AS frame_ts_ms
FROM documents,
     LATERAL (SELECT unnest(range(0,
         CAST(ceil(greatest(n_chars * 10 - 1, 0) / 500.0) AS BIGINT) + 1))
         AS i)
WHERE 500 * i <= greatest(n_chars * 10 - 1, 0)
"""


def q_corpus_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Source-concentration metrics per language: the Herfindahl index
    (Σ p²) and Gini impurity (1 - Σ p²) of the source mix — the
    data-governance numbers behind 'is this language dominated by one
    crawler'. Entropy is avoided on purpose (ln differs in the last ulp
    across libms); Σ p² is pure arithmetic, with each p² quantized to an
    integer before the cross-source sum so no double summation order
    exists. One (lang, source) hash-agg; everything after runs on
    #langs × #sources rows.
    """
    d = read_table(spark, sf, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("_n"))
    totals = cells.groupBy("lang").agg(F.sum("_n").alias("_t"))
    p = F.col("_n").cast("double") / F.col("_t").cast("double")
    quant = F.floor(p * p * 100000000 + F.lit(0.5)).cast("bigint")
    per_lang = (
        cells.join(F.broadcast(totals), "lang")
        .groupBy("lang")
        .agg(
            F.first("_t").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).alias("n_sources"),
            (F.sum(quant).cast("double") / 100000000).alias("hhi"),
        )
    )
    return per_lang.select(
        "lang", "n_docs", "n_sources", "hhi",
        (1 - F.col("hhi")).alias("gini_impurity"),
    )


ORACLE_CORPUS_CONCENTRATION = """
WITH cells AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
), totals AS (
  SELECT lang, sum(n) AS t FROM cells GROUP BY lang
), q AS (
  SELECT c.lang, t.t,
         CAST(floor((CAST(c.n AS DOUBLE) / t.t) * (CAST(c.n AS DOUBLE) / t.t)
                    * 100000000 + 0.5) AS BIGINT) AS p2
  FROM cells c JOIN totals t ON c.lang = t.lang
)
SELECT lang, CAST(min(t) AS BIGINT) AS n_docs, count(*) AS n_sources,
       CAST(sum(p2) AS DOUBLE) / 100000000 AS hhi,
       1 - CAST(sum(p2) AS DOUBLE) / 100000000 AS gini_impurity
FROM q GROUP BY lang
"""


def q_event_weekday_chisq(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence test: is event type independent of weekday?
    One contingency-table aggregate (5 types × 7 days — bounded), then the
    statistic Σ(O-E)²/E computed per cell from integer marginals and
    summed after scaled-integer quantization, so no double summation
    order exists. Emits the statistic and the cell count (df = (r-1)(c-1)
    is derivable); the p-value lookup is a client-side table, not engine
    work. Scale shape: one hash-agg over events, everything after runs on
    35 rows.
    """
    e = read_table(spark, sf, "events")
    cells = e.groupBy(
        "event_type",
        F.dayofweek(F.col("ts")).alias("_dow"),
    ).agg(F.count(F.lit(1)).alias("_o"))
    rows = cells.groupBy("event_type").agg(F.sum("_o").alias("_rt"))
    colsum = cells.groupBy("_dow").agg(F.sum("_o").alias("_ct"))
    total = cells.agg(F.sum("_o").alias("_n"))
    scored = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(colsum), "_dow")
        .crossJoin(F.broadcast(total))
    )
    expected = (
        F.col("_rt").cast("double")
        * F.col("_ct").cast("double")
        / F.col("_n").cast("double")
    )
    term = (F.col("_o") - expected) * (F.col("_o") - expected) / expected
    quantized = F.floor(term * 1000000 + F.lit(0.5)).cast("bigint")
    return scored.agg(
        (F.sum(quantized).cast("double") / 1000000).alias("chi_square"),
        F.count(F.lit(1)).alias("n_cells"),
        F.first("_n").cast("bigint").alias("n_events"),
    )


ORACLE_EVENT_WEEKDAY_CHISQ = """
WITH cells AS (
  SELECT event_type, dayofweek(ts) + 1 AS dow, count(*) AS o
  FROM events GROUP BY 1, 2
), rows_ AS (
  SELECT event_type, sum(o) AS rt FROM cells GROUP BY event_type
), cols_ AS (
  SELECT dow, sum(o) AS ct FROM cells GROUP BY dow
), tot AS (
  SELECT sum(o) AS n FROM cells
)
SELECT CAST(sum(CAST(floor(
         (c.o - CAST(r.rt AS DOUBLE) * CAST(k.ct AS DOUBLE) / CAST(t.n AS DOUBLE))
       * (c.o - CAST(r.rt AS DOUBLE) * CAST(k.ct AS DOUBLE) / CAST(t.n AS DOUBLE))
       / (CAST(r.rt AS DOUBLE) * CAST(k.ct AS DOUBLE) / CAST(t.n AS DOUBLE))
       * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS chi_square,
       count(*) AS n_cells,
       CAST(min(t.n) AS BIGINT) AS n_events
FROM cells c
JOIN rows_ r ON c.event_type = r.event_type
JOIN cols_ k ON c.dow = k.dow
CROSS JOIN tot t
"""


def q_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish subword tokens per
    whitespace word, and characters per subword token — the multilingual
    tokenizer-efficiency metrics that drive per-language cost estimates
    and vocabulary decisions. Exact integer sums into one double divide
    each (scaled-integer rounded); zero shuffle beyond the per-language
    aggregate."""
    d = read_table(spark, sf, "documents")
    per_doc = d.select(
        "lang",
        token_count("text").cast("bigint").alias("_words"),
        bpe_ish_token_count("text").cast("bigint").alias("_subwords"),
        F.length("text").cast("bigint").alias("_chars"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_words").alias("_w"),
        F.sum("_subwords").alias("_s"),
        F.sum("_chars").alias("_c"),
    )
    fr = lambda c_: F.floor(c_ * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    # try_divide: a language whose docs are all empty/whitespace sums to 0
    # subwords — under ANSI a plain divide would kill the whole job for
    # one degenerate group; NULL is the honest ratio (oracle: nullif).
    return agg.select(
        "lang",
        "n_docs",
        fr(F.try_divide(F.col("_s").cast("double"), F.col("_w"))).alias(
            "fertility"
        ),
        fr(F.try_divide(F.col("_c").cast("double"), F.col("_s"))).alias(
            "chars_per_token"
        ),
    )


ORACLE_TOKENIZER_FERTILITY = """
WITH per_doc AS (
  SELECT lang,
         len(string_split_regex(trim(text), '\\s+')) AS words,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))
           AS subwords,
         length(text) AS chars
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       floor(CAST(sum(subwords) AS DOUBLE) / nullif(sum(words), 0)
             * 10000 + 0.5) / 10000 AS fertility,
       floor(CAST(sum(chars) AS DOUBLE) / nullif(sum(subwords), 0)
             * 10000 + 0.5) / 10000 AS chars_per_token
FROM per_doc GROUP BY lang
"""


def q_dedup_rates_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source duplication report over a doubled corpus (simulated
    re-crawl): total docs, distinct contents, and the duplication rate —
    the per-source health metric a crawl pipeline tracks release over
    release. Contents group on md5(text) (fixed-width shuffle keys); the
    rate is one exact-int divide, scaled-integer rounded."""
    d = read_table(spark, sf, "documents")
    doubled = d.unionByName(d)
    agg = doubled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_distinct",
        (
            F.floor(
                (1 - F.col("n_distinct").cast("double") / F.col("n_docs"))
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("dup_rate"),
    )


ORACLE_DEDUP_RATES_BY_SOURCE = """
WITH doubled AS (
  SELECT * FROM documents UNION ALL SELECT * FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
       floor((1 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*))
             * 10000 + 0.5) / 10000 AS dup_rate
FROM doubled GROUP BY source
"""


def q_nation_revenue_share(spark: SparkSession, sf: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's customer order
    revenue — the windowed contribution analysis pattern (partition-total
    window over an aggregate, never over raw facts). Revenue accumulates
    as exact DECIMAL through BOTH the per-nation aggregate and the window
    total, so the share is one double divide of identical operands.
    """
    o = read_table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = F.broadcast(
        read_table(spark, sf, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
    )
    r = F.broadcast(read_table(spark, sf, "region"))
    per_nation = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            # _quantizable: a bare ANSI cast throws on finite-but-huge
            F.sum(_quantizable("o_totalprice").cast("decimal(20,6)")).alias(
                "_rev_d"
            )
        )
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        F.col("_rev_d").cast("double").alias("revenue"),
        (
            F.floor(
                (
                    F.col("_rev_d").cast("double")
                    / F.sum("_rev_d").over(w).cast("double")
                )
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("region_share"),
    )


ORACLE_NATION_REVENUE_SHARE = """
WITH per_nation AS (
  -- quantizable scrub mirrors the Spark twin's _quantizable guard
  SELECT r_name, n_name,
         sum(CAST(CASE WHEN isfinite(o_totalprice)
                        AND abs(o_totalprice) < 1e14
                       THEN o_totalprice END AS DECIMAL(20,6))) AS rev_d
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name,
       CAST(CAST(rev_d AS VARCHAR) AS DOUBLE) AS revenue,
       floor(CAST(CAST(rev_d AS VARCHAR) AS DOUBLE)
             / CAST(CAST(sum(rev_d) OVER (PARTITION BY r_name) AS VARCHAR)
                    AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS region_share
FROM per_nation
"""


def q_weekly_revenue_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Week-over-week growth: weekly order revenue with the previous week's
    revenue and the growth ratio — the calendar-lag reporting pattern.
    Weeks are integer epoch-weeks; lag runs over the (tiny) weekly
    aggregate ordered by that integer, so a missing week yields NULL
    growth (lag is positional over observed weeks ONLY when weeks are
    dense — the epoch-week integer makes gaps explicit via the emitted
    week number). Growth is one double divide of exact-decimal-derived
    operands through scaled-integer rounding.
    """
    o = read_table(spark, sf, "orders")
    weekly = o.groupBy(
        F.floor(F.unix_timestamp("o_orderdate") / 604800)
        .cast("bigint")
        .alias("epoch_week")
    ).agg(
        # _quantizable: a bare ANSI cast throws on finite-but-huge
        F.sum(_quantizable("o_totalprice").cast("decimal(20,6)")).alias(
            "_rev_d"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # nulls-last EXPLICITLY: a dateless order lands in a NULL week group,
    # and the engines default NULL to opposite ends of the lag order
    w = Window.orderBy(F.col("epoch_week").asc_nulls_last())
    prev = F.lag("_rev_d").over(w)
    prev_week = F.lag("epoch_week").over(w)
    growth = F.when(
        prev_week == F.col("epoch_week") - 1,
        F.floor(
            F.col("_rev_d").cast("double") / prev.cast("double") * 1000000
            + F.lit(0.5)
        )
        / 1000000,
    )
    return weekly.select(
        "epoch_week",
        "n_orders",
        F.col("_rev_d").cast("double").alias("revenue"),
        growth.alias("wow_growth"),
    )


ORACLE_WEEKLY_REVENUE_GROWTH = """
WITH weekly AS (
  -- quantizable scrub mirrors the Spark twin's _quantizable guard
  SELECT CAST(floor(epoch(o_orderdate) / 604800) AS BIGINT) AS epoch_week,
         sum(CAST(CASE WHEN isfinite(o_totalprice)
                        AND abs(o_totalprice) < 1e14
                       THEN o_totalprice END AS DECIMAL(20,6))) AS rev_d,
         count(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT epoch_week, n_orders,
       CAST(CAST(rev_d AS VARCHAR) AS DOUBLE) AS revenue,
       CASE WHEN lag(epoch_week) OVER (ORDER BY epoch_week NULLS LAST)
                 = epoch_week - 1
            THEN floor(CAST(CAST(rev_d AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(lag(rev_d)
                                     OVER (ORDER BY epoch_week NULLS LAST)
                                   AS VARCHAR) AS DOUBLE)
                       * 1000000 + 0.5) / 1000000
       END AS wow_growth
FROM weekly
"""


def q_embedding_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding drift monitor: squared-L2 distance between the per-label
    centroids of two deterministic halves of the corpus (md5-split by
    vec_id — a stand-in for 'last week vs this week') — the model/data
    drift check an embedding pipeline runs per batch.

    Determinism chain: per-(label, half, dim) component sums are exact
    DECIMAL; means divide by integer counts (identical doubles); each
    squared mean-difference is quantized to an INTEGER (floor(d²·1e8+0.5))
    before the cross-dimension sum, so the final reduction is exact integer
    math — no double summation order anywhere. Scale shape: one explode +
    hash-agg on (label, dim) — the same map-side-combinable form as
    embedding_centroids — then a #labels×#dims-row join and a tiny final
    aggregate.
    """
    emb = read_table(spark, sf, "embeddings")
    half = F.when(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1), 16, 10)
        .cast("int")
        % 2
        == 0,
        "a",
    ).otherwise("b")
    exploded = _finite_vectors(emb).select(
        "label",
        half.alias("_h"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    sums = exploded.groupBy("label", "_h", "pos").agg(
        F.sum(F.col("val").cast("decimal(20,6)")).cast("double").alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    a = sums.filter(F.col("_h") == "a").select(
        "label", "pos", (F.col("_s") / F.col("_n")).alias("_ma"),
        F.col("_n").alias("_na"),
    )
    b = sums.filter(F.col("_h") == "b").select(
        "label", "pos", (F.col("_s") / F.col("_n")).alias("_mb"),
        F.col("_n").alias("_nb"),
    )
    d2 = a.join(b, ["label", "pos"]).select(
        "label",
        "_na",
        "_nb",
        F.floor(
            (F.col("_ma") - F.col("_mb")) * (F.col("_ma") - F.col("_mb"))
            * 100000000
            + F.lit(0.5)
        ).cast("bigint").alias("_d2s"),
    )
    return d2.groupBy("label").agg(
        F.first("_na").alias("n_half_a"),
        F.first("_nb").alias("n_half_b"),
        (F.sum("_d2s").cast("double") / 100000000).alias("l2sq_drift"),
    )


ORACLE_EMBEDDING_DRIFT = f"""
WITH e AS (
  SELECT label,
         CASE WHEN (strpos('0123456789abcdef',
                    substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0
              THEN 'a' ELSE 'b' END AS h,
         CAST(embedding[i + 1] AS DOUBLE) AS val,
         i AS pos
  FROM embeddings, range(0, 64) t(i)
  -- usable vectors only (the Spark twin's _finite_vectors contract)
  WHERE {_SQL_FINITE_VEC}
), sums AS (
  SELECT label, h, pos,
         CAST(sum(CAST(val AS DECIMAL(20,6))) AS DOUBLE) AS s,
         count(*) AS n
  FROM e GROUP BY label, h, pos
), m AS (
  SELECT a.label, a.pos, a.s / a.n AS ma, b.s / b.n AS mb,
         a.n AS na, b.n AS nb
  FROM sums a JOIN sums b ON a.label = b.label AND a.pos = b.pos
  WHERE a.h = 'a' AND b.h = 'b'
)
SELECT label, CAST(min(na) AS BIGINT) AS n_half_a,
       CAST(min(nb) AS BIGINT) AS n_half_b,
       CAST(sum(CAST(floor((ma - mb) * (ma - mb) * 100000000 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 100000000 AS l2sq_drift
FROM m GROUP BY label
"""


def q_price_trend_per_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Group-wise least-squares trend: the OLS slope and intercept of order
    value over order date (epoch days), per market segment — closed-form
    regression from five exact sums, no ML library and no iteration.

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx); all five accumulators are
    exact DECIMAL aggregates over integers/decimals (order-independent),
    cast to double once, so both engines evaluate the identical
    double-arithmetic expression — emitted through scaled-integer rounding.
    One shuffle (the groupBy); this is the map-side-combinable form every
    'per-key regression' at 100 TB reduces to.
    """
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_mktsegment",
            F.floor(F.unix_timestamp("o_orderdate") / 86400)
            .cast("decimal(20,0)")
            .alias("_x"),
            # _quantizable: NaN/Inf/out-of-decimal-domain prices are
            # failed measurements, not data points (a bare ANSI cast
            # would THROW on a finite 1e300)
            _quantizable("o_totalprice").cast("decimal(20,6)").alias("_y"),
        )
        # regression is defined over COMPLETE pairs: a dateless or
        # priceless order would inflate n while feeding no moment sum
        .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    )
    agg = j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").cast("double").alias("_sx"),
        F.sum("_y").cast("double").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("double").alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).cast("double").alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    slope = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    fr = lambda c_: F.floor(c_ * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return agg.select(
        "c_mktsegment",
        "_n",
        fr(slope).alias("slope_per_day"),
        fr(intercept).alias("intercept"),
    ).withColumnRenamed("_n", "n_orders")


ORACLE_PRICE_TREND_PER_SEGMENT = """
WITH j AS (
  -- quantizable scrub mirrors the Spark twin's _quantizable guard;
  -- complete pairs only (see the Spark twin)
  SELECT c_mktsegment,
         CAST(floor(epoch(o_orderdate) / 86400) AS DECIMAL(20,0)) AS x,
         CAST(CASE WHEN isfinite(o_totalprice)
                    AND abs(o_totalprice) < 1e14
                   THEN o_totalprice END AS DECIMAL(20,6)) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    AND isfinite(o_totalprice) AND abs(o_totalprice) < 1e14
), agg AS (
  SELECT c_mktsegment, count(*) AS n,
         CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(sum(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(sum(x * y) AS VARCHAR) AS DOUBLE) AS sxy
  FROM j GROUP BY c_mktsegment
)
SELECT c_mktsegment, n AS n_orders,
       floor((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx) * 10000 + 0.5) / 10000
         AS slope_per_day,
       floor((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS intercept
FROM agg
"""


def q_bitext_mining(spark: SparkSession, sf: str) -> DataFrame:
    """Parallel-corpus mining: for every German document, the single
    nearest English document by embedding cosine — the LASER/CCMatrix-style
    bitext alignment step, composed from the documents⋈embeddings join and
    the exact ANN operator. Exact top-1 here (queries broadcast, corpus
    never shuffles); at 100 TB the discovery pass routes through the
    IVF/LSH paths with identical output semantics and this exact form
    becomes the per-bucket verifier.
    """
    d = read_table(spark, sf, "documents").select("doc_id", "lang")
    e = read_table(spark, sf, "embeddings").select("vec_id", "embedding")
    de = (
        d.filter(F.col("lang") == "de")
        .join(e, F.col("doc_id") == F.col("vec_id"))
        .select(F.col("doc_id").alias("q_id"), "embedding")
    )
    en = (
        d.filter(F.col("lang") == "en")
        .join(e, F.col("doc_id") == F.col("vec_id"))
        .select(F.col("doc_id").alias("vec_id"), "embedding")
    )
    return similarity.ann_cosine_topk(en, de, k=1).select(
        F.col("q_id").alias("de_doc"),
        F.col("neighbor_id").alias("en_doc"),
        "sim",
    )


ORACLE_BITEXT_MINING = f"""
WITH de AS (
  -- usable nonzero-norm vectors only, both sides (the exact-ANN
  -- scorability contract): this oracle held only by data luck until
  -- the all-NULL-payload probe NULL'ed every embedding
  SELECT d.doc_id AS q_id, CAST(e.embedding AS DOUBLE[]) AS qv
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.lang = 'de' AND {_sql_finite_vec("e.embedding")}
    AND {_sql_nonzero_vec("e.embedding")}
), en AS (
  SELECT d.doc_id AS nid, CAST(e.embedding AS DOUBLE[]) AS cv
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.lang = 'en' AND {_sql_finite_vec("e.embedding")}
    AND {_sql_nonzero_vec("e.embedding")}
), s AS (
  SELECT de.q_id, en.nid,
         list_cosine_similarity(en.cv, de.qv) AS sim_raw,
         row_number() OVER (PARTITION BY de.q_id
                            ORDER BY list_cosine_similarity(en.cv, de.qv)
                                     DESC, en.nid) AS rn
  FROM de CROSS JOIN en
)
SELECT q_id AS de_doc, nid AS en_doc, round(sim_raw, 4) AS sim
FROM s WHERE rn = 1
"""


def q_calibrated_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source score calibration: map each document's heuristic
    quality score to its percent-rank WITHIN its source, so thresholds
    mean the same thing across heterogeneously-scored sources (the
    standard fix before mixing corpora with one global quality cutoff).

    percent_rank = (rank-1)/(n-1) is exact integer arithmetic into one
    double divide; the rank ties on the raw score exactly like the oracle
    (rank(), not row_number(), so equal scores calibrate equally).
    Scale shape: one shuffle on source, one within-source sort — and the
    emitted score itself is scaled-integer to dodge decimal-tie rounding.
    """
    d = read_table(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        "source",
        # scaled-integer quality score (exact in both engines; see
        # functions.text.quality_score for the raw expression)
        (
            F.floor(quality_score("text") * 10000 + F.lit(0.5)) / 10000
        ).alias("q"),
    )
    # NULLS LAST (Spark defaults NULLS FIRST ascending, DuckDB LAST), and
    # an un-scorable doc (NULL text → NULL q) gets a NULL calibration —
    # ranking it anywhere would assert a quality it doesn't have
    w = Window.partitionBy("source").orderBy(F.col("q").asc_nulls_last())
    return scored.select(
        "doc_id",
        "source",
        "q",
        F.when(
            F.col("q").isNotNull(), F.percent_rank().over(w)
        ).alias("calibrated"),
    )


ORACLE_CALIBRATED_QUALITY_SCORES = """
WITH t AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, source,
         floor((0.5 * (CAST(len(list_filter(toks, x -> translate(x, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') IN
                  ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
                / len(toks))
           + 0.5 * (CASE WHEN len(toks) BETWEEN 20 AND 1000
                         THEN 1.0 ELSE 0.0 END))
             * 10000 + 0.5) / 10000 AS q
  FROM t
)
SELECT doc_id, source, q,
       CASE WHEN q IS NULL THEN NULL
            ELSE percent_rank() OVER (PARTITION BY source
                                      ORDER BY q NULLS LAST)
       END AS calibrated
FROM scored
"""


def q_hourly_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series anomaly detection: flag hours whose event count deviates
    from the trailing-24h mean by more than 3 sigma, per event type — the
    batch rendition of a streaming monitor. The trailing window is a RANGE
    frame over the integer epoch-hour index (not 24 ROWS — row frames
    silently shrink the lookback across gaps), excludes the current hour,
    and requires >= 12 observed hours before judging.

    Determinism: counts are integers; mean/variance derive from exact
    integer sums with the identical expression shape in both engines, and
    the 3-sigma test compares (x-mean)^2 > 9*var — no square root, no
    rounding step. Scale shape: one tumbling aggregate (map-side partials)
    then a per-key window over #hours rows, never raw events.
    """
    e = read_table(spark, sf, "events")
    hourly = timeseries.hourly_counts(e, "ts", ["event_type"])
    return timeseries.anomaly_flags(hourly, ["event_type"])


ORACLE_HOURLY_ANOMALIES = """
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hb,
         count(*) AS n
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, hb, n,
         count(*) OVER tw AS k,
         sum(n) OVER tw AS s,
         sum(n * n) OVER tw AS ss
  FROM hourly
  WINDOW tw AS (PARTITION BY event_type ORDER BY hb
                RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type,
       strftime(to_timestamp(hb * 3600), '%Y-%m-%d %H:%M:%S') AS hour_start,
       CAST(n AS BIGINT) AS n_events,
       CAST(k AS BIGINT) AS n_lookback_hours,
       CASE WHEN k >= 12
             AND (n - CAST(s AS DOUBLE) / k) * (n - CAST(s AS DOUBLE) / k)
                 > 9 * (CAST(ss AS DOUBLE) / k
                        - (CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k))
            THEN TRUE ELSE FALSE END AS is_anomaly
FROM stats
"""


def q_nations_covering_all_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Relational DIVISION (the one classic operator the rest of the
    surface lacks): nations whose customers span EVERY market segment,
    via the count-distinct formulation — group the dividend by the
    candidate key, keep groups whose distinct-divisor count equals the
    divisor's cardinality (a one-row broadcast). No NOT EXISTS double
    negation, one shuffle on the group key."""
    c = read_table(spark, sf, "customer").select("c_nationkey", "c_mktsegment")
    n = read_table(spark, sf, "nation")
    total = c.agg(
        F.countDistinct("c_mktsegment").alias("_n_segments")
    )
    per_nation = c.groupBy("c_nationkey").agg(
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    return (
        per_nation.crossJoin(F.broadcast(total))
        .filter(F.col("n_segments") == F.col("_n_segments"))
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .select("n_name", "n_segments", "n_customers")
    )


ORACLE_NATIONS_COVERING_ALL_SEGMENTS = """
-- Group by the KEY first, decode the name after — the engine's
-- aggregate-then-broadcast-decode order. Joining nation BEFORE the
-- aggregate double-counts customers whenever a nation row is duplicated
-- (round-10 row-duplication fixture): the decode join must multiply
-- result ROWS (data-faithful fan-out), never the counts inside them.
WITH per AS (
  SELECT c_nationkey,
         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
         count(*) AS n_customers
  FROM customer
  GROUP BY c_nationkey
  HAVING count(DISTINCT c_mktsegment) =
         (SELECT count(DISTINCT c_mktsegment) FROM customer)
)
SELECT n_name, n_segments, n_customers
FROM per JOIN nation ON c_nationkey = n_nationkey
"""


def q_pivot_event_multi_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Long→wide pivot carrying MULTIPLE aggregates per pivot value (count
    and rounded sum per event type) — Spark suffixes the agg alias onto
    each pivot column (click_n, click_total, ...), still one hash-agg pass
    with the explicit value list (no discovery pass)."""
    e = read_table(spark, sf, "events")
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )
    # pivot leaves ABSENT cells NULL even for count aggregates; SQL's
    # count(CASE ...) says 0. Invisible when every user has every type —
    # a sparse user (dirty/new traffic) flips the hash. Sums stay NULL
    # (sum over no rows is NULL in both engines).
    return wide.select(
        "user_id",
        *[
            c
            for t in EVENT_TYPES
            for c in (
                F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"{t}_n"),
                F.col(f"{t}_total"),
            )
        ],
    )


def _pivot_multi_oracle() -> str:
    cols = ",\n       ".join(
        f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
        f" AS {t}_n,\n       "
        f"round(sum(CASE WHEN event_type = '{t}' THEN value END), 2)"
        f" AS {t}_total"
        for t in EVENT_TYPES
    )
    return f"SELECT user_id,\n       {cols}\nFROM events GROUP BY user_id"


ORACLE_PIVOT_EVENT_MULTI_AGG = _pivot_multi_oracle()


def q_vocab_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary mining: the 100 whitespace tokens with the highest
    document frequency, rank made total by (df DESC, token) so the cutoff
    is deterministic. The Spark plan is a distinct-explode + hash-agg +
    TakeOrderedAndProject — no global sort materializes the vocabulary."""
    d = read_table(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        # ASCII fold, not lower(): these tokens land in compared output
        # (see text.ascii_fold_sql — Unicode case mapping is engine-divergent)
        F.expr(f"explode({tokens_sql(ascii_fold_sql('text'))}) AS tok"),
    ).distinct()
    df_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return df_counts.orderBy(F.col("df").desc(), "tok").limit(100)


ORACLE_VOCAB_TOP_TERMS = f"""
SELECT tok, count(*) AS df
FROM (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(trim({ascii_fold_sql("text")}),
                                   '\\s+')) AS tok
  FROM documents
)
GROUP BY tok
ORDER BY df DESC, tok
LIMIT 100
"""


def q_snapshot_diff_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot change detection (the inspection half of S19/Q10's
    incremental upsert): classify every order key across two dated
    snapshots as added / removed / changed / unchanged and count each
    class per order status. The 'new' snapshot is derived deterministically
    from orders itself (md5-picked ~10% of keys dropped, a disjoint ~10%
    repriced, one synthetic key added) so the diff is reproducible in SQL.

    Scale shape: full outer join on the key — one co-partitioned shuffle
    per side — then change classification as a row-level CASE on the
    joined columns and a tiny class/status aggregate. Value comparison
    uses the raw (unmodified vs modified) doubles, exact by construction.
    """
    o = read_table(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        # NaN -> NULL up front: a failed price measurement must compare as
        # 'missing' in BOTH snapshots, not trip engine-specific NaN
        # equality (Spark NaN = NaN is true, DuckDB columns follow IEEE)
        _nan_null("o_totalprice").alias("o_totalprice"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2), 16, 10)
        .cast("int"),
        F.lit(10),
    )
    new = (
        o.withColumn("_b", bucket)
        .filter(F.col("_b") != 0)  # bucket 0 -> removed rows
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("_b") == 1, F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")),  # bucket 1 -> changed rows
        )
        .drop("_b")
        .unionByName(
            spark.createDataFrame(
                [(-1, "F", 1.0)],
                "o_orderkey long, o_orderstatus string, o_totalprice double",
            )
        )
    )
    old_k = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("_os_old"),
        F.col("o_totalprice").alias("_tp_old"),
        F.lit(True).alias("_in_old"),
    )
    new_k = new.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("_os_new"),
        F.col("o_totalprice").alias("_tp_new"),
        F.lit(True).alias("_in_new"),
    )
    # presence flags, NOT value-NULL probes: a real order with a NULL price
    # exists in both snapshots — keying 'added'/'removed' off the price
    # column would misclassify it. 'changed' compares null-safe (after the
    # NaN scrub, <=> treats missing = missing).
    classified = old_k.join(new_k, "k", "full_outer").select(
        F.coalesce("_os_new", "_os_old").alias("o_orderstatus"),
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(~F.col("_tp_new").eqNullSafe(F.col("_tp_old")), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )
    return classified.groupBy("o_orderstatus", "change").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


ORACLE_SNAPSHOT_DIFF_ORDERS = """
WITH b AS (
  -- non-finite scrub mirrors the Spark twin's _nan_null (NaN AND ±Inf
  -- normalize to NULL; Inf would only coincide by Inf*2 = Inf otherwise)
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN NOT isfinite(o_totalprice) THEN NULL ELSE o_totalprice
           END AS o_totalprice,
         ((strpos('0123456789abcdef',
                  substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
        + (strpos('0123456789abcdef',
                  substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)) % 10
           AS bk
  FROM orders
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN bk = 1 THEN o_totalprice * 2 ELSE o_totalprice END
           AS o_totalprice
  FROM b WHERE bk <> 0
  UNION ALL SELECT -1, 'F', 1.0
), j AS (
  -- IS DISTINCT FROM mirrors the Spark twin's null-safe <=> compare (the
  -- NaN scrub in b already normalized NaN to NULL on both snapshots)
  SELECT COALESCE(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN n.o_totalprice IS DISTINCT FROM o.o_totalprice
                THEN 'changed'
              ELSE 'unchanged' END AS change
  FROM b o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderstatus, change, count(*) AS n_orders
FROM j GROUP BY o_orderstatus, change
"""


def q_robust_price_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Robust dispersion statistics per return flag: discrete median, IQR
    (p75 - p25), MAD (median absolute deviation) and the count of
    |x - median| > 3*MAD outliers — the outlier-gate feature set a data-
    cleaning pipeline computes before clipping. All quantiles are DISCRETE
    rank selections (actual data values, see q_price_percentiles — no
    interpolation, so no cross-engine rounding ties), and the deviation /
    threshold arithmetic is exact IEEE on identical doubles.

    Scale shape: two ranked window passes (values, then deviations) plus
    one conditional count, each partitioned by the group key; the tiny
    per-group stats broadcast back between passes. Exact per-group
    quantiles inherently sort each group — the approx_* sketch queries are
    the 100 TB discovery path; this is the exact verification form.
    """
    li = (
        read_table(spark, sf, "lineitem")
        .select(
            "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
        )
        # a NULL/NaN price is not a rankable observation: unfiltered, the
        # engines would rank the NULL on opposite ends and shift every
        # quantile pick in its group by one
        .filter(_nan_null("l_extendedprice").isNotNull())
    )

    def disc_pick(df, val: str, order_cols, picks):
        w = Window.partitionBy("l_returnflag").orderBy(val, *order_cols)
        n = F.count(F.lit(1)).over(Window.partitionBy("l_returnflag"))
        ranked = df.select(
            "l_returnflag",
            F.col(val).alias("_v"),
            F.row_number().over(w).alias("_rn"),
            n.alias("_n"),
        )
        return ranked.groupBy("l_returnflag").agg(
            *[
                F.max(
                    F.when(
                        F.col("_rn") == F.ceil(F.col("_n") * p).cast("int"),
                        F.col("_v"),
                    )
                ).alias(alias)
                for p, alias in picks
            ]
        )

    quarts = disc_pick(
        li,
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        [(0.25, "_p25"), (0.5, "median_price"), (0.75, "_p75")],
    )
    with_dev = li.join(F.broadcast(quarts), "l_returnflag").withColumn(
        "_dev", F.abs(F.col("l_extendedprice") - F.col("median_price"))
    )
    mad = disc_pick(
        with_dev, "_dev", ["l_orderkey", "l_linenumber"], [(0.5, "mad")]
    )
    outliers = (
        with_dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                F.when(F.col("_dev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers")
        )
    )
    return (
        quarts.join(mad, "l_returnflag")
        .join(outliers, "l_returnflag")
        .select(
            "l_returnflag",
            "median_price",
            (F.col("_p75") - F.col("_p25")).alias("iqr"),
            "mad",
            "n_outliers",
        )
    )


ORACLE_ROBUST_PRICE_STATS = """
WITH obs AS (
  -- NULL/NaN prices are not rankable observations (see the Spark twin)
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)
), ranked AS (
  SELECT l_returnflag, l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey,
                                     l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM obs
), quarts AS (
  SELECT l_returnflag,
         max(CASE WHEN rn = CAST(ceil(n * 0.25) AS INT) THEN v END) AS p25,
         max(CASE WHEN rn = CAST(ceil(n * 0.5) AS INT) THEN v END) AS median_price,
         max(CASE WHEN rn = CAST(ceil(n * 0.75) AS INT) THEN v END) AS p75
  FROM ranked GROUP BY l_returnflag
), dev AS (
  SELECT li.l_returnflag, abs(li.l_extendedprice - q.median_price) AS d,
         li.l_orderkey, li.l_linenumber
  FROM obs li JOIN quarts q ON li.l_returnflag = q.l_returnflag
), dev_ranked AS (
  SELECT l_returnflag, d,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY d, l_orderkey, l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM dev
), mad AS (
  SELECT l_returnflag,
         max(CASE WHEN rn = CAST(ceil(n * 0.5) AS INT) THEN d END) AS mad
  FROM dev_ranked GROUP BY l_returnflag
)
SELECT q.l_returnflag, q.median_price, q.p75 - q.p25 AS iqr, m.mad,
       (SELECT CAST(sum(CASE WHEN d.d > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        FROM dev d WHERE d.l_returnflag = q.l_returnflag) AS n_outliers
FROM quarts q JOIN mad m ON q.l_returnflag = m.l_returnflag
"""


def q_session_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionized path analysis: the first five event types of every
    30-minute-gap user session concatenated into a path string ('view >
    click > purchase'), counted across sessions — the clickstream-mining
    rendition of the session window. Session boundaries use the same
    lag-islands rule as the session-window oracle, and the within-session
    order is made total by (ts, event_id), so the paths are deterministic.

    Scale shape: one shuffle on user_id serves both the islands window and
    the per-session ordering; the per-session state is one bounded
    struct-array (capped at 5 by slice); the final count shuffles only
    distinct path strings.
    """
    e = (
        read_table(spark, sf, "events")
        .select("user_id", "event_id", "ts", "event_type")
        # clock-less events join no session (NULL ts sorts FIRST in Spark
        # windows, LAST in the oracle's — and belongs in neither place)
        .filter(F.col("ts").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval comparison (not unix_timestamp, which truncates to whole
    # seconds while the oracle's epoch() keeps fractions — sub-second
    # event times exist at sf0.1)
    new_s = F.when(
        F.col("ts") - F.lag("ts").over(w) >= F.expr("INTERVAL 30 MINUTES"),
        1,
    ).otherwise(0)
    sid = F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = e.withColumn("_sid", sid)
    paths = (
        sess.groupBy("user_id", "_sid")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("_evs")
        )
        .select(
            F.concat_ws(
                " > ",
                F.transform(
                    F.slice(F.col("_evs"), 1, 5), lambda s: s["event_type"]
                ),
            ).alias("path")
        )
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))


ORACLE_SESSION_PATHS = """
WITH e AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN ts - lag(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST)
                  >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events WHERE ts IS NOT NULL
), s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
), r AS (
  -- event_type joins the order: the Spark side's sort_array over
  -- (ts, event_id, event_type) structs is total, and a replayed batch
  -- can carry a conflicting payload at the same (ts, event_id) — the
  -- (ts, event_id)-only order here was tie-lucky (round-7b probe).
  -- NULLS FIRST mirrors Spark's struct sort (NULL field = smallest).
  SELECT *, row_number() OVER (PARTITION BY user_id, sid
                               ORDER BY ts, event_id NULLS FIRST,
                                        event_type NULLS FIRST) AS rn
  FROM s
), p AS (
  SELECT string_agg(event_type, ' > '
                    ORDER BY ts, event_id NULLS FIRST, event_type NULLS FIRST) AS path
  FROM r WHERE rn <= 5 GROUP BY user_id, sid
)
SELECT path, count(*) AS n_sessions FROM p GROUP BY path
"""


def q_event_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel analysis: users who viewed, then clicked AFTER their
    first view, then purchased AFTER that click — the sequencing constraint
    (each stage strictly later than the previous stage's first completion)
    is what separates a funnel from three independent filters.

    Scale shape: three conditional min-aggregates over events, each keyed
    on user_id (map-side partial min, shuffle = #users rows), chained by
    user-keyed joins — no window over the whole event stream, no
    per-user event materialization.
    """
    e = read_table(spark, sf, "events").select("user_id", "event_type", "ts")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("_tv")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("_tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("_tc"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("_tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("_tp"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click")))
    )


ORACLE_EVENT_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS tv FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS tc
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.tv
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS tp
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.tc
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS n_viewed,
       (SELECT count(*) FROM c) AS n_clicked_after_view,
       (SELECT count(*) FROM p) AS n_purchased_after_click
"""


def q_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, distinct active
    users per (cohort_week, weeks_since) — the standard retention triangle.
    Weeks are integer epoch-week numbers (floor(epoch/604800)), so every
    bucket boundary is exact integer arithmetic in both engines.

    Scale shape: one min-aggregate for first-seen (shuffle = #users), one
    user-keyed join back, one distinct-count aggregate on (cohort, offset)
    — events never sort globally.
    """
    e = read_table(spark, sf, "events").select("user_id", "ts")
    wk = lambda c: F.floor(F.unix_timestamp(c) / 604800).cast("bigint")  # noqa: E731
    first = e.groupBy("user_id").agg(F.min("ts").alias("_first_ts"))
    joined = e.join(first, "user_id").select(
        "user_id",
        wk(F.col("_first_ts")).alias("cohort_week"),
        (wk(F.col("ts")) - wk(F.col("_first_ts"))).alias("weeks_since"),
    )
    return joined.groupBy("cohort_week", "weeks_since").agg(
        F.countDistinct("user_id").alias("n_active_users")
    )


ORACLE_RETENTION_COHORTS = """
WITH first AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT CAST(floor(epoch(first_ts) / 604800) AS BIGINT) AS cohort_week,
       CAST(floor(epoch(e.ts) / 604800)
            - floor(epoch(first_ts) / 604800) AS BIGINT) AS weeks_since,
       count(DISTINCT e.user_id) AS n_active_users
FROM events e JOIN first ON e.user_id = first.user_id
GROUP BY 1, 2
"""


def q_matryoshka_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka-style embedding truncation + re-normalization
    (`functions.vectors.truncate_dims` / `l2_normalize`): keep the first 16
    of 64 dims and unit-normalize the head — the 4x storage/compute lever
    MRL-trained models are built for. All values go through the
    cross-engine-safe floor(x*1e4 + 0.5)/1e4 rounding (floor of identical
    doubles is exact; round() would let the engines' decimal-tie behavior
    diverge). The head vector is emitted as a comma-joined string of
    scaled-integer (1e4) components, not a raw array: the driver's
    value-hasher only handles atomic top-level columns, and integer
    strings sidestep double-to-string formatting divergence between
    engines. Zero shuffle: pure per-row JVM folds."""
    from statline_bq_spark.functions import vectors

    # the head slice is projected once, then normed and normalized by name
    emb = read_table(spark, sf, "embeddings").select(
        "vec_id",
        "embedding",
        vectors.truncate_dims("embedding", 16).alias("_head"),
    )
    fr = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    # A non-finite component IN THE HEAD makes the row un-normalizable
    # (NaN poisons the norm, and Spark's NaN > 0 is TRUE while DuckDB's
    # is IEEE false — the guard must fire before the norm comparison);
    # components beyond the head don't matter to a matryoshka consumer.
    head_ok = ~F.exists(
        "_head", lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    return emb.select(
        "vec_id",
        # safe_size: legacy (ANSI-off) sessions read size(NULL) as -1
        safe_size("embedding").alias("full_dim"),
        fr(F.when(head_ok, vectors.l2_norm("_head"))).alias("head_norm"),
        # Un-normalizable rows (NULL embedding, zero-norm or non-finite
        # head) emit a NULL head_unit, not '': concat_ws silently drops
        # the all-NULL transform elements, which would disguise a dirty
        # row as an empty-but-present vector (and diverge from the
        # oracle's NULL).
        F.when(
            head_ok & (vectors.l2_norm("_head") > 0),
            F.concat_ws(
                ",",
                F.transform(
                    vectors.l2_normalize("_head"),
                    lambda x: F.floor(x * 10000 + F.lit(0.5))
                    .cast("bigint")
                    .cast("string"),
                ),
            ),
        ).alias("head_unit"),
    )


ORACLE_MATRYOSHKA_EMBEDDINGS = """
WITH h AS (
  SELECT vec_id, len(embedding) AS full_dim,
         list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS hd
  FROM embeddings
), n AS (
  -- nrm NULL for a non-finite or NULL-component head (the Spark twin's
  -- head_ok guard; the length-equality form rejects NULL components —
  -- NOT isfinite(NULL) is NULL, never TRUE); x / NULL then NULLs every
  -- element and array_to_string over all-NULLs follows to NULL. The dot
  -- product runs over COALESCED components: DuckDB's list_inner_product
  -- raises on a NULL component even under a false CASE branch (eager
  -- vectorized evaluation when hd is also projected), so the guarded
  -- branch must be crash-free on every row — the 0.0 stand-ins are
  -- discarded by the CASE, never emitted
  SELECT vec_id, full_dim, hd,
         CASE WHEN len(hd) = len(list_filter(hd, x -> isfinite(x)))
              THEN sqrt(list_dot_product(
                     list_transform(hd, x -> coalesce(x, 0.0)),
                     list_transform(hd, x -> coalesce(x, 0.0)))) END AS nrm
  FROM h
)
SELECT vec_id, CAST(full_dim AS INT) AS full_dim,
       floor(nrm * 10000 + 0.5) / 10000 AS head_norm,
       array_to_string(
         list_transform(hd,
           x -> CAST(CAST(floor(x / nrm * 10000 + 0.5) AS BIGINT) AS VARCHAR)),
         ',') AS head_unit
FROM n
"""


def q_script_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode script detection (north-star text analysis): per-document
    character counts for Latin/Cyrillic/CJK/digit ranges plus the dominant
    script — the writing-system filter that runs before language ID in a
    multilingual corpus pipeline. Pure JVM regexp over literal codepoint
    ranges (`functions.text.SCRIPT_RANGES`), shared verbatim with the
    oracle so Java-regex and RE2 evaluate the same class."""
    from statline_bq_spark.functions import text as text_fns

    d = read_table(spark, sf, "documents")
    # SQL-text form (round 12): identical trees, one round trip per column
    cnt = text_fns.script_char_count_sql
    return d.selectExpr(
        "doc_id",
        "length(text) AS n_chars_text",
        f"{cnt('text', 'latin')} AS latin_chars",
        f"{cnt('text', 'cyrillic')} AS cyrillic_chars",
        f"{cnt('text', 'cjk')} AS cjk_chars",
        f"{cnt('text', 'digit')} AS digit_chars",
        f"{text_fns.dominant_script_sql('text')} AS dominant_script",
    )


def _script_stats_oracle() -> str:
    from statline_bq_spark.functions.text import SCRIPT_RANGES as R

    def cnt(s: str) -> str:
        return f"length(regexp_replace(text, '[^{R[s]}]', '', 'g'))"

    scripts = [s for s in R if s != "digit"]
    best = "greatest(" + ", ".join(cnt(s) for s in scripts) + ")"
    case = "CASE " + " ".join(
        f"WHEN {cnt(s)} = {best} AND {best} > 0 THEN '{s}'" for s in scripts
    ) + " ELSE 'none' END"
    return f"""
SELECT doc_id, length(text) AS n_chars_text,
       CAST({cnt('latin')} AS BIGINT) AS latin_chars,
       CAST({cnt('cyrillic')} AS BIGINT) AS cyrillic_chars,
       CAST({cnt('cjk')} AS BIGINT) AS cjk_chars,
       CAST({cnt('digit')} AS BIGINT) AS digit_chars,
       {case} AS dominant_script
FROM documents
"""


ORACLE_SCRIPT_STATS = _script_stats_oracle()


def q_dynamic_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows with a DYNAMIC per-row gap (Spark's dynamic gap
    duration): clicks time out after 10 minutes, purchases after 1 hour,
    everything else after 30 minutes. Keyed on (user_id, event_type) the
    gap is constant within each session chain, so a lag-based islands
    oracle reproduces the merge exactly."""
    e = read_table(spark, sf, "events")
    gap = (
        F.when(F.col("event_type") == "click", "10 minutes")
        .when(F.col("event_type") == "purchase", "1 hour")
        .otherwise("30 minutes")
    )
    return timeseries.session_agg(
        e,
        "ts",
        gap,
        ["user_id", "event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    )


ORACLE_DYNAMIC_SESSION_WINDOWS = """
-- Islands over DISTINCT (user, type, ts), rows joined back — see
-- ORACLE_SESSION_WINDOWS for the strict-> merge and why distinct-ts:
-- full-row duplicates (round-10 duplication fixture) tie on every
-- column, and this twin diverged for real there (a twin of a
-- session-opening row sorted BEFORE the boundary flag in the cumulative
-- pass and was stranded in the previous session). The earlier
-- (ts, event_id) tiebreak — itself a live round-7b find when a ts-only
-- scan merged a 347-year-separated click into the 1677 session — is
-- subsumed: distinct timestamps cannot tie.
WITH d AS (
  SELECT DISTINCT user_id, event_type, ts
  FROM events WHERE ts IS NOT NULL  -- clock-less events join no session
), b AS (
  SELECT user_id, event_type, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts)
                   > CASE event_type
                        WHEN 'click' THEN INTERVAL '10 minutes'
                        WHEN 'purchase' THEN INTERVAL '1 hour'
                        ELSE INTERVAL '30 minutes' END
              THEN 1 ELSE 0 END AS new_s
  FROM d
), s AS (
  SELECT user_id, event_type, ts,
         sum(new_s) OVER (PARTITION BY user_id, event_type ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM b
)
SELECT e.user_id, e.event_type,
       strftime(min(e.ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events, round(sum(e.value), 2) AS total_value
FROM events e
JOIN s ON s.user_id IS NOT DISTINCT FROM e.user_id
      AND s.event_type IS NOT DISTINCT FROM e.event_type
      AND s.ts = e.ts
GROUP BY e.user_id, e.event_type, s.sid
"""


# ---------------------------------------------------------------------------
# north-star: dedup / similarity / text / multimodal (SURVEY.md §2.D)
# ---------------------------------------------------------------------------

def q_dedup_exact_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by content hash over a doubled corpus (simulated
    re-crawl), keeping min(doc_id) per distinct text."""
    d = read_table(spark, sf, "documents")
    return dedup.exact_dedup(d.unionByName(d))


ORACLE_DEDUP_EXACT_DOCS = """
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
GROUP BY coalesce(md5(text), '_null:' || CAST(doc_id AS VARCHAR))
"""


def q_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = read_table(spark, sf, "documents")
    # SQL-text form (round 12): identical trees, one round trip per column
    n_tokens = f"CAST({token_count_sql('text')} AS bigint)"
    n_chars_ns = "CAST(length(regexp_replace(text, '\\\\s', '')) AS bigint)"
    return d.selectExpr(
        "doc_id",
        f"{n_tokens} AS n_tokens",
        f"{n_chars_ns} AS n_chars_nospace",
        f"round(CAST({n_chars_ns} AS double) / CAST({n_tokens} AS double),"
        " 4) AS avg_token_len",
    )


ORACLE_TOKEN_STATS = """
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       length(regexp_replace(text, '\\s', '', 'g')) AS n_chars_nospace,
       round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
             / len(string_split_regex(trim(text), '\\s+')), 4) AS avg_token_len
FROM documents
"""


def q_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    d = read_table(spark, sf, "documents")
    # SQL-text form (round 12): identical trees, one round trip per column
    return d.selectExpr(
        "doc_id",
        f"CAST({token_count_sql('text')} AS bigint) AS n_tokens",
        f"round({stopword_ratio_sql('text')}, 4) AS stop_ratio",
        f"round({quality_score_sql('text')}, 4) AS score",
    )


ORACLE_QUALITY_SCORES = """
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), f AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CAST(len(list_filter(toks, x -> translate(x, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') IN
              ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
           / len(toks) AS ratio
  FROM t
)
SELECT doc_id, n_tokens, round(ratio, 4) AS stop_ratio,
       round(0.5 * ratio +
             0.5 * (CASE WHEN n_tokens BETWEEN 20 AND 1000
                         THEN 1.0 ELSE 0.0 END), 4) AS score
FROM f
"""


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    d = read_table(spark, sf, "documents")
    return d.select("doc_id", lang_id("text").alias("lang_pred"))


ORACLE_LANG_ID = """
SELECT doc_id,
       CASE
         WHEN strpos(t, ' der ') > 0 OR strpos(t, ' und ') > 0
           OR strpos(t, ' die ') > 0 OR strpos(t, ' nicht ') > 0 THEN 'de'
         WHEN strpos(t, ' el ') > 0 OR strpos(t, ' los ') > 0
           OR strpos(t, ' una ') > 0 OR strpos(t, ' que ') > 0 THEN 'es'
         WHEN strpos(t, ' le ') > 0 OR strpos(t, ' les ') > 0
           OR strpos(t, ' une ') > 0 OR strpos(t, ' est ') > 0 THEN 'fr'
         WHEN strpos(t, ' het ') > 0 OR strpos(t, ' een ') > 0
           OR strpos(t, ' niet ') > 0 OR strpos(t, ' van ') > 0 THEN 'nl'
         ELSE 'en'
       END AS lang_pred
FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents)
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (inverted-index join baseline)."""
    d = read_table(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(d, shingle_n=3, threshold=0.2)


ORACLE_NGRAM_JACCARD_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), idx AS (
  SELECT doc_id, t, unnest(range(0, greatest(len(t) - 2, 0))) AS i FROM toks
), sh AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS g
  FROM idx
), gok AS (
  SELECT g FROM sh GROUP BY g HAVING count(*) <= {_DF_CAP}
), shc AS (
  SELECT sh.doc_id, sh.g FROM sh JOIN gok USING (g)
), sz AS (
  SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id
), pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
  FROM shc x JOIN shc y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b,
       round(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 4) AS jaccard
FROM pairs
JOIN sz sa ON sa.doc_id = a
JOIN sz sb ON sb.doc_id = b
WHERE round(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 4) >= 0.2
"""


def q_neardup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs → dedup CLUSTERS via iterative min-label propagation
    (``operators/graph.connected_components`` — SURVEY §2's "iterative
    algorithms" class). Component id = smallest doc_id in the cluster (the
    canonical survivor); output is cluster cardinalities. The DuckDB twin
    computes the same closure with a recursive CTE, so even the iterative
    op is oracle-checked, transitivity included.
    """
    d = read_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, shingle_n=3, threshold=0.2)
    comp = graph.connected_components(pairs, "a", "b")
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


ORACLE_NEARDUP_CLUSTERS = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), idx AS (
  SELECT doc_id, t, unnest(range(0, greatest(len(t) - 2, 0))) AS i FROM toks
), sh AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS g
  FROM idx
), gok AS (
  SELECT g FROM sh GROUP BY g HAVING count(*) <= {_DF_CAP}
), shc AS (
  SELECT sh.doc_id, sh.g FROM sh JOIN gok USING (g)
), sz AS (
  SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id
), pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
  FROM shc x JOIN shc y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), p AS (
  SELECT a, b FROM pairs
  JOIN sz sa ON sa.doc_id = a
  JOIN sz sb ON sb.doc_id = b
  WHERE round(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 4) >= 0.2
), e AS (
  SELECT a, b FROM p UNION SELECT b, a FROM p
), reach(n, m) AS (
  SELECT a, a FROM e
  UNION
  SELECT r.n, e2.b FROM reach r JOIN e e2 ON r.m = e2.a
), labels AS (
  SELECT n AS node, min(m) AS component FROM reach GROUP BY n
)
SELECT component, count(*) AS n_docs FROM labels GROUP BY component
"""


def q_dedup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup capstone: remove every non-canonical near-duplicate from
    the corpus (keep the min-doc_id member of each similarity cluster) and
    report the surviving corpus per language. Pairs → components →
    anti-join: only cluster "losers" are materialized (a tiny set), so the
    big table passes through with one left-anti shuffle — the corpus is
    never collected or recomputed per cluster.
    """
    # NULL-id docs are excluded up front (round-8 NULL-PK class): an
    # id-less doc can't be tracked through pair→component→anti-join (a
    # NULL key survives left_anti unconditionally but NOT IN's
    # three-valued logic drops it), so both engines quarantine it
    d = read_table(spark, sf, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    pairs = dedup.ngram_jaccard_pairs(d, shingle_n=3, threshold=0.2)
    comp = graph.connected_components(pairs, "a", "b")
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    survivors = d.join(losers, "doc_id", "left_anti")
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


ORACLE_DEDUP_SURVIVORS = (
    ORACLE_NEARDUP_CLUSTERS.replace(
        """labels AS (
  SELECT n AS node, min(m) AS component FROM reach GROUP BY n
)
SELECT component, count(*) AS n_docs FROM labels GROUP BY component""",
        """labels AS (
  SELECT n AS node, min(m) AS component FROM reach GROUP BY n
), losers AS (
  SELECT node AS doc_id FROM labels WHERE node <> component
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
-- NULL-id docs excluded on BOTH engines (round-8 NULL-PK class): a NULL
-- key survives Spark's left_anti but NOT IN's three-valued logic drops
-- it — and an id-less doc can't be tracked through components anyway
WHERE doc_id IS NOT NULL AND doc_id NOT IN (SELECT doc_id FROM losers)
GROUP BY lang""",
    )
)


def q_ann_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force exact top-k cosine neighbors for 10 query vectors."""
    emb = read_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = similarity.ann_cosine_topk(emb, queries, k=5)
    return out.withColumn("rn", F.col("rn").cast("bigint"))


def q_ann_cosine_topk_np(spark: SparkSession, sf: str) -> DataFrame:
    """The BLAS/Arrow rendition of brute-force ANN, as an oracle-checked
    equivalence contract: BLAS blocked summation isn't bit-stable vs the
    sequential JVM fold, so the sims can't be hash-compared — but the
    NEIGHBOR SETS must match the exact JVM baseline, and that flag is
    pinned TRUE. Raw output via `similarity.ann_cosine_topk_np`."""
    # .distinct(): the set/recall contract ranks the LOGICAL corpus —
    # physically duplicated rows (double-loaded parquet; round-10
    # duplication fixture) otherwise land twice in a top-k and fan out
    # the hits equi-join, exactly the revisit the round-8 assumption
    # note in _sql_expected_topk_summary called for.
    emb = read_table(spark, sf, "embeddings").distinct()
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = similarity.ann_cosine_topk(emb, queries, k=5).select(
        "q_id", "neighbor_id"
    )
    blas = similarity.ann_cosine_topk_np(emb, queries, k=5).select(
        "q_id", "neighbor_id"
    )
    hits = blas.join(exact, ["q_id", "neighbor_id"])
    return (
        exact.agg(
            F.countDistinct("q_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact_pairs"),
        )
        .crossJoin(blas.agg(F.count(F.lit(1)).alias("_n_blas")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
        .select(
            "n_queries",
            "n_exact_pairs",
            (
                (F.col("_n_hit") == F.col("n_exact_pairs"))
                & (F.col("_n_blas") == F.col("n_exact_pairs"))
            ).alias("same_neighbor_sets"),
        )
    )


ORACLE_ANN_COSINE_TOPK_NP = _sql_expected_topk_summary("same_neighbor_sets")


ORACLE_ANN_COSINE_TOPK = f"""
WITH q AS (
  -- usable vectors only, both sides (similarity._drop_null_vectors):
  -- a NULL component CRASHES DuckDB's list_cosine_similarity outright
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10 AND {_SQL_FINITE_VEC}
    AND {_sql_nonzero_vec("embedding")}
), s AS (
  SELECT q.q_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim_raw
  FROM embeddings e, q
  WHERE e.vec_id <> q.q_id AND {_sql_finite_vec("e.embedding")}
    AND {_sql_nonzero_vec("e.embedding")}
)
SELECT q_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY q_id
                               ORDER BY sim_raw DESC, neighbor_id) AS BIGINT) AS rn,
       round(sim_raw, 4) AS sim
FROM s
QUALIFY rn <= 5
"""


def q_cosine_near_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a similarity threshold.

    Exact semantics (oracle: true all-pairs SQL) through the blocked
    equi-join shape — no BroadcastNestedLoopJoin; the plain all-pairs
    ``similarity.cosine_pairs`` stays as the test-only baseline."""
    emb = read_table(spark, sf, "embeddings")
    return similarity.cosine_pairs_blocked(emb, threshold=0.4)


ORACLE_COSINE_NEAR_DUP_PAIRS = f"""
-- usable vectors only, both sides (similarity._drop_null_vectors): a
-- NULL component CRASHES DuckDB's list_cosine_similarity outright
SELECT x.vec_id AS a, y.vec_id AS b,
       round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                                    CAST(y.embedding AS DOUBLE[])), 4) AS sim
FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
WHERE {_sql_finite_vec("x.embedding")}
  AND {_sql_finite_vec("y.embedding")}
  AND round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                                   CAST(y.embedding AS DOUBLE[])), 4) >= 0.4
"""


def q_embedding_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label centroids in long form, as (exact component sum, count).

    Double `avg` accumulates in partition order, so the last ulp differs
    between engines and `round(avg, 4)` flips near .xxxx5 — found by
    cross-checking at a second scale factor. Summing each component as
    DECIMAL(20,10) is exact (the cast rounds the same float identically in
    both engines), and the decimal→double conversion of the final sum is
    IEEE nearest — bit-identical. The consumer divides sum/n when it wants
    the mean (similarity.centroids_by_label keeps the rounded-avg form for
    the IVF coarse quantizer, where cross-engine determinism is not
    needed).
    """
    emb = read_table(spark, sf, "embeddings")
    # float→DOUBLE first, then DOUBLE→DECIMAL(20,6): engines disagree on a
    # direct float→decimal cast (shortest-repr vs exact-binary expansion),
    # and even at 10dp the repr difference can flip the last digit; at 6dp a
    # full-mantissa float sits ≥ ~1e-9 from any rounding boundary, so both
    # engines quantize identically, then the sum is exact decimal math
    exploded = _finite_vectors(emb).select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(
            F.sum(F.col("val").cast("decimal(20,6)")).cast("double").alias(
                "centroid_sum"
            ),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .withColumn("pos", F.col("pos").cast("bigint"))
    )


ORACLE_EMBEDDING_CENTROIDS = f"""
SELECT label, i AS pos,
       CAST(sum(CAST(CAST(embedding[i + 1] AS DOUBLE) AS DECIMAL(20,6)))
            AS DOUBLE) AS centroid_sum,
       count(*) AS n_vectors
FROM embeddings, range(0, 64) t(i)
-- usable vectors only (the Spark twin's _finite_vectors contract)
WHERE {_SQL_FINITE_VEC}
GROUP BY label, i
"""


def q_multimodal_binary_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-payload metadata (multimodal plumbing): byte length, content
    digest, storage bucket — all JVM-side over an opaque binary column."""
    d = read_table(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return multimodal.binary_metadata(d, id_col="doc_id", payload_col="payload")


ORACLE_MULTIMODAL_BINARY_META = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS digest,
       doc_id % 16 AS bucket
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Decode + feature-extract over binary payloads through the
    ``mapInPandas`` plumbing (Arrow-batched Python — the one place the
    multimodal path legitimately leaves the JVM). The deterministic fake
    decoder (sha256-derived floats) stands in for a real codec, which makes
    THIS Pandas-UDF path oracle-checkable: the DuckDB twin re-derives the
    same floats from ``sha256()`` hex pairs. The feature vector is emitted
    as a comma-joined string of the underlying byte values (feature[i] =
    byte_i/255, so floor(x*255+0.5) recovers the byte exactly) — the
    driver's value-hasher only accepts atomic top-level columns, and
    integer strings are formatting-divergence-proof.
    """
    d = read_table(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    feats = multimodal.extract_features(
        d,
        id_col="doc_id",
        payload_col="payload",
        dim=8,
        decoder=multimodal.deterministic_fake_decoder,
    ).withColumnRenamed("media_id", "doc_id")
    return feats.select(
        "doc_id",
        # NULL feature (undecodable payload) stays NULL — concat_ws would
        # flatten it to '', masking the failure as an empty vector
        F.when(
            F.col("feature").isNotNull(),
            F.concat_ws(
                ",",
                F.transform(
                    "feature",
                    lambda x: F.floor(x * 255 + F.lit(0.5))
                    .cast("bigint")
                    .cast("string"),
                ),
            ),
        ).alias("feature"),
    )


def _hex_byte(i: int) -> str:
    hi = f"(strpos('0123456789abcdef', substr(h, {2 * i + 1}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substr(h, {2 * i + 2}, 1)) - 1)"
    return f"CAST(({hi} * 16 + {lo}) AS VARCHAR)"


ORACLE_MULTIMODAL_FEATURES = f"""
WITH t AS (SELECT doc_id, sha256(text) AS h FROM documents
          -- extract_features drops NULL ids (round-8 NULL-PK class)
          WHERE doc_id IS NOT NULL)
SELECT doc_id,
       {" || ',' || ".join(_hex_byte(i) for i in range(8))} AS feature
FROM t
"""


# ---------------------------------------------------------------------------
# analytic window functions (SURVEY.md §2.C "window functions" gap)
# ---------------------------------------------------------------------------

def q_running_order_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Per-customer running spend: cumulative sum over order history
    (ROWS frame — streams in one pass per key)."""
    o = read_table(spark, sf, "orders")
    # nulls-last EXPLICITLY: Spark windows order NULL dates first, DuckDB
    # last — an undated order would shift every subsequent running value
    out = analytic.running_total(
        o,
        ["o_custkey"],
        [F.col("o_orderdate").asc_nulls_last(), F.col("o_orderkey")],
        "o_totalprice",
        alias="running_spend",
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        F.round("running_spend", 2).alias("running_spend"),
    )


ORACLE_RUNNING_ORDER_TOTALS = """
SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate NULLS LAST, o_orderkey
           ROWS UNBOUNDED PRECEDING), 2) AS running_spend
FROM orders
"""


def q_order_gap_days(spark: SparkSession, sf: str) -> DataFrame:
    """Days between a customer's consecutive orders (lag delta; null for the
    first order). Dates are compared as epoch-day integers so the delta is
    an exact integer in both engines."""
    o = read_table(spark, sf, "orders").withColumn(
        "_day", F.unix_date(F.to_date("o_orderdate"))
    )
    out = analytic.lag_delta(
        o,
        ["o_custkey"],
        [F.col("_day"), F.col("o_orderkey")],
        "_day",
        alias="gap_days",
    )
    return out.select(
        "o_custkey", "o_orderkey", F.col("gap_days").cast("bigint").alias("gap_days")
    )


ORACLE_ORDER_GAP_DAYS = """
SELECT o_custkey, o_orderkey,
       CAST(date_diff('day',
                      lag(CAST(o_orderdate AS DATE)) OVER (
                          PARTITION BY o_custkey
                          ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
                      CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
FROM orders
"""


def q_moving_avg_order_price(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 4-order moving average of order value per customer.

    The price is summed as DECIMAL(18,2) inside the frame (exact), cast to
    double, then divided by the frame row count — double `avg` differs
    between engines in the last ulp (incremental vs segment-tree
    accumulation). The result is rounded to 4 decimals, not 2: a 2-decimal
    exact sum divided by a frame of ≤4 rows can land exactly on a .xx5
    rounding tie (e.g. sum/2 = x.135), and engines disagree on ties
    (HALF_UP on shortest-repr vs scale-and-nearbyint); at 4 decimals a tie
    is arithmetically impossible for counts 1..4.
    """
    o = read_table(spark, sf, "orders").withColumn(
        # _quantizable, not a bare cast: ANSI decimal cast THROWS on a
        # finite-but-huge price (one corrupt row would kill the job)
        "_price_dec", _quantizable("o_totalprice").cast("decimal(18,2)")
    )
    # nulls-last EXPLICITLY (undated orders close each customer's frame
    # stream in both engines instead of opening it in one of them)
    out = analytic.running_frame_avg(
        o,
        ["o_custkey"],
        [F.col("o_orderdate").asc_nulls_last(), F.col("o_orderkey")],
        "_price_dec",
        preceding=3,
        alias="avg4",
    )
    return out.select(
        "o_custkey", "o_orderkey", F.round("avg4", 4).alias("avg4")
    )


ORACLE_MOVING_AVG_ORDER_PRICE = """
SELECT o_custkey, o_orderkey,
       round(CAST(sum(CAST(CASE WHEN isfinite(o_totalprice)
                                 AND abs(o_totalprice) < 1e14
                                THEN o_totalprice END AS DECIMAL(18,2)))
                  OVER w AS DOUBLE)
             / count(*) OVER w, 4) AS avg4
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS LAST, o_orderkey
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


def q_part_price_ranks(spark: SparkSession, sf: str) -> DataFrame:
    """rank() and dense_rank() of parts by retail price within brand —
    deterministic under price ties (equal prices share a rank)."""
    p = read_table(spark, sf, "part")
    out = analytic.ranked(
        p, ["p_brand"], [F.col("p_retailprice").desc()], alias="rnk"
    )
    out = analytic.ranked(
        out, ["p_brand"], [F.col("p_retailprice").desc()], dense=True, alias="drnk"
    )
    return out.select(
        "p_brand",
        "p_partkey",
        F.col("p_retailprice").alias("retail_price"),
        F.col("rnk").cast("bigint").alias("rnk"),
        F.col("drnk").cast("bigint").alias("drnk"),
    )


ORACLE_PART_PRICE_RANKS = """
SELECT p_brand, p_partkey, p_retailprice AS retail_price,
       CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS rnk,
       CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS drnk
FROM part
"""


def q_customer_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    """ntile(4) account-balance quartiles within each market segment (a
    bounded partition key; never run unpartitioned ntile on a fact table)."""
    c = read_table(spark, sf, "customer")
    out = analytic.ntile_buckets(
        c,
        [F.col("c_acctbal"), F.col("c_custkey")],
        n=4,
        partition_by=["c_mktsegment"],
        alias="quartile",
    )
    return out.select(
        "c_custkey",
        "c_mktsegment",
        F.col("quartile").cast("bigint").alias("quartile"),
    )


ORACLE_CUSTOMER_QUARTILES = """
SELECT c_custkey, c_mktsegment,
       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
FROM customer
"""


# ---------------------------------------------------------------------------
# grouping sets / cube, percentiles, non-equi joins
# ---------------------------------------------------------------------------

def q_cube_order_stats(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (status, priority) with GROUPING flags — the full
    grouping-sets lattice in one pass (Spark expands to a single Expand +
    hash-agg, no multiple scans). Observed-groups empty-input contract:
    see q_rollup_region_nation (oracle HAVING count(*) > 0)."""
    o = read_table(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
    )


ORACLE_CUBE_ORDER_STATS = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
HAVING count(*) > 0
"""


def q_grouping_sets_sql(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS through the engine's SQL surface (temp views —
    the Spark analogue of the reference's BigQuery external tables,
    reference ``gcpl.py:472-603``). Observed-groups empty-input
    contract: see q_rollup_region_nation (oracle HAVING count(*) > 0)."""
    register_views(spark, sf, ("customer", "nation"))
    return spark.sql(
        """
        SELECT c_mktsegment, n_name,
               count(*) AS n_cust,
               round(sum(c_acctbal), 2) AS total_bal,
               CAST(grouping(c_mktsegment) AS INT) AS g_seg,
               CAST(grouping(n_name) AS INT) AS g_nat
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        """
    )


ORACLE_GROUPING_SETS_SQL = """
SELECT c_mktsegment, n_name, count(*) AS n_cust,
       round(sum(c_acctbal), 2) AS total_bal,
       CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
       CAST(GROUPING(n_name) AS INT) AS g_nat
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
HAVING count(*) > 0
"""


def q_price_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Discrete percentiles (median / p90) per return flag: the element at
    rank ceil(p·n) in sort order — an ACTUAL data value, no interpolation.

    Continuous percentiles (`percentile`/`quantile_cont`) interpolate
    (a+b)/2 between neighbors, which lands exactly on .xx5 rounding ties
    where engines disagree (HALF_UP vs scale-and-nearbyint) — found by
    cross-checking at a second scale factor. Discrete selection is
    bit-identical across engines by construction. The rank formulation is
    spelled out in both engines rather than relying on each engine's
    `percentile_disc` tie convention.
    """
    li = read_table(spark, sf, "lineitem")

    def disc(col: str, picks: list[tuple[float, str]]) -> DataFrame:
        # ONE sorted window pass per order column; every requested quantile
        # comes out of it via conditional aggregation
        # (SQL-text construction, round 12: identical window specs and
        # CASE/ceil/cast trees, one py4j round trip per expression)
        over = (
            f"OVER (PARTITION BY l_returnflag ORDER BY {col},"
            " l_orderkey, l_linenumber)"
        )
        # a NULL/NaN measure is not a rankable observation — unfiltered,
        # the engines rank the NULL on opposite ends and shift every pick
        ranked = li.filter(_nan_null(col).isNotNull()).selectExpr(
            "l_returnflag",
            f"{col} AS _v",
            f"row_number() {over} AS _rn",
            "count(1) OVER (PARTITION BY l_returnflag) AS _n",
        )
        return ranked.groupBy("l_returnflag").agg(
            *[
                F.expr(
                    "max(CASE WHEN _rn ="
                    f" CAST(ceil(_n * {sql_double(p)}) AS int)"
                    f" THEN _v END) AS {alias}"
                )
                for p, alias in picks
            ]
        )

    return disc(
        "l_extendedprice", [(0.5, "median_price"), (0.9, "p90_price")]
    ).join(disc("l_discount", [(0.5, "median_disc")]), "l_returnflag")


ORACLE_PRICE_PERCENTILES = """
WITH ranked_p AS (
  -- NULL/NaN measures are not rankable observations (see the Spark twin)
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)
), ranked_d AS (
  SELECT l_returnflag, l_discount,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_discount, l_orderkey, l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
  WHERE l_discount IS NOT NULL AND isfinite(l_discount)
)
SELECT m.l_returnflag, m.l_extendedprice AS median_price,
       p.l_extendedprice AS p90_price, d.l_discount AS median_disc
FROM (SELECT l_returnflag, l_extendedprice FROM ranked_p
      WHERE rn = CAST(ceil(n * 0.5) AS INT)) m
JOIN (SELECT l_returnflag, l_extendedprice FROM ranked_p
      WHERE rn = CAST(ceil(n * 0.9) AS INT)) p USING (l_returnflag)
JOIN (SELECT l_returnflag, l_discount FROM ranked_d
      WHERE rn = CAST(ceil(n * 0.5) AS INT)) d USING (l_returnflag)
"""


def q_asof_click_before_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: for every purchase event, the user's most recent strictly
    earlier click (null when none). Union-merge formulation — one shuffle on
    user_id, no row-pair blowup (operators/relational.asof_join)."""
    e = read_table(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    out = asof_join(
        purchases,
        clicks,
        ["user_id"],
        "ts",
        "click_ts",
        right_values=["click_ts"],
        strict=True,
    )
    return out.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


ORACLE_ASOF_CLICK_BEFORE_PURCHASE = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
)
SELECT p.user_id, p.event_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(c.cts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts > c.cts
"""


def q_next_purchase_after_click(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of join with tolerance: for every click, the user's FIRST
    strictly-later purchase within 12 hours (null beyond — pandas
    merge_asof's direction='forward', tolerance semantics). Same union-merge
    single-shuffle formulation as the backward variant, timestamp order
    reversed; the tolerance nulls matches after the nearest is found, never
    substituting a farther in-window row."""
    e = read_table(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    out = asof_join(
        clicks,
        purchases,
        ["user_id"],
        "ts",
        "purchase_ts",
        right_values=["purchase_ts"],
        strict=True,
        direction="forward",
        tolerance="12 hours",
    )
    return out.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "purchase_ts"
        ),
    )


ORACLE_NEXT_PURCHASE_AFTER_CLICK = """
WITH c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'
)
-- correlated min, NOT a group-by + event_id join-back: a NULL event_id
-- (round-8 NULL-PK class) never equi-joins back (its purchase silently
-- NULLed), and a reused event_id would fan out — the per-ROW subquery
-- needs no identity at all, matching the Spark asof's row semantics
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       CASE WHEN np <= ts + INTERVAL 12 HOUR
            THEN strftime(np, '%Y-%m-%d %H:%M:%S') END AS purchase_ts
FROM (
  SELECT c.user_id, c.event_id, c.ts,
         (SELECT min(p.pts) FROM p
           WHERE p.user_id = c.user_id AND p.pts > c.ts) AS np
  FROM c
)
"""


#: Order-value bands — a bounded "code list" dimension like the reference's
#: CategoryGroups, used for the non-equi band join.
PRICE_BANDS = (
    ("low", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("high", 150_000.0, 1e18),
)


def q_price_band_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Range/band join: classify orders into [lo, hi) value bands via a
    broadcast non-equi join, then aggregate per band."""
    o = read_table(spark, sf, "orders")
    bands = spark.createDataFrame(
        list(PRICE_BANDS), "band string, lo double, hi double"
    )
    joined = band_join(o, bands, "o_totalprice", "lo", "hi")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


ORACLE_PRICE_BAND_TOTALS = """
SELECT band, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders
LEFT JOIN (VALUES ('low', 0.0, 50000.0),
                  ('mid', 50000.0, 150000.0),
                  ('high', 150000.0, 1e18)) bands(band, lo, hi)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


def q_sliding_6h_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding window (6h size, 3h slide): each event lands in 2 overlapping
    windows; windows are epoch-aligned in both engines."""
    e = read_table(spark, sf, "events")
    return timeseries.sliding_agg(
        e,
        "ts",
        "6 hours",
        "3 hours",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    )


ORACLE_SLIDING_6H_STATS = """
SELECT strftime(time_bucket(INTERVAL '3 hours', ts) - k * INTERVAL '3 hours',
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events, (VALUES (0), (1)) t(k)
WHERE ts IS NOT NULL  -- clock-less events belong to no window
GROUP BY 1, 2
"""


def q_gap_fill_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Dense per-type hourly series with forward-filled values: resample the
    event log onto the full hour grid (spine = sequence(min,max) crossed with
    the distinct keys) and carry the last observed bucket total across gaps.
    Empty buckets report n_events=0 and the carried value (NULL before a
    key's first observation). The domain guard bounds the grid to the
    business-valid decade: one corrupt pre-1970 clock must not inflate an
    hourly spine by six orders of magnitude."""
    e = read_table(spark, sf, "events")
    return timeseries.gap_fill_forward(
        e, "ts", "1 hour", "event_type", "value",
        domain=("2020-01-01", "2030-01-01"),
    )


ORACLE_GAP_FILL_HOURLY = """
WITH valid AS (
  -- clock-less events belong to no bucket; the domain guard mirrors the
  -- Spark side's grid-explosion bound (corrupt clocks excluded like NULL)
  SELECT * FROM events
  WHERE ts IS NOT NULL
    AND ts >= TIMESTAMP '2020-01-01' AND ts < TIMESTAMP '2030-01-01'
), b AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
         count(*) AS n_events, round(sum(value), 2) AS v
  FROM valid GROUP BY 1, 2
), bounds AS (
  SELECT time_bucket(INTERVAL '1 hour', min(ts)) AS lo,
         time_bucket(INTERVAL '1 hour', max(ts)) AS hi
  FROM valid
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h FROM bounds
), grid AS (
  SELECT s.h, k.event_type
  FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM valid) k
)
SELECT g.event_type,
       strftime(g.h, '%Y-%m-%d %H:%M:%S') AS window_start,
       coalesce(b.n_events, 0) AS n_events,
       last_value(b.v IGNORE NULLS)
         OVER (PARTITION BY g.event_type ORDER BY g.h
               ROWS UNBOUNDED PRECEDING) AS filled_value
FROM grid g
-- null-safe on the key: a NULL event_type is a series like any other
LEFT JOIN b ON b.h = g.h AND b.event_type IS NOT DISTINCT FROM g.event_type
"""


# ---------------------------------------------------------------------------
# supplier-side queries, subqueries, skew path, date/string coverage
# ---------------------------------------------------------------------------

def q_supplier_revenue_ranking(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 suppliers by lineitem revenue within each nation: fact-side
    aggregation FIRST (shrinks lineitem to one row per supplier), then the
    dimension joins and the ranking window — never window over raw facts."""
    li = read_table(spark, sf, "lineitem")
    s = read_table(spark, sf, "supplier")
    n = read_table(spark, sf, "nation")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    joined = rev.join(s, rev["l_suppkey"] == s["s_suppkey"]).join(
        F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]
    )
    ranked = top_k_per_group(
        joined,
        ["n_name"],
        [F.col("revenue").desc(), F.col("s_suppkey")],
        5,
    )
    return ranked.select(
        "n_name",
        "s_suppkey",
        "s_name",
        "revenue",
        F.col("rn").cast("bigint").alias("rn"),
    )


ORACLE_SUPPLIER_REVENUE_RANKING = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT n_name, s_suppkey, s_name, revenue,
       CAST(row_number() OVER (PARTITION BY n_name
                               ORDER BY revenue DESC, s_suppkey) AS BIGINT) AS rn
FROM rev
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
QUALIFY rn <= 5
"""


def q_customers_above_nation_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar subquery through the SQL surface: customers whose
    balance exceeds their nation's average (Catalyst de-correlates this to
    an aggregate + join — no per-row re-execution)."""
    register_views(spark, sf, ("customer", "nation"))
    return spark.sql(
        """
        SELECT c_custkey, n_name, round(c_acctbal, 2) AS acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = customer.c_nationkey)
        """
    )


ORACLE_CUSTOMERS_ABOVE_NATION_AVG = """
SELECT c_custkey, n_name, round(c_acctbal, 2) AS acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = customer.c_nationkey)
"""


def q_salted_join_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-path join: lineitem salted on l_orderkey (salt from the line
    number), orders replicated ×8 — result must equal the plain join
    (semantics check is exactly this oracle)."""
    from statline_bq_spark.operators.skew import salted_join

    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    # salted_join equi-joins on identical column names → align the key name
    joined = salted_join(
        li,
        o.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"),
        ["l_orderkey"],
        salt_parts=8,
        salt_source=F.col("l_linenumber"),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLE_SALTED_JOIN_REVENUE = """
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_ship_date_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Date-part extraction coverage: shipments per (year, quarter, month,
    day-of-week). Spark's dayofweek is 1=Sunday; DuckDB's is 0=Sunday."""
    li = read_table(spark, sf, "lineitem")
    return li.groupBy(
        F.year("l_shipdate").alias("y"),
        F.quarter("l_shipdate").alias("q"),
        F.month("l_shipdate").alias("m"),
        F.dayofweek("l_shipdate").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n_ship"))


ORACLE_SHIP_DATE_PARTS = """
SELECT CAST(year(l_shipdate) AS INT) AS y,
       CAST(quarter(l_shipdate) AS INT) AS q,
       CAST(month(l_shipdate) AS INT) AS m,
       CAST(dayofweek(l_shipdate) + 1 AS INT) AS dow,
       count(*) AS n_ship
FROM lineitem
GROUP BY 1, 2, 3, 4
"""


def q_supplier_codes(spark: SparkSession, sf: str) -> DataFrame:
    """String-function coverage: zero-padded supplier code, upper-cased
    name, name length, reversed-name prefix."""
    s = read_table(spark, sf, "supplier")
    return s.select(
        "s_suppkey",
        F.concat(F.lit("SUP-"), F.lpad(F.col("s_suppkey").cast("string"), 8, "0")).alias(
            "code"
        ),
        F.upper("s_name").alias("name_upper"),
        F.length("s_name").cast("bigint").alias("name_len"),
        F.substring(F.reverse("s_name"), 1, 3).alias("rev3"),
    )


ORACLE_SUPPLIER_CODES = """
-- Java-casemap mirrors (round-10 locale fixture): Spark's upper() does
-- FULL case mapping (ß→SS, ﬁ→FI) where DuckDB's utf8proc keeps ß/ﬁ;
-- Spark's reverse() is codepoint-wise where DuckDB's is grapheme-wise
-- (a combining mark travels WITH its base in DuckDB but flips across it
-- in Spark), so the mirror reverses an explicit codepoint split.
SELECT s_suppkey,
       'SUP-' || lpad(CAST(s_suppkey AS VARCHAR), 8, '0') AS code,
       upper(replace(replace(s_name, 'ß', 'SS'), 'ﬁ', 'FI')) AS name_upper,
       length(s_name) AS name_len,
       substr(array_to_string(list_reverse(regexp_split_to_array(s_name, '')),
                              ''), 1, 3) AS rev3
FROM supplier
"""


def q_first_last_order_value(spark: SparkSession, sf: str) -> DataFrame:
    """first_value/last_value over the full per-customer frame; every row of
    a customer carries the same values, so DISTINCT collapses to one row per
    customer deterministically."""
    o = read_table(spark, sf, "orders")
    # nulls-last EXPLICITLY: the engines default NULL order dates to
    # opposite ends of the frame, swapping first/last for that customer
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc_nulls_last(), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        o.select(
            "o_custkey",
            F.first_value("o_totalprice").over(w).alias("first_price"),
            F.last_value("o_totalprice").over(w).alias("last_price"),
            F.count(F.lit(1)).over(w).alias("n_orders"),
        )
        .distinct()
    )


ORACLE_FIRST_LAST_ORDER_VALUE = """
SELECT DISTINCT o_custkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER w AS last_price,
       count(*) OVER w AS n_orders
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS LAST, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_balance_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """percent_rank / cume_dist of customer balance within market segment
    (both tie-stable; rounded to 6)."""
    c = read_table(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


ORACLE_BALANCE_DISTRIBUTION = """
SELECT c_custkey, c_mktsegment,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
"""


def q_unshipped_orders_topk(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q3-shaped composite: segment filter × date-window join × agg ×
    top-k. Filters reach both parquet scans before the join; top-k is
    TakeOrderedAndProject after the aggregate."""
    cutoff = "1998-06-01 00:00:00"
    c = read_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp_ntz(F.lit(cutoff))
    )
    li = read_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp_ntz(F.lit(cutoff))
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
    )
    agg = joined.groupBy(
        "l_orderkey", F.to_date("o_orderdate").alias("order_date"), "o_orderpriority"
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    return top_k(
        agg, [F.col("revenue").desc(), F.col("l_orderkey")], 10
    ).select("l_orderkey", "revenue", "order_date", "o_orderpriority")


ORACLE_UNSHIPPED_ORDERS_TOPK = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_nation_trade_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q7-shaped composite: supplier nation × customer nation yearly
    revenue for a nation pair, both directions. Two independent dimension
    chains decode against the same broadcast nation table."""
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    s = read_table(spark, sf, "supplier")
    n = read_table(spark, sf, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n1, s["s_nationkey"] == F.col("s_nk"))
        .join(n2, c["c_nationkey"] == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


ORACLE_NATION_TRADE_VOLUME = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q_customer_order_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q13-shaped composite: outer join with an ON-clause filter
    (priority stands in for the comment LIKE — the test orders table has no
    comment column), then a two-level aggregate building a histogram of
    orders-per-customer. The ON-filter must NOT become a WHERE: customers
    with zero surviving orders must still appear with c_count = 0.

    Scale note: the join shuffles on custkey and the first groupBy reuses
    that partitioning (no second exchange); only the tiny histogram agg
    reshuffles.
    """
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


ORACLE_CUSTOMER_ORDER_DISTRIBUTION = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count
"""


def q_small_qty_part_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q17-shaped composite: per-part correlated average (l_quantity
    below 20% of that part's average) gating a revenue sum, grouped by
    brand. The correlated scalar subquery becomes a window average over the
    part key — one shuffle serves both the threshold and the filter.

    Determinism: quantities are integer-valued doubles, so avg = exact-sum /
    count is bit-identical across engines and partition orders; the revenue
    sum is quantized to DECIMAL(20,6).

    Scale note: the part filter lands before the join (broadcast-able after
    pruning); the window shuffles on l_partkey only for surviving parts.
    """
    p = read_table(spark, sf, "part").filter(F.col("p_size") <= 5).select(
        "p_partkey", "p_brand"
    )
    li = read_table(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    joined = li.join(p, li["l_partkey"] == p["p_partkey"])
    w = Window.partitionBy("l_partkey")
    # non-finite quantities are failed measurements: scrub them out of the
    # threshold average AND the comparison (a NaN qty would poison its
    # part's avg to NaN, and Spark evaluates x < NaN as TRUE while DuckDB
    # follows IEEE FALSE — the silent-divergence family from the round-5
    # dirty sweep)
    # _quantizable (not _nan_null): a finite 1e300 qty would dominate its
    # part's threshold average (summation-order ulps then decide the
    # filter), and a 1e300 price would throw in the decimal revenue cast
    small = joined.withColumn(
        "part_avg_qty", F.avg(_quantizable("l_quantity")).over(w)
    ).filter(_quantizable("l_quantity") < 0.2 * F.col("part_avg_qty"))
    return small.groupBy("p_brand").agg(
        F.sum(_quantizable("l_extendedprice").cast("decimal(20,6)"))
        .cast("double")
        .alias("revenue_small_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_SMALL_QTY_PART_REVENUE = """
SELECT p_brand,
       -- quantizable scrub mirrors the Spark twin's _quantizable guard
       CAST(sum(CAST(CASE WHEN isfinite(l_extendedprice)
                           AND abs(l_extendedprice) < 1e14
                          THEN l_extendedprice END AS DECIMAL(20,6)))
            AS DOUBLE) AS revenue_small_qty,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_size <= 5
  AND (CASE WHEN isfinite(l_quantity) AND abs(l_quantity) < 1e14
            THEN l_quantity END) < (
    SELECT 0.2 * avg(CASE WHEN isfinite(l2.l_quantity)
                           AND abs(l2.l_quantity) < 1e14
                          THEN l2.l_quantity END)
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
GROUP BY p_brand
"""


def q_large_order_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q18-shaped composite: orders whose total quantity exceeds 300
    (HAVING over a fact-table aggregate), decoded against orders + customer,
    top-100 by price. The HAVING side aggregates lineitem FIRST — the big
    table shrinks to a handful of keys before any join.

    Determinism: sum of integer-valued double quantities is exact; cast to
    bigint for a clean cross-engine hash. o_totalprice passes through raw.
    """
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            # _quantizable (not _nan_null): NaN qty behaves like NULL, and
            # a finite 1e300 qty would CAST_OVERFLOW the bigint sum under
            # ANSI / crash DuckDB's CAST the same way
            F.sum(_quantizable("l_quantity")).cast("bigint").alias(
                "total_qty"
            )
        )
        .filter(F.col("total_qty") > 300)
    )
    joined = (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
    )
    return top_k(joined, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 100)


ORACLE_LARGE_ORDER_CUSTOMERS = """
-- Aggregate lineitem FIRST, decode against orders/customer AFTER — the
-- engine's (and TPC-H Q18's) evaluation order. The joined-then-grouped
-- formulation scales total_qty by the decode join's fan-out whenever an
-- orders/customer row is duplicated (round-10 row-duplication fixture);
-- agg-first keeps per-order quantity independent of decode multiplicity
-- and fans out result ROWS only, like the engine.
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CASE WHEN isfinite(l_quantity) AND abs(l_quantity) < 1e14
                       THEN l_quantity END) AS BIGINT) AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(CASE WHEN isfinite(l_quantity) AND abs(l_quantity) < 1e14
             THEN l_quantity END) > 300
)
SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       o_totalprice, total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_idle_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q22-shaped composite: customers with above-average positive
    balance and no urgent orders (every test customer has SOME order, so the
    anti-join target is the filtered urgent subset), grouped by nation.

    Determinism: the global average threshold is applied by cross-
    multiplication — ``c_acctbal * n > total`` — where ``total`` is an exact
    DECIMAL sum; both sides are then single deterministic double ops, so no
    summation-order ulp can flip a row across the threshold.

    Scale note: the 1-row global aggregate broadcasts; the anti join
    shuffles on custkey against a priority-pruned orders scan.
    """
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    # scrub BEFORE the comparison: Spark treats NaN as greater than any
    # value (NaN > 0 is TRUE), DuckDB follows IEEE (FALSE) — a NaN balance
    # must not qualify as 'positive' in either engine
    # _quantizable (not _nan_null): a finite 1e300 balance passes a
    # NaN-only scrub and > 0, then throws in the decimal sums below
    pos = c.filter(_quantizable("c_acctbal") > 0)
    stats = pos.agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(F.col("c_acctbal").cast("decimal(20,6)"))
        .cast("double")
        .alias("total_pos"),
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    rich = (
        pos.crossJoin(F.broadcast(stats))
        .filter(F.col("c_acctbal") * F.col("n_pos") > F.col("total_pos"))
        .join(urgent, pos["c_custkey"] == urgent["o_custkey"], "left_anti")
    )
    return rich.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast("decimal(20,6)"))
        .cast("double")
        .alias("totacctbal"),
    )


ORACLE_IDLE_RICH_CUSTOMERS = """
WITH s AS (
  SELECT count(*) AS n_pos,
         CAST(sum(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE) AS total_pos
  FROM customer
  WHERE c_acctbal > 0 AND isfinite(c_acctbal) AND abs(c_acctbal) < 1e14
)
SELECT c_nationkey, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE) AS totacctbal
FROM customer, s
WHERE c_acctbal > 0 AND isfinite(c_acctbal) AND abs(c_acctbal) < 1e14
  AND c_acctbal * s.n_pos > s.total_pos
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
  )
GROUP BY c_nationkey
"""


def q_sole_late_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q21-shaped composite: suppliers who were the ONLY late shipper
    on a finished multi-supplier order ("late" = shipped >1000 days after
    the order date — the synthetic shipdates are uncorrelated with order
    dates, so classic receipt/commit lateness doesn't exist here).

    Shape: EXISTS (another supplier on the order) via left-semi with a
    non-equi key clause, NOT EXISTS (another LATE supplier on the order)
    via left-anti — the pattern Spark compiles both of without a subquery.
    """
    o = read_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = read_table(spark, sf, "supplier")
    late = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 1000 DAYS")
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    other = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    other_late = late.select(
        F.col("l_orderkey").alias("l2_orderkey"),
        F.col("l_suppkey").alias("l2_suppkey"),
    )
    sole = (
        late.join(
            other,
            (late["l_orderkey"] == other["o2_orderkey"])
            & (late["l_suppkey"] != other["o2_suppkey"]),
            "left_semi",
        )
        .join(
            other_late,
            (late["l_orderkey"] == other_late["l2_orderkey"])
            & (late["l_suppkey"] != other_late["l2_suppkey"]),
            "left_anti",
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        sole.join(s, sole["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


ORACLE_SOLE_LATE_SUPPLIERS = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 1000 DAY
)
SELECT s_name, count(*) AS numwait
FROM (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
  FROM late l1
  WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
  )
) sole
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""


def q_bpe_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Whitespace vs BPE-ish pre-token counts per document (north-star
    "token counting" — whitespace + a BPE-ish regex)."""
    d = read_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count("text").cast("bigint").alias("ws_tokens"),
        bpe_ish_token_count("text").cast("bigint").alias("bpe_tokens"),
    )


ORACLE_BPE_TOKEN_COUNTS = """
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS bpe_tokens
FROM documents
"""


def q_json_struct_events(spark: SparkSession, sf: str) -> DataFrame:
    """Typed JSON parsing (vs the per-path ``get_json_object`` of
    q_json_props_sum): ``from_json`` with a declared schema parses `props`
    once into a struct; at 100 TB one parse beats N path extractions."""
    e = read_table(spark, sf, "events")
    parsed = e.withColumn(
        "p", F.from_json("props", "k bigint")
    )
    # duplicate-key objects are ambiguous (from_json alone would take the
    # LAST occurrence while DuckDB takes the first): their k is NULL. The
    # typed parse itself already rejects non-integral numerals — a JSON
    # -0.0/2.5 fails the declared BIGINT and nulls out.
    k = F.when(~_json_ambiguous("props"), F.col("p.k"))
    return parsed.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"),
        F.max(k).alias("k_max"),
        F.count(F.when(k.isNull(), 1)).alias("n_null"),
    )


ORACLE_JSON_STRUCT_EVENTS = f"""
WITH t AS (
  -- json_valid guard: the engine's PERMISSIVE from_json yields NULL k on
  -- malformed/NULL props; DuckDB's json_extract THROWS on malformed.
  -- The json_type clause mirrors the typed parse (only integral JSON
  -- numerals coerce to BIGINT); the dup guard mirrors _json_ambiguous.
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
               AND NOT ({_sql_json_dup("props")})
               AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
              THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
         END AS k
  FROM events
)
SELECT event_type,
       CAST(sum(k) AS BIGINT) AS k_sum,
       max(k) AS k_max,
       count(CASE WHEN k IS NULL THEN 1 END) AS n_null
FROM t
GROUP BY event_type
"""


def q_array_stats_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Array-function coverage directly over the array<float> column:
    length, L1 norm, max |component|, mean of the first 8 — all JVM
    higher-order expressions, no explode, no Python."""
    emb = read_table(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    # the folds SKIP NULL components (coalesce to the additive identity):
    # the oracle's list_sum skips NULLs like SQL SUM, while a bare
    # a + NULL fold would swallow the whole norm into NULL — a silent
    # cross-engine divergence on any half-failed encoder row. array_max
    # already skips NULL elements in both engines. An EMPTY array sums
    # to NULL, not the fold's 0.0 seed — list_sum([]) is NULL (the SQL
    # sum-of-no-rows convention), found by the round-7 empty-vector row.
    l1 = F.when(
        F.size(v) > 0,
        F.aggregate(
            v, F.lit(0.0), lambda a, x: a + F.coalesce(F.abs(x), F.lit(0.0))
        ),
    )
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    head_mean = F.when(
        F.size(v) > 0,
        F.aggregate(
            F.slice(v, 1, 8),
            F.lit(0.0),
            lambda a, x: a + F.coalesce(x, F.lit(0.0)),
        )
        / F.lit(8.0),
    )
    return emb.select(
        "vec_id",
        safe_size("embedding").alias("dim"),
        F.round(l1, 4).alias("l1_norm"),
        F.round(amax, 4).alias("abs_max"),
        # + 0.0 canonicalizes IEEE negative zero (round can yield -0.0
        # in one engine and +0.0 in the other for tiny negative means)
        (F.round(head_mean, 4) + F.lit(0.0)).alias("head8_mean"),
    )


ORACLE_ARRAY_STATS_EMBEDDINGS = """
SELECT vec_id,
       len(embedding) AS dim,
       round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 4) AS l1_norm,
       round(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 4) AS abs_max,
       round(list_sum(CAST(embedding[1:8] AS DOUBLE[])) / 8.0, 4) + 0.0 AS head8_mean
FROM embeddings
"""


# ---------------------------------------------------------------------------
# hash-based ops with no SQL equivalent → rows-only checks
# ---------------------------------------------------------------------------

def q_minhash_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dup discovery, emitted as an oracle-checkable
    QUALITY CONTRACT (the `hll_user_sketches` pattern): the hash-dependent
    pair set itself is not SQL-derivable, so the query joins the LSH pairs
    against the exact capped-gram Jaccard pairs (`ngram_jaccard_pairs`,
    the ground truth MinHash approximates) and emits the exact true-pair
    count plus pinned recall/precision ≥ 0.8 booleans (integer
    arithmetic; measured 1.0/1.0 at sf0.01). The raw pair output stays
    available via `dedup.minhash_lsh_pairs` and is unit-tested."""
    d = read_table(spark, sf, "documents")
    # ONE shingle index feeds all three consumers (truth, discovery,
    # universe): the explicit handle documents that they MUST agree on
    # (id_col, text_col, n) — recompute-per-consumer stays the execution
    # strategy (see ngram_jaccard_pairs' shingles note: sharing or
    # persisting measured neutral-to-worse at sf0.1)
    inv = dedup.shingle_index(d, id_col="doc_id", text_col="text", n=3)
    true_pairs = dedup.ngram_jaccard_pairs(
        d, shingle_n=3, threshold=0.3, df_cap=_DF_CAP, shingles=inv
    ).select("a", "b")
    mh = dedup.minhash_lsh_pairs(
        d, jaccard_threshold=0.3, shingles=inv
    ).select("a", "b")
    # precision is measured over the COMPARABLE universe: docs with ≥1
    # informative (df ≤ cap) gram. On a boilerplate-dominated corpus
    # (round-8 content-skew probe: 50% of docs sharing one text) MinHash
    # correctly emits the identical-doc pairs while the capped-gram truth
    # correctly refuses to score them — judging one against the other
    # outside the shared universe is a category error, not low precision.
    # Recall is unaffected (true pairs only contain informative docs).
    informative = dedup.informative_doc_ids(
        d, shingle_n=3, df_cap=_DF_CAP, shingles=inv
    )
    mh_cmp = mh.join(
        informative.withColumnRenamed("doc_id", "a"), "a"
    ).join(informative.withColumnRenamed("doc_id", "b"), "b")
    hits = mh_cmp.join(true_pairs, ["a", "b"])
    counts = (
        true_pairs.agg(F.count(F.lit(1)).alias("n_true_pairs"))
        .crossJoin(mh_cmp.agg(F.count(F.lit(1)).alias("_n_mh")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
    )
    return counts.select(
        "n_true_pairs",
        (F.col("_n_hit") * 5 >= F.col("n_true_pairs") * 4).alias(
            "recall_ge_80pct"
        ),
        (F.col("_n_hit") * 5 >= F.col("_n_mh") * 4).alias(
            "precision_ge_80pct"
        ),
    )


def q_simhash_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash fingerprints, as an oracle-checkable invariant: fingerprints
    are hash-defined (not SQL-derivable), but identical texts MUST map to
    identical 64-bit fingerprints — the property exact dedup relies on.
    Emits the exact doc/text-group counts plus that pinned invariant; the
    raw (doc_id, simhash) output stays available via
    `dedup.simhash_fingerprints` and is unit-tested."""
    d = read_table(spark, sf, "documents")
    fp = dedup.simhash_fingerprints(d)
    # group on a 64-bit text hash, not the text itself — the equality
    # check shuffles 8-byte keys at any scale (same trade as
    # dedup_exact_docs' md5 keying; collision odds ~2^-64)
    per_text = (
        d.join(fp, "doc_id")
        .groupBy(F.xxhash64("text").alias("_tg"))
        .agg(F.countDistinct("simhash").alias("_nfp"))
    )
    return (
        d.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(
            per_text.agg(
                F.count(F.lit(1)).alias("n_text_groups"),
                # vacuously TRUE on an empty corpus (max over empty is
                # NULL; the oracle emits the literal invariant) —
                # empty-corpus probe, round 7b
                F.coalesce(F.max("_nfp") <= 1, F.lit(True)).alias(
                    "exact_dups_share_fp"
                ),
            )
        )
        .select("n_docs", "n_text_groups", "exact_dups_share_fp")
    )


def q_lsh_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Sign-LSH ANN as an oracle-checkable recall contract: the bucketed
    top-k joins against the exact `ann_cosine_topk` baseline and the query
    emits SQL-derivable counts plus a pinned recall@5 ≥ 0.8 flag
    (bits=4/tables=32 measures 0.98 at sf0.01 — near-uniform 64-d vectors
    are sign-LSH's hard case, per-bit collision ~0.63 at the ~63° angles
    of true neighbors, hence the high table count). Raw per-pair output
    stays available via `similarity.lsh_bucket_topk`."""
    # .distinct(): the set/recall contract ranks the LOGICAL corpus —
    # physically duplicated rows (double-loaded parquet; round-10
    # duplication fixture) otherwise land twice in a top-k and fan out
    # the hits equi-join, exactly the revisit the round-8 assumption
    # note in _sql_expected_topk_summary called for.
    emb = read_table(spark, sf, "embeddings").distinct()
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = similarity.ann_cosine_topk(emb, queries, k=5).select(
        "q_id", "neighbor_id"
    )
    approx = similarity.lsh_bucket_topk(
        emb, queries, k=5, bits=4, tables=32
    ).select("q_id", "neighbor_id")
    hits = approx.join(exact, ["q_id", "neighbor_id"])
    return (
        exact.agg(
            F.countDistinct("q_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact_pairs"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
        .select(
            "n_queries",
            "n_exact_pairs",
            (F.col("_n_hit") * 5 >= F.col("n_exact_pairs") * 4).alias(
                "recall_at_5_ge_80pct"
            ),
        )
    )


def q_ivf_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN as an oracle-checkable recall contract (see q_lsh_ann_topk):
    probing 6 of the 10 label-mean inverted lists measures recall@5 = 0.80
    at sf0.01 (uniform data is IVF's worst case — neighbors spread across
    cells), pinned at ≥ 0.7. Raw output via `similarity.ivf_topk`."""
    # .distinct(): the set/recall contract ranks the LOGICAL corpus —
    # physically duplicated rows (double-loaded parquet; round-10
    # duplication fixture) otherwise land twice in a top-k and fan out
    # the hits equi-join, exactly the revisit the round-8 assumption
    # note in _sql_expected_topk_summary called for.
    emb = read_table(spark, sf, "embeddings").distinct()
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = similarity.ann_cosine_topk(emb, queries, k=5).select(
        "q_id", "neighbor_id"
    )
    approx = similarity.ivf_topk(emb, queries, k=5, nprobe=6).select(
        "q_id", "neighbor_id"
    )
    hits = approx.join(exact, ["q_id", "neighbor_id"])
    return (
        exact.agg(
            F.countDistinct("q_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact_pairs"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
        .select(
            "n_queries",
            "n_exact_pairs",
            (F.col("_n_hit") * 10 >= F.col("n_exact_pairs") * 7).alias(
                "recall_at_5_ge_70pct"
            ),
        )
    )


ORACLE_MINHASH_NEARDUP_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), idx AS (
  SELECT doc_id, t, unnest(range(0, greatest(len(t) - 2, 0))) AS i FROM toks
), sh AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS g
  FROM idx
), gok AS (
  SELECT g FROM sh GROUP BY g HAVING count(*) <= {_DF_CAP}
), shc AS (
  SELECT sh.doc_id, sh.g FROM sh JOIN gok USING (g)
), sz AS (
  SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id
), pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
  FROM shc x JOIN shc y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT count(*) AS n_true_pairs,
       TRUE AS recall_ge_80pct,
       TRUE AS precision_ge_80pct
FROM pairs
JOIN sz sa ON sa.doc_id = a
JOIN sz sb ON sb.doc_id = b
WHERE round(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 4) >= 0.3
"""


ORACLE_SIMHASH_FINGERPRINTS = """
SELECT count(*) AS n_docs,
       -- the fingerprint op excludes NULL-id docs (undereferenceable;
       -- round-8 NULL-PK class), so text groups count id-bearing docs
       count(DISTINCT CASE WHEN doc_id IS NOT NULL THEN text END)
         AS n_text_groups,
       TRUE AS exact_dups_share_fp
FROM documents
"""


ORACLE_LSH_ANN_TOPK = _sql_expected_topk_summary("recall_at_5_ge_80pct")


ORACLE_IVF_ANN_TOPK = _sql_expected_topk_summary("recall_at_5_ge_70pct")


def q_minhash_pairs_raw(spark: SparkSession, sf: str) -> DataFrame:
    """Raw MinHash-LSH pair output — the operator as a pipeline runs it
    (bench headline; hash-based ⇒ rows-only: TERMINAL, by construction —
    the surviving pair set depends on xxhash64 band signatures, which no
    DuckDB expression can recompute, so no hashable oracle can ever
    exist). Its correctness is proven by the `minhash_neardup_pairs`
    recall/precision contract against exact capped-gram Jaccard."""
    d = read_table(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(d, jaccard_threshold=0.3)


def q_ivf_topk_raw(spark: SparkSession, sf: str) -> DataFrame:
    """Raw IVF ANN top-k output (bench headline; approximate ⇒ rows-only:
    TERMINAL, by construction — the probed-list contents depend on the
    hash-seeded codebook, unreproducible in DuckDB). Correctness proven by
    the `ivf_ann_topk` recall contract."""
    emb = read_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.ivf_topk(emb, queries, k=5, nprobe=6)


def q_kmeans_doc_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus (deterministic
    k-means|| init, BLAS partial-sum iterations), then a zero-shuffle JVM assignment
    pass — emitted as an oracle-checked conservation contract (every
    vector assigned to exactly one of ≤ k clusters; total = corpus count,
    exactly countable in SQL). Per-cluster profiles stay available via
    `similarity.kmeans_assign`; unit tests pin blob recovery and
    determinism."""
    emb = read_table(spark, sf, "embeddings")
    cents = similarity.kmeans_fit(emb, k=8, max_iter=4, seed=42)
    assigned = similarity.kmeans_assign(emb, cents)
    per = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("_n"))
    # empty-corpus contract (round 7b probe): zero assignable vectors ->
    # (0, TRUE, TRUE) — the conservation and non-emptiness invariants
    # hold vacuously (sum/min over empty are NULL, which would NULL the
    # report while the oracle counts 0)
    return (
        per.agg(
            F.coalesce(F.sum("_n"), F.lit(0))
            .cast("bigint")
            .alias("total_vectors"),
            (F.count(F.lit(1)) <= 8).alias("n_clusters_le_k"),
            F.min("_n").cast("bigint").alias("min_cluster_size"),
        )
        .select(
            "total_vectors",
            "n_clusters_le_k",
            F.coalesce(F.col("min_cluster_size") >= 1, F.lit(True)).alias(
                "no_empty_output_rows"
            ),
        )
    )


ORACLE_KMEANS_DOC_CLUSTERS = f"""
-- conservation is over ASSIGNABLE vectors: NULL and non-finite
-- embeddings are excluded from every fit/assign path (the uniform
-- usable-vector contract, similarity._drop_null_vectors)
SELECT count(*) AS total_vectors, TRUE AS n_clusters_le_k,
       TRUE AS no_empty_output_rows
FROM embeddings
WHERE {_SQL_FINITE_VEC}
"""


def q_ivf_kmeans_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN with a TRAINED k-means coarse quantizer (vs q_ivf_ann_topk's
    label-mean codebook), as an oracle-checked recall contract: probing
    4 of 8 trained lists measures recall@5 = 0.74 at sf0.01 / 0.82 at
    sf0.1 (near-uniform embeddings scatter true neighbors across cells —
    IVF's worst case), pinned at ≥ 0.6. Raw output via
    `similarity.ivf_kmeans_topk`."""
    # .distinct(): the set/recall contract ranks the LOGICAL corpus —
    # physically duplicated rows (double-loaded parquet; round-10
    # duplication fixture) otherwise land twice in a top-k and fan out
    # the hits equi-join, exactly the revisit the round-8 assumption
    # note in _sql_expected_topk_summary called for.
    emb = read_table(spark, sf, "embeddings").distinct()
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = similarity.ann_cosine_topk(emb, queries, k=5).select(
        "q_id", "neighbor_id"
    )
    approx = similarity.ivf_kmeans_topk(
        emb, queries, n_clusters=8, k=5, nprobe=4, seed=42
    ).select("q_id", "neighbor_id")
    hits = approx.join(exact, ["q_id", "neighbor_id"])
    return (
        exact.agg(
            F.countDistinct("q_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact_pairs"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
        .select(
            "n_queries",
            "n_exact_pairs",
            (F.col("_n_hit") * 10 >= F.col("n_exact_pairs") * 6).alias(
                "recall_at_5_ge_60pct"
            ),
        )
    )


ORACLE_IVF_KMEANS_TOPK = _sql_expected_topk_summary("recall_at_5_ge_60pct")


def q_simhash_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash banded Hamming near-dup discovery as an oracle-checked
    planted-pair contract: 50 exact duplicates are planted (doc_id+1e6
    clones); identical text ⇒ identical fingerprint ⇒ Hamming 0, and the
    block-permutation candidate scheme is pigeonhole-exact for
    hamming < blocks, so EVERY planted pair must be recovered — pinned
    TRUE. Raw pair output stays available via `q_simhash_pairs_raw`."""
    d = read_table(spark, sf, "documents")
    redo = d.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    pairs = dedup.simhash_neardup_pairs(d.unionByName(redo), max_hamming=3)
    # a NULL-text doc has NO fingerprint (explode of a NULL token stream
    # yields nothing), so its clone pair is honestly unrecoverable — the
    # planted set counts fingerprintable docs only (all-NULL-payload
    # probe, round 7b; empty/whitespace text DOES fingerprint: split of
    # a trimmed '' yields one ''-token)
    planted = d.filter(
        (F.col("doc_id") < 50) & F.col("text").isNotNull()
    ).select(
        F.col("doc_id").alias("a"),
        (F.col("doc_id") + 1_000_000).alias("b"),
    )
    found = planted.join(pairs, ["a", "b"], "leftsemi")
    return (
        planted.agg(F.count(F.lit(1)).alias("n_planted"))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("_n_found")))
        .select(
            "n_planted",
            (F.col("_n_found") == F.col("n_planted")).alias(
                "all_planted_pairs_found"
            ),
        )
    )


ORACLE_SIMHASH_NEARDUP_PAIRS = """
-- fingerprintable (non-NULL-text) docs only: a NULL-text clone pair is
-- honestly unrecoverable (no fingerprint on either side)
SELECT count(*) AS n_planted, TRUE AS all_planted_pairs_found
FROM documents WHERE doc_id < 50 AND text IS NOT NULL
"""


def q_semantic_decontaminated(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-based benchmark decontamination
    (`decontaminate.semantic_decontaminate`): treat vec_id < 20 as the
    (broadcast) eval suite; survivors are corpus vectors with cosine < 0.4
    to every benchmark vector. Exact ⇒ fully oracle-checked, including
    which ids survive (aggregated per label)."""
    emb = read_table(spark, sf, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 20)
    bench = emb.filter(F.col("vec_id") < 20)
    out = decontaminate.semantic_decontaminate(
        corpus, bench, threshold=0.4
    )
    # the survivor-membership checksum runs in DECIMAL(38,0), modulo
    # 1e9+7: a bigint sum with one int64-edge id is an order-dependent
    # ANSI ARITHMETIC_OVERFLOW (int64-edge-key probe, round 7b)
    return out.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.expr(
            "CAST(pmod(sum(CAST(vec_id AS DECIMAL(38,0))), 1000000007)"
            " AS BIGINT)"
        ).alias("id_sum_mod"),
    )


ORACLE_SEMANTIC_DECONTAMINATED = f"""
WITH c AS (
  -- scorable = NULL-free, non-finite-free (a NaN cosine is not NULL —
  -- it would compare engine-defined), and non-zero norm
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         ({_SQL_FINITE_VEC} AND
          list_dot_product(CAST(coalesce(embedding, [0.0]) AS DOUBLE[]),
                           CAST(coalesce(embedding, [0.0]) AS DOUBLE[])) > 0)
           AS scorable
  FROM embeddings WHERE vec_id >= 20
), b AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id < 20 AND {_SQL_FINITE_VEC}
    AND list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])) > 0
), hits AS (
  -- un-scorable corpus rows survive (the engine's anti-join condition is
  -- NULL for them, so they never match); the join keeps NULL/zero-norm
  -- vectors away from list_cosine_similarity (which errors on NULL) by
  -- filtering BEFORE the function is projected.
  -- Identity is (vec_id, vector), NOT vec_id alone: decontamination is
  -- per ROW — a row is contaminated by ITS OWN content. A duplicated
  -- vec_id carrying a clean vector next to a contaminated one (round-8
  -- skew×dirty cross probe) must keep the clean row, exactly like the
  -- engine's row-level left-anti; rows identical in BOTH id and vector
  -- share one hits entry and one fate, which is the same thing. The
  -- vector key is the list's text form (deterministic in DuckDB).
  SELECT DISTINCT c.vec_id, CAST(c.v AS VARCHAR) AS vkey
  FROM c JOIN b ON c.scorable
  WHERE round(list_cosine_similarity(c.v, b.v), 4) >= 0.4
)
SELECT label, count(*) AS n_survivors,
       -- HUGEINT sum, non-negative modulus (pmod mirror)
       CAST(((sum(CAST(vec_id AS HUGEINT)) % 1000000007) + 1000000007)
            % 1000000007 AS BIGINT) AS id_sum_mod
FROM c
-- NULL-safe NOT EXISTS, not NOT IN: a NULL vec_id in either side of a
-- NOT IN poisons the whole membership test three-valued-ly
WHERE NOT EXISTS (
  SELECT 1 FROM hits h
  WHERE h.vec_id IS NOT DISTINCT FROM c.vec_id
    AND h.vkey IS NOT DISTINCT FROM CAST(c.v AS VARCHAR)
)
GROUP BY label
"""


def q_reservoir_docs_per_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-key sampling (`sampling.reservoir_per_key`): 20
    documents per language by md5 rank — stable under re-runs and
    appends, and the oracle checks WHICH docs are sampled (md5 exists in
    both engines), not just the counts."""
    d = read_table(spark, sf, "documents")
    out = sampling.reservoir_per_key(d, "lang", "doc_id", 20)
    return out.select("lang", "doc_id", "n_chars")


ORACLE_RESERVOIR_DOCS_PER_LANG = """
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ''), doc_id
         ) AS rn
  -- NULL doc_id excluded: reservoir_per_key drops NULL rank keys (a
  -- NULL md5 sorts first in Spark, last here; round-8 NULL-PK class)
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT lang, doc_id, n_chars FROM ranked WHERE rn <= 20
"""


def q_packed_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concatenate-then-chunk sequence packing (`packing.pack_sequences`):
    per-language documents laid end-to-end in doc_id order, cut every 2048
    whitespace tokens (GPT-style pretraining batches). The prefix-sum
    offsets come from a two-level block scan (no whole-stream window task);
    block_size=32 forces multiple blocks per language even at sf0.01 so the
    oracle — a plain single-window cumulative sum — proves the block
    decomposition exact, not just the happy path."""
    d = read_table(spark, sf, "documents")
    # pack at (lang, doc_id) GRAIN: pack_sequences requires a per-stream-
    # unique order key, and a duplicated doc_id (a re-crawled URL under a
    # reused id) would tie in the prefix scan — the two rows' offsets
    # then swap engine-arbitrarily (caught by the round-7 dirty sweep
    # after a new row perturbed the tie luck). Duplicate ids contribute
    # their summed tokens at one stream position; unique ids unchanged.
    toks = (
        d.selectExpr(
            "lang",
            "doc_id",
            f"CAST({token_count_sql('text')} AS bigint)"
            " AS n_tokens",
        )
        .groupBy("lang", "doc_id")
        .agg(F.expr("sum(n_tokens) AS n_tokens"))
    )
    out = packing.pack_sequences(
        toks, "lang", "doc_id", "n_tokens", capacity=2048, block_size=32
    )
    return out.select(
        "lang", "doc_id", "n_tokens", "start_offset", "seq_id", "n_seqs_spanned"
    )


ORACLE_PACKED_SEQUENCES = """
WITH t AS (
  -- (lang, doc_id) grain mirrors the Spark twin: duplicate ids pack as
  -- one stream position carrying their summed tokens
  SELECT lang, doc_id,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  -- NULL doc_id excluded: pack_sequences drops NULL order keys (a NULL
  -- key's stream position is engine-defined; round-8 NULL-PK class)
  FROM documents WHERE doc_id IS NOT NULL GROUP BY lang, doc_id
), o AS (
  SELECT lang, doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
  FROM t
)
SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(floor(start_offset / 2048.0) AS BIGINT) AS seq_id,
       CAST(floor((start_offset + greatest(n_tokens, 1) - 1) / 2048.0)
            - floor(start_offset / 2048.0) + 1 AS BIGINT) AS n_seqs_spanned
FROM o
"""


def q_mixture_sampled_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-resampled source mixture (`packing.mixture_sample`,
    alpha=0.5): kept counts per source follow sqrt(n_s), smallest source
    kept whole, membership md5-content-hashed so the SELECTION (not just
    the counts) is engine-reproducible — the oracle re-derives every
    per-row keep decision."""
    d = read_table(spark, sf, "documents")
    out = packing.mixture_sample(d, "source", "doc_id", alpha=0.5)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("keep").cast("bigint")).cast("bigint").alias("n_kept"),
    )


ORACLE_MIXTURE_SAMPLED_DOCS = """
WITH cnt AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
), mn AS (
  SELECT min(n) AS n_min FROM cnt
), r AS (
  SELECT source, power(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE), 0.5) AS rate
  FROM cnt CROSS JOIN mn
), k AS (
  SELECT d.source,
         CASE WHEN (
             (strpos('0123456789abcdef', substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 4, 1)) - 1)
         ) / 65536.0 < r.rate THEN 1 ELSE 0 END AS keep
  -- null-safe: the NULL-source group is sampled like any other (the
  -- engine's rate join-back is eqNullSafe)
  FROM documents d JOIN r ON d.source IS NOT DISTINCT FROM r.source
)
SELECT source, count(*) AS n_total, CAST(sum(keep) AS BIGINT) AS n_kept
FROM k GROUP BY source
"""


def q_gap_fill_linear_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Dense hourly grid with linear interpolation across interior gaps
    (`timeseries.gap_fill_linear`) — the resample-and-interpolate half of
    the timeseries surface (forward-fill is `gap_fill_hourly`). Shares
    gap_fill_hourly's valid-decade domain guard against grid explosion."""
    e = read_table(spark, sf, "events")
    return timeseries.gap_fill_linear(
        e, "ts", "1 hour", "event_type", "value",
        domain=("2020-01-01", "2030-01-01"),
    )


ORACLE_GAP_FILL_LINEAR_HOURLY = """
WITH b AS (
  -- clock-less events belong to no bucket; NULL and non-finite values
  -- are failed measurements — excluded from BOTH the sum (isfinite scrub
  -- mirrors Spark's ANSI cast(non-finite AS DECIMAL) = NULL) and the count
  SELECT time_bucket(INTERVAL '1 hour', ts) AS bk, event_type,
         round(CAST(sum(CAST(CASE WHEN isfinite(value)
                              AND abs(value) < 1e14
                             THEN value
                             END AS DECIMAL(20,6))) AS DOUBLE)
               / count(CASE WHEN value IS NOT NULL AND isfinite(value)
                             AND abs(value) < 1e14
                            THEN 1 END)
               * 10000.0, 0) / 10000.0 AS v
  FROM events
  WHERE ts IS NOT NULL
    -- domain guard: mirrors the Spark side's grid-explosion bound
    AND ts >= TIMESTAMP '2020-01-01' AND ts < TIMESTAMP '2030-01-01'
  GROUP BY 1, 2
), bounds AS (
  SELECT min(bk) AS lo, max(bk) AS hi FROM b
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bk FROM bounds
), keys AS (
  SELECT DISTINCT event_type FROM b
), grid AS (
  SELECT s.bk, k.event_type FROM spine s CROSS JOIN keys k
), g AS (
  SELECT grid.bk, grid.event_type, b.v,
         epoch(grid.bk) AS t
  FROM grid LEFT JOIN b
    ON b.bk = grid.bk AND b.event_type IS NOT DISTINCT FROM grid.event_type
), w AS (
  SELECT bk, event_type, v, t,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bk
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bk
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM g
)
SELECT event_type, strftime(bk, '%Y-%m-%d %H:%M:%S') AS window_start,
       CASE WHEN v IS NOT NULL THEN v
            ELSE round(((pv * 10000.0) * (nt - t) + (nv * 10000.0) * (t - pt))
                       / (nt - pt), 0) / 10000.0
       END AS interp_value
FROM w
"""


def q_profile_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass ANALYZE-style column profiling (`functions/profile.py`):
    null counts, exact cardinality, range, and mean for the lineitem
    measures, unpivoted to long form — all metrics algebraic, one scan.
    The mean uses the exact-decimal sum idiom so the double is
    cross-engine deterministic."""
    from statline_bq_spark.functions import profile

    li = read_table(spark, sf, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    # mean via exact decimal to dodge float sum-order divergence
    out = profile.profile_numeric(li, cols, round_to=4)
    exact_means = li.agg(
        *[
            (
                # _quantizable: ANSI decimal cast NULLs NaN/Inf but
                # THROWS on a finite 1e300 (the oracle mirrors)
                F.sum(_quantizable(F.col(c)).cast("decimal(20,6)"))
                / F.count(F.lit(1))
            ).cast("double").alias(c)
            for c in cols
        ]
    )
    means_long = exact_means.select(
        F.expr(
            "stack(4, "
            + ", ".join(f"'{c}', {c}" for c in cols)
            + ") AS (column, _mean_exact)"
        )
    )
    return (
        out.join(means_long, "column")
        .select(
            "column", "n_rows", "n_nulls", "n_distinct", "min_v", "max_v",
            F.round("_mean_exact", 4).alias("mean_v"),
        )
    )


ORACLE_PROFILE_LINEITEM = """
-- n_nulls coalesced: zero input rows = zero nulls (sum over empty is
-- NULL; Spark's profile counts 0) — empty-corpus probe, round 7b
-- + 0.0 on min/max/mean: DuckDB's round keeps IEEE -0.0 (a -0.0 or
-- negative-subnormal extremum), Spark's round normalizes it (round 9)
SELECT 'l_quantity' AS column, count(*) AS n_rows,
       CAST(coalesce(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
       count(DISTINCT l_quantity) AS n_distinct,
       round(CAST(min(l_quantity) AS DOUBLE), 4) + 0.0 AS min_v,
       round(CAST(max(l_quantity) AS DOUBLE), 4) + 0.0 AS max_v,
       round(CAST(sum(CAST(CASE WHEN isfinite(l_quantity) AND abs(l_quantity) < 1e14 THEN l_quantity END AS DECIMAL(20,6))) / count(*) AS DOUBLE), 4) + 0.0 AS mean_v
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*),
       CAST(coalesce(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
       count(DISTINCT l_extendedprice),
       round(CAST(min(l_extendedprice) AS DOUBLE), 4) + 0.0,
       round(CAST(max(l_extendedprice) AS DOUBLE), 4) + 0.0,
       round(CAST(sum(CAST(CASE WHEN isfinite(l_extendedprice) AND abs(l_extendedprice) < 1e14 THEN l_extendedprice END AS DECIMAL(20,6))) / count(*) AS DOUBLE), 4) + 0.0
FROM lineitem
UNION ALL
SELECT 'l_discount', count(*),
       CAST(coalesce(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
       count(DISTINCT l_discount),
       round(CAST(min(l_discount) AS DOUBLE), 4) + 0.0,
       round(CAST(max(l_discount) AS DOUBLE), 4) + 0.0,
       round(CAST(sum(CAST(CASE WHEN isfinite(l_discount) AND abs(l_discount) < 1e14 THEN l_discount END AS DECIMAL(20,6))) / count(*) AS DOUBLE), 4) + 0.0
FROM lineitem
UNION ALL
SELECT 'l_tax', count(*),
       CAST(coalesce(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
       count(DISTINCT l_tax),
       round(CAST(min(l_tax) AS DOUBLE), 4) + 0.0,
       round(CAST(max(l_tax) AS DOUBLE), 4) + 0.0,
       round(CAST(sum(CAST(CASE WHEN isfinite(l_tax) AND abs(l_tax) < 1e14 THEN l_tax END AS DECIMAL(20,6))) / count(*) AS DOUBLE), 4) + 0.0
FROM lineitem
"""


def q_cms_supplier_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch per-key frequency estimates (the §2.C approximate-op
    family beyond HLL/KLL/freqItems), as an oracle-checked contract: one
    `count_min_sketch` aggregate (map-side partials, constant memory — the
    one-pass way to answer point-frequency queries over 100 TB) is read
    back driver-side (a single bounded binary, like a codebook) and probed
    for the exact top-10 suppliers. Emits the exact counts plus CMS's two
    defining guarantees, pinned: estimates never underestimate, and
    overshoot ≤ 2·eps·N (eps=0.001, so width 2719 counters; deterministic
    seed)."""
    li = read_table(spark, sf, "lineitem")
    row = li.agg(
        F.expr("count_min_sketch(l_suppkey, 0.001d, 0.99d, 42)").alias("sk")
    ).collect()[0]
    jsk = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(row["sk"])
    )
    top = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), "l_suppkey")
        .limit(10)
        .collect()
    )
    n_rows = li.count()
    data = []
    for r in top:
        est = int(jsk.estimateCount(int(r["l_suppkey"])))
        data.append(
            (
                int(r["l_suppkey"]),
                int(r["n_exact"]),
                est >= r["n_exact"],
                (est - r["n_exact"]) * 500 <= n_rows,
            )
        )
    return spark.createDataFrame(
        data,
        "l_suppkey long, n_exact bigint, cms_never_underestimates boolean,"
        " cms_within_2eps boolean",
    )


ORACLE_CMS_SUPPLIER_COUNTS = """
SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey, count(*) AS n_exact,
       TRUE AS cms_never_underestimates, TRUE AS cms_within_2eps
FROM lineitem
GROUP BY l_suppkey
ORDER BY n_exact DESC, l_suppkey
LIMIT 10
"""


def q_fuzzy_supplier_names(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution (`dedup.fuzzy_pairs`): supplier-name pairs within
    Levenshtein 1, discovered via a df-capped character-trigram inverted
    index and verified with the JVM `levenshtein` intrinsic. The oracle
    mirrors the gram candidate rule exactly (the contract is "within
    max_dist AND sharing an uncapped q-gram"), so the scalable-join
    semantics — not just the metric — are engine-checked."""
    sup = read_table(spark, sf, "supplier")
    pairs = dedup.fuzzy_pairs(
        sup, id_col="s_suppkey", str_col="s_name", max_dist=1, q=3, df_cap=64
    )
    # the pair-membership checksum runs in DECIMAL(38,0) and emits
    # MODULO 1e9+7: the bigint row-level a+b (and the sum itself)
    # overflow on int64-edge keys — ANSI ARITHMETIC_OVERFLOW kills the
    # job on one extreme id (int64-edge-key probe, round 7b)
    return pairs.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr(
            "CAST(pmod(sum(CAST(a AS DECIMAL(38,0)) + b), 1000000007)"
            " AS BIGINT)"
        ).alias("key_sum_mod"),
    )


ORACLE_FUZZY_SUPPLIER_NAMES = """
WITH g AS (
  SELECT DISTINCT s_suppkey AS id,
         substr(s_name, CAST(i AS INT), 3) AS gram
  FROM supplier,
       unnest(range(1, greatest(len(s_name) - 2, 0) + 1)) AS t(i)
), gok AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) <= 64
), gc AS (
  SELECT g.id, g.gram FROM g JOIN gok USING (gram)
), cand AS (
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM gc x JOIN gc y ON x.gram = y.gram AND x.id < y.id
), verified AS (
  SELECT cand.a, cand.b, levenshtein(sa.s_name, sb.s_name) AS dist
  FROM cand
  JOIN supplier sa ON sa.s_suppkey = cand.a
  JOIN supplier sb ON sb.s_suppkey = cand.b
  WHERE abs(len(sa.s_name) - len(sb.s_name)) <= 1
)
-- HUGEINT sum, non-negative modulus (pmod mirror: DuckDB % keeps the
-- dividend sign)
SELECT dist, count(*) AS n_pairs,
       CAST(((sum(CAST(a AS HUGEINT) + b) % 1000000007) + 1000000007)
            % 1000000007 AS BIGINT) AS key_sum_mod
FROM verified WHERE dist <= 1
GROUP BY dist
"""


def q_simhash_pairs_raw(spark: SparkSession, sf: str) -> DataFrame:
    """Raw SimHash near-dup pairs over the planted-dup corpus (bench
    headline; hash-based ⇒ rows-only: TERMINAL, by construction — the
    candidate set depends on xxhash64 fingerprints with no DuckDB twin).
    Correctness proven by the `simhash_neardup_pairs` planted-pair
    contract."""
    d = read_table(spark, sf, "documents")
    redo = d.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return dedup.simhash_neardup_pairs(d.unionByName(redo), max_hamming=3)


def q_winnowing_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprints as an oracle-checked invariant: fingerprint
    values are xxhash64-based (no DuckDB equivalent), but identical texts
    MUST produce identical fingerprint sets — the property overlap
    detection relies on. Emits exact doc/text-group counts plus that
    pinned invariant; raw (doc_id, fingerprint) output stays available
    via `dedup.winnowing_fingerprints` and is unit-tested."""
    d = read_table(spark, sf, "documents")
    fps = dedup.winnowing_fingerprints(d)
    per_doc = fps.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("fingerprint")).alias("_fps")
    )
    per_text = (
        d.join(per_doc, "doc_id", "left")
        .groupBy(F.xxhash64("text").alias("_tg"))
        .agg(F.countDistinct("_fps").alias("_n"))
    )
    return (
        d.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(
            per_text.agg(
                F.count(F.lit(1)).alias("n_text_groups"),
                # vacuously TRUE on an empty corpus (see
                # q_simhash_fingerprints)
                F.coalesce(F.max("_n") <= 1, F.lit(True)).alias(
                    "dup_texts_share_fingerprints"
                ),
            )
        )
        .select("n_docs", "n_text_groups", "dup_texts_share_fingerprints")
    )


ORACLE_WINNOWING_FINGERPRINTS = """
-- NULL-text docs form ONE text group (the engine groups on a text hash,
-- so the NULL bucket is a real group); count(DISTINCT text) alone would
-- silently ignore them
SELECT count(*) AS n_docs,
       CAST(count(DISTINCT text)
            + CASE WHEN count(*) > count(text) THEN 1 ELSE 0 END
            AS BIGINT) AS n_text_groups,
       TRUE AS dup_texts_share_fingerprints
FROM documents
"""


def q_event_type_map_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Map-function coverage (§2.C array/map/JSON): per-user event-type
    counts packed into a ``map<string,bigint>`` (``map_from_entries`` over
    ``collect_list(struct(..))``) and unpacked again with ``explode`` —
    the build/consume round trip of the reference's dict-shaped metadata
    (``statline.py:366-368``). The map is internal: output is plain rows so
    the cross-engine hash stays map-order-independent.

    An untyped event counts under the '' key — a NULL map key is ILLEGAL
    in Spark (NULL_MAP_KEY kills the job) and '' cannot collide with a
    real type; the oracle mirrors with coalesce.
    """
    e = read_table(spark, sf, "events").withColumn(
        "event_type", F.coalesce("event_type", F.lit(""))
    )
    per = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    packed = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    unpacked = packed.select(
        "user_id",
        F.map_keys("type_counts").alias("ks"),
        F.explode("type_counts").alias("event_type", "n"),
    )
    return unpacked.select(
        "user_id",
        F.size("ks").alias("n_types"),
        "event_type",
        "n",
    )


ORACLE_EVENT_TYPE_MAP_ROUNDTRIP = """
WITH per AS (
  SELECT user_id, coalesce(event_type, '') AS event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) OVER (PARTITION BY user_id) AS INT) AS n_types,
       event_type, n
FROM per
"""


def q_order_price_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Math/stats coverage (§2.C math fns): variance + stddev of order
    totals per priority — computed from EXACT decimal sums (Σx, Σx² with
    the square taken in decimal, never double) so the result is one
    deterministic double expression per group; native ``var_samp`` would
    hash-mismatch across engines on summation order.
    """
    o = read_table(spark, sf, "orders")
    # (18,6) not (20,6): the square must stay inside precision 38
    # ((18,6)x(18,6) -> (37,12), exact in both engines; (20,6) squared
    # would overflow 38 and round the scale away in Spark only)
    dec = F.col("o_totalprice").cast("decimal(18,6)")
    # moments are over OBSERVED prices: NULL/NaN/out-of-domain rows would
    # inflate n while feeding no sum — and a finite-but-huge price would
    # THROW in the ANSI decimal cast below; try_divide keeps a
    # single-observation group at NULL variance instead of an ANSI
    # DIVIDE_BY_ZERO. bound=1e12, the DECIMAL(18,6) domain — the default
    # 1e14 covers (20,6) but a finite 5e13 would still throw here.
    o = o.filter(_quantizable("o_totalprice", bound=1e12).isNotNull())
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("sum_price"),
        F.sum(dec * dec).cast("double").alias("sum_sq"),
    )
    n = F.col("n")
    var = F.try_divide(
        F.col("sum_sq") - F.col("sum_price") * F.col("sum_price") / n,
        (n - 1).cast("double"),
    )
    return agg.select(
        "o_orderpriority",
        "n",
        var.alias("var_price"),
        F.sqrt(var).alias("stddev_price"),
    )


ORACLE_ORDER_PRICE_MOMENTS = """
WITH agg AS (
  SELECT o_orderpriority,
         count(*) AS n,
         -- (19,6) here vs (18,6) in Spark: DuckDB needs int128 storage for
         -- the square; both products are exact so the sums agree. The
         -- VARCHAR hop matters: DuckDB's direct int128-decimal->double cast
         -- is not correctly rounded, its string parse (like Spark's
         -- BigDecimal.doubleValue) is.
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR)
              AS DOUBLE) AS sum_price,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(19,6))
                     * CAST(o_totalprice AS DECIMAL(19,6))) AS VARCHAR)
              AS DOUBLE) AS sum_sq
  FROM orders
  WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice)
    AND abs(o_totalprice) < 1e12  -- mirrors _quantizable(bound=1e12):
                                  -- the DECIMAL(18,6) domain, not (20,6)
  GROUP BY 1
)
SELECT o_orderpriority, n,
       (sum_sq - sum_price * sum_price / n) / (n - 1) AS var_price,
       sqrt((sum_sq - sum_price * sum_price / n) / (n - 1)) AS stddev_price
FROM agg
"""


def q_chunk_documents_udtf(spark: SparkSession, sf: str) -> DataFrame:
    """Training-data chunking via a Python UDTF (§2.C UDTF surface): each
    document fans out to overlapping 32-token windows (step 24) through an
    Arrow-optimized ``LATERAL`` table function. The oracle mirrors the
    chunk arithmetic with ``generate_series`` + ``list_slice``.

    Scale note: a UDTF is Arrow-batched Python — fine for a real tokenizer
    that must be Python, but this particular chunker has a pure-JVM twin
    (``posexplode(sequence(...))`` + ``slice(split(...))``); the UDTF query
    exists to exercise the UDTF contract end-to-end.
    """
    register_views(spark, sf, ("documents",))
    udtf_mod.register_chunk_udtf(spark)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_tokens
        FROM documents d, LATERAL chunk_text(d.text) c
        """
    )


ORACLE_CHUNK_DOCUMENTS_UDTF = """
-- NULL text chunks to NOTHING: without the filter, greatest(NULL-8, 1)
-- skips the NULL and fabricates one chunk (NULL body, n_tokens 32)
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE text IS NOT NULL
),
starts AS (
  SELECT doc_id, words, len(words) AS n,
         unnest(generate_series(0, greatest(len(words) - 8, 1) - 1, 24)) AS s
  FROM w
)
SELECT doc_id,
       CAST(s // 24 AS INT) AS chunk_idx,
       array_to_string(list_slice(words, s + 1, least(s + 32, n)), ' ') AS chunk,
       CAST(least(s + 32, n) - s AS INT) AS n_tokens
FROM starts
"""


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """The pure-JVM twin of the UDTF chunker: ``posexplode(sequence)`` +
    ``slice``/``array_join`` — no Python in the loop. Same oracle as the
    UDTF variant, so the two formulations are provably equivalent; bench
    compares their throughput.
    """
    d = read_table(spark, sf, "documents")
    return chunk_words(
        d, text_col="text", carry_cols=("doc_id",),
        width=CHUNK_WIDTH, overlap=CHUNK_OVERLAP,
    )


def q_udaf_median_qty(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-aggregate Pandas UDAF (§2.C UDAF surface): exact per-group
    median via numpy over the group's Arrow batch. Oracle-checkable because
    the median of integer-valued doubles is engine-exact (element or
    (a+b)/2). The built-in ``percentile`` is the fast twin — this entry
    proves the custom-UDAF contract end to end.
    """
    li = read_table(spark, sf, "lineitem")
    median = udtf_mod.make_median_udaf()
    n = udtf_mod.make_count_udaf()
    # grouped-agg pandas UDFs can't mix with JVM aggregates in one agg()
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        median("l_quantity").alias("median_qty"),
        n("l_quantity").alias("n"),
    )


ORACLE_UDAF_MEDIAN_QTY = """
-- NaN scrub mirrors the UDAF's dropna: DuckDB's median ranks NaN as a
-- VALUE (sorts greatest) while pandas dropna removes it — the rank-set
-- parity differed by one and the medians split element-vs-average
-- (exposed when the int64-edge rows flipped a group's count parity;
-- green before only by value luck). +/-Inf stays: both engines rank it.
SELECT l_returnflag, l_linestatus,
       median(CASE WHEN NOT isnan(l_quantity) THEN l_quantity END)
         AS median_qty,
       count(*) AS n
FROM lineitem GROUP BY 1, 2
"""


def q_approx_price_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate-ops coverage beyond HLL (q_approx_distinct_users):
    KLL/GK-style quantile sketch (``percentile_approx``) and a guaranteed
    error bound check via the exact percentile — emitted as the exact
    median plus a pinned within-1% flag (accuracy=10000 ⇒ rank error
    ≤ n/10000 ≈ 8 rows per group here), so the sketch is oracle-checked
    on its actual guarantee.

    Scale note: the sketch aggregates with map-side partials and constant
    memory per partition — the only way to get quantiles in one pass over
    100 TB; the exact twin (q_price_percentiles) needs a sort per group.
    """
    li = read_table(spark, sf, "lineitem")
    # NaN prices leave the rank set on both engines identically only if
    # scrubbed: Spark ORDERs NaN greatest, DuckDB percentile_* skips it
    li = li.withColumn("l_extendedprice", _nan_null("l_extendedprice"))
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10_000).alias(
            "approx_q"
        ),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("exact_median"),
        F.count(F.lit(1)).alias("n"),
    )
    return approx.select(
        "l_returnflag",
        "n",
        F.round("exact_median", 2).alias("median_exact"),
        (
            F.abs(F.col("approx_q")[0] - F.col("exact_median")) * 100
            <= F.col("exact_median")
        ).alias("median_within_1pct"),
    )


ORACLE_APPROX_PRICE_SKETCH = """
SELECT l_returnflag, count(*) AS n,
       round(percentile_disc(0.5) WITHIN GROUP (
           ORDER BY CASE WHEN NOT isfinite(l_extendedprice) THEN NULL
                         ELSE l_extendedprice END), 2)
         AS median_exact,
       TRUE AS median_within_1pct
FROM lineitem
GROUP BY l_returnflag
"""


def q_frequent_suppliers_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy-hitters sketch (``freqItems``, a lossy-counting variant): the
    candidate set of suppliers covering >0.5% of lineitems, emitted as an
    oracle-checked containment contract: the sketch may include false
    positives, but every TRUE heavy hitter (exactly countable in SQL)
    must be present — the lossy-counting guarantee, pinned TRUE."""
    li = read_table(spark, sf, "lineitem")
    cand = li.stat.freqItems(["l_suppkey"], 0.005).select(
        F.explode("l_suppkey_freqItems").alias("l_suppkey")
    )
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("_n"))
    total = li.agg(F.count(F.lit(1)).alias("_total"))
    true_heavy = counts.crossJoin(total).filter(
        F.col("_n") * 200 > F.col("_total")
    )
    missing = true_heavy.join(cand, "l_suppkey", "leftanti")
    return (
        true_heavy.agg(F.count(F.lit(1)).alias("n_true_heavy"))
        .crossJoin(missing.agg(F.count(F.lit(1)).alias("_n_miss")))
        .select(
            "n_true_heavy",
            (F.col("_n_miss") == 0).alias("all_true_heavy_in_sketch"),
        )
    )


ORACLE_FREQUENT_SUPPLIERS_SKETCH = """
WITH c AS (
  SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey
), t AS (
  SELECT count(*) AS total FROM lineitem
)
SELECT count(*) AS n_true_heavy, TRUE AS all_true_heavy_in_sketch
FROM c, t WHERE n * 200 > total
"""


def q_train_test_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-based train/test split (north-star pipeline op):
    bucket = first md5 byte of the doc id → <205 (~80%) train. Unlike
    ``df.sample``, a content-hash split is stable under repartitioning,
    re-runs, and incremental appends — the property a 100 TB training
    pipeline actually needs — and md5 exists in both engines, so the split
    itself is oracle-checked, not just the counts.
    """
    d = read_table(spark, sf, "documents")
    return (
        sampling.hash_split(d, "doc_id", {"train": 0.8, "test": 0.2})
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


ORACLE_TRAIN_TEST_SPLIT = """
WITH b AS (
  SELECT lang, n_chars,
         (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
         AS bucket
  FROM documents
)
SELECT CASE WHEN bucket IS NULL THEN NULL
            WHEN bucket < 205 THEN 'train' ELSE 'test' END AS split,
       lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY 1, 2
"""


def q_training_data_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end training-data prep composite, as ONE declarative plan:
    quality gate → exact dedup → chunk → hash split → per-split stats. Every
    stage is a north-star §2.D operator; composing them in one DataFrame
    means Catalyst sees the whole pipeline (filters reach the scan, the
    dedup shuffle is the only wide stage before the final agg).

    Stage thresholds are chosen tie-proof: token counts are integers and the
    stopword ratio is a single exact-int division, so both engines compute
    bit-identical doubles before the comparison.

    Scale note: the dedup shuffle ships the text payload because chunking
    needs it downstream — that's inherent, not waste. When only survivor
    ids are needed, key the dedup on xxhash64(text) instead and shuffle
    8-byte keys (see ``operators/dedup.exact_dedup``).
    """
    d = read_table(spark, sf, "documents")
    # SQL-text form (round 12): identical trees, one round trip per column
    feat = d.selectExpr(
        "doc_id",
        "lang",
        "text",
        f"CAST({token_count_sql('text')} AS bigint) AS n_tokens",
        f"{stopword_ratio_sql('text')} AS stop_ratio",
    )
    kept = feat.filter("(n_tokens BETWEEN 20 AND 80) AND stop_ratio < 0.2D")
    # exact dedup: canonical doc = smallest doc_id per distinct text
    ded = kept.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
    )
    chunked = chunk_words(
        ded, text_col="text", carry_cols=("doc_id", "lang"),
        width=CHUNK_WIDTH, overlap=CHUNK_OVERLAP,
    )
    split = sampling.hash_split(chunked, "doc_id", {"train": 0.8, "test": 0.2})
    return split.groupBy("split", "lang").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
    )


ORACLE_TRAINING_DATA_PIPELINE = """
WITH feat AS (
  SELECT doc_id, lang, text,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> translate(x, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') IN ('the', 'a', 'of', 'and', 'to', 'in')))
              AS DOUBLE)
           / len(string_split_regex(trim(text), '\\s+')) AS stop_ratio
  FROM documents
),
kept AS (
  SELECT * FROM feat WHERE n_tokens BETWEEN 20 AND 80 AND stop_ratio < 0.2
),
ded AS (
  SELECT text, min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
  FROM kept GROUP BY text
),
words AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS w FROM ded
),
chunks AS (
  SELECT doc_id, lang, least(s + 32, len(w)) - s AS n_tokens
  FROM (
    SELECT doc_id, lang, w,
           unnest(generate_series(0, greatest(len(w) - 8, 1) - 1, 24)) AS s
    FROM words
  )
),
b AS (
  SELECT doc_id, lang, n_tokens,
         (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
         AS bucket
  FROM chunks
)
SELECT CASE WHEN bucket < 205 THEN 'train' ELSE 'test' END AS split,
       lang,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM b GROUP BY 1, 2
"""


def q_approx_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event type, as an
    oracle-checkable accuracy contract (`hll_user_sketches` pattern): the
    estimate is sketch-specific, so emit the EXACT distinct count plus a
    pinned within-10% flag (rsd=0.02 ⇒ 10% is a 5-sigma margin)."""
    e = read_table(spark, sf, "events")
    per = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("_approx"),
        F.countDistinct("user_id").alias("n_users_exact"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per.select(
        "event_type",
        "n_users_exact",
        "n_events",
        (
            F.abs(F.col("_approx") - F.col("n_users_exact")) * 10
            <= F.col("n_users_exact")
        ).alias("est_within_10pct"),
    )


ORACLE_APPROX_DISTINCT_USERS = """
SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
       count(*) AS n_events, TRUE AS est_within_10pct
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# TPC-H shape completion (the remaining distinctive relational patterns:
# EXISTS, global scalar subqueries, conditional-aggregate ratios, disjunctive
# multi-clause predicates, min-per-group join-back, nested semi-joins)
# ---------------------------------------------------------------------------


def _dec_sum(col: F.Column | str, alias: str) -> F.Column:
    """Exact DECIMAL(20,6) sum surfaced as DOUBLE — the cross-engine-safe
    money aggregate (per-row quantization makes the sum order-independent;
    the oracle mirrors it with the VARCHAR-cast idiom because DuckDB's
    int128-decimal→double cast is not correctly rounded)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(20,6)")).cast("double").alias(alias)


def q_order_priority_check(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q4-shaped composite: orders in a quarter that have at least one
    line shipped >60 days after the order date (EXISTS → left-semi join),
    counted per priority. Catalyst plans the EXISTS as a semi-join, so each
    qualifying order is counted once no matter how many late lines it has.

    Scale note: both scans are filtered before the semi-join (the date
    window prunes orders; the join condition's ``l_shipdate > o_orderdate``
    can't be pushed, but the semi-join never materializes lineitem columns).
    """
    o = read_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp_ntz(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp_ntz(F.lit("1996-04-01")))
    )
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


ORACLE_ORDER_PRIORITY_CHECK = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


def q_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q8-shaped composite: NATION_3's share of supplier revenue into
    EUROPE customers, per order year — a conditional aggregate ratio
    (sum(CASE)/sum). Both sums are exact decimals; the share is a single
    double division of two identical-across-engines doubles.

    Scale note: region/nation decode chains are broadcasts; the only wide
    shuffles are the fact joins on orderkey/custkey/suppkey. The CASE runs
    map-side inside the final hash aggregate.
    """
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp_ntz(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp_ntz(F.lit("1998-01-01")))
    )
    c = read_table(spark, sf, "customer")
    s = read_table(spark, sf, "supplier")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    cn = F.broadcast(
        n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
            F.col("n_nationkey").alias("c_nk")
        )
    )
    sn = F.broadcast(
        n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    )
    # _quantizable on the PRODUCT, not the factors: a finite 5e13
    # discount passes any per-factor guard while the product blows
    # through the DECIMAL(20,6) domain (ANSI NUMERIC_VALUE_OUT_OF_RANGE)
    vol = _quantizable(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(20,6)")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(cn, c["c_nationkey"] == F.col("c_nk"))
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(sn, s["s_nationkey"] == F.col("s_nk"))
    )
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0).cast("decimal(20,6)")))
        .cast("double")
        .alias("nation_rev"),
        F.sum(vol).cast("double").alias("total_rev"),
    )
    return agg.select(
        "o_year",
        "nation_rev",
        "total_rev",
        (F.col("nation_rev") / F.col("total_rev")).alias("mkt_share"),
    )


ORACLE_MARKET_SHARE = """
WITH agg AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         sum(CASE WHEN n2.n_name = 'NATION_3'
                  THEN CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) AND abs(l_extendedprice * (1 - l_discount)) < 1e14 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(20,6))
                  ELSE CAST(0 AS DECIMAL(20,6)) END) AS nation_rev_d,
         sum(CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) AND abs(l_extendedprice * (1 - l_discount)) < 1e14 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(20,6))) AS total_rev_d
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1
)
SELECT o_year,
       CAST(CAST(nation_rev_d AS VARCHAR) AS DOUBLE) AS nation_rev,
       CAST(CAST(total_rev_d AS VARCHAR) AS DOUBLE) AS total_rev,
       CAST(CAST(nation_rev_d AS VARCHAR) AS DOUBLE)
         / CAST(CAST(total_rev_d AS VARCHAR) AS DOUBLE) AS mkt_share
FROM agg
"""


def q_profit_by_nation_year(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q9-shaped composite: profit per supplier nation per year over a
    part-name LIKE slice. The test schema has no partsupp, so unit cost is
    proxied as 10% of retail price (same operator shape: fact × part ×
    supplier × nation with an arithmetic measure).

    Determinism: the per-row profit expression is written with identical
    association in both engines, quantized to DECIMAL(20,6) before the sum.
    """
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    s = read_table(spark, sf, "supplier")
    o = read_table(spark, sf, "orders")
    n = F.broadcast(
        read_table(spark, sf, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
        )
    )
    # _quantizable on the full profit EXPRESSION (see vol in market_share)
    profit = _quantizable(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(20,6)")
    joined = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(n, s["s_nationkey"] == F.col("s_nk"))
    )
    return joined.groupBy(
        "nation", F.year("o_orderdate").alias("o_year")
    ).agg(F.sum(profit).cast("double").alias("sum_profit"))


ORACLE_PROFIT_BY_NATION_YEAR = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(CAST(sum(CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)
                     - 0.1 * p_retailprice * l_quantity)
                 AND abs(l_extendedprice * (1 - l_discount)
                     - 0.1 * p_retailprice * l_quantity) < 1e14
            THEN l_extendedprice * (1 - l_discount)
                     - 0.1 * p_retailprice * l_quantity END AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q_returned_item_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q10-shaped composite: top-20 customers by revenue lost to
    returned items ('R' lines) in a quarter, decoded against nation. The
    aggregate runs on the custkey the join already shuffled on; top-k is a
    TakeOrderedAndProject with the unique custkey as tie-break.
    """
    li = read_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    o = read_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp_ntz(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp_ntz(F.lit("1997-04-01")))
    )
    c = read_table(spark, sf, "customer")
    n = F.broadcast(
        read_table(spark, sf, "nation").select(
            F.col("n_nationkey").alias("c_nk"), "n_name"
        )
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == F.col("c_nk"))
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name", "c_acctbal").agg(
        # _quantizable on the product (see vol in market_share)
        _dec_sum(
            _quantizable(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ),
            "revenue",
        )
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("c_custkey")], 20)


ORACLE_RETURNED_ITEM_CUSTOMERS = """
SELECT c_custkey, c_name, n_name, c_acctbal,
       CAST(CAST(sum(CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) AND abs(l_extendedprice * (1 - l_discount)) < 1e14 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(20,6)))
            AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q11-shaped composite: per-part shipped value from NATION_1
    suppliers, keeping parts above 0.1% of the total — a global scalar
    subquery gating a grouped aggregate. The threshold comparison stays in
    exact decimal arithmetic (``value * 1000 > total``), so boundary rows
    can't flip between engines.

    Scale note: the per-part aggregate feeds two consumers (the grand total
    and the filter), which would replay the fact join twice — Catalyst does
    not reuse the exchange because the branches prune different columns.
    ``localCheckpoint`` materializes the per-part rows (one per part, tiny
    relative to the fact table) so lineitem is scanned exactly once.
    """
    li = read_table(spark, sf, "lineitem")
    s = read_table(spark, sf, "supplier")
    n = F.broadcast(
        read_table(spark, sf, "nation")
        .filter(F.col("n_name") == "NATION_1")
        .select(F.col("n_nationkey").alias("s_nk"))
    )
    shipped = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == F.col("s_nk"))
    )
    per_part = shipped.groupBy("l_partkey").agg(
        # _quantizable on the product (see vol in market_share)
        F.sum(
            _quantizable(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).cast("decimal(20,6)")
        ).alias("value_d")
    ).localCheckpoint(eager=True)
    total = per_part.agg(F.sum("value_d").alias("total_d"))
    kept = per_part.crossJoin(F.broadcast(total)).filter(
        F.col("value_d") * F.lit(1000) > F.col("total_d")
    )
    return kept.select(
        "l_partkey", F.col("value_d").cast("double").alias("part_value")
    )


ORACLE_IMPORTANT_PARTS = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) AND abs(l_extendedprice * (1 - l_discount)) < 1e14 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(20,6))) AS value_d
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_1'
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(CAST(value_d AS VARCHAR) AS DOUBLE) AS part_value
FROM per_part
WHERE value_d * 1000 > (SELECT sum(value_d) FROM per_part)
"""


def q_priority_line_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q12-shaped composite: per return-flag class (stand-in for
    shipmode, which the test schema lacks), counts of high- vs low-priority
    orders among 1997 shipments — conditional aggregation after a fact join.
    """
    li = read_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp_ntz(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp_ntz(F.lit("1998-01-01")))
    )
    o = read_table(spark, sf, "orders")
    joined = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


ORACLE_PRIORITY_LINE_COUNTS = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
"""


def q_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q14-shaped composite: PROMO parts' percentage of one month's
    revenue — a single-row conditional-aggregate ratio. Both component sums
    are exact decimals; the percentage is one double expression evaluated
    with identical association in both engines.
    """
    li = read_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp_ntz(F.lit("1997-06-01")))
        & (F.col("l_shipdate") < F.to_timestamp_ntz(F.lit("1997-07-01")))
    )
    p = read_table(spark, sf, "part")
    # _quantizable on the PRODUCT, not the factors: a finite 5e13
    # discount passes any per-factor guard while the product blows
    # through the DECIMAL(20,6) domain (ANSI NUMERIC_VALUE_OUT_OF_RANGE)
    vol = _quantizable(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(20,6)")
    joined = li.join(p, li["l_partkey"] == p["p_partkey"])
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast("decimal(20,6)")))
        .cast("double")
        .alias("promo_revenue"),
        F.sum(vol).cast("double").alias("total_revenue"),
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
            "promo_pct"
        ),
    )


ORACLE_PROMO_REVENUE = """
WITH agg AS (
  SELECT sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) AND abs(l_extendedprice * (1 - l_discount)) < 1e14 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(20,6))
                  ELSE CAST(0 AS DECIMAL(20,6)) END) AS promo_d,
         sum(CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) AND abs(l_extendedprice * (1 - l_discount)) < 1e14 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(20,6))) AS total_d
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
)
SELECT CAST(CAST(promo_d AS VARCHAR) AS DOUBLE) AS promo_revenue,
       CAST(CAST(total_d AS VARCHAR) AS DOUBLE) AS total_revenue,
       100.0 * CAST(CAST(promo_d AS VARCHAR) AS DOUBLE)
         / CAST(CAST(total_d AS VARCHAR) AS DOUBLE) AS promo_pct
FROM agg
"""


def q_part_supplier_variety(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q16-shaped composite: distinct supplier count per (brand, type,
    size) for selected sizes, excluding one brand and any supplier with a
    negative balance (the NOT IN → anti-join). The part-supplier link is
    lineitem (the test schema has no partsupp), deduplicated before the
    count-distinct.

    Scale note: the anti-join side is a tiny broadcast; the count-distinct
    shuffles only (partkey, suppkey) pairs, never fact payload.
    """
    li = read_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    p = read_table(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = read_table(spark, sf, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("bad_suppkey"))
    links = li.join(
        F.broadcast(bad),
        li["l_suppkey"] == F.col("bad_suppkey"),
        "left_anti",
    )
    joined = links.join(p, links["l_partkey"] == p["p_partkey"])
    return joined.groupBy("p_brand", "p_type", "p_size").agg(
        F.count_distinct("l_suppkey").alias("supplier_cnt")
    )


ORACLE_PART_SUPPLIER_VARIETY = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
"""


def q_disjunctive_brand_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q19-shaped composite: revenue under three OR-ed
    (brand × size-range × quantity-range) clauses — the disjunctive
    multi-clause predicate pattern. Catalyst extracts the common
    ``p_partkey = l_partkey`` conjunct so the join stays equi; the
    disjunction is evaluated post-join.
    """
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part")
    joined = li.join(p, li["l_partkey"] == p["p_partkey"])
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(clause).agg(
        # _quantizable on the product (see vol in market_share)
        _dec_sum(
            _quantizable(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ),
            "revenue",
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_DISJUNCTIVE_BRAND_REVENUE = """
SELECT CAST(CAST(sum(CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) AND abs(l_extendedprice * (1 - l_discount)) < 1e14 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(20,6)))
            AS VARCHAR) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q2-shaped composite: for each EUROPE-supplied part of one size,
    the supplier(s) offering the minimum unit price — min-per-group with a
    join-back (here: a window min + equality filter, one shuffle serves
    both). Unit price is a per-(part, supplier) min of IEEE divisions, so
    the min and the equality filter are bit-deterministic in both engines.
    """
    li = read_table(spark, sf, "lineitem")
    p = read_table(spark, sf, "part").filter(F.col("p_size") == 15).select(
        "p_partkey", "p_name"
    )
    s = read_table(spark, sf, "supplier")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    sn = F.broadcast(
        n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
        )
    )
    offers = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(sn, s["s_nationkey"] == F.col("s_nk"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "nation")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_price"
            )
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("best_price", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("best_price"))
        .select("p_partkey", "p_name", "s_name", "nation", "unit_price")
    )


ORACLE_MIN_COST_SUPPLIER = """
WITH offers AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, n_name AS nation,
         min(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size = 15 AND r_name = 'EUROPE'
  GROUP BY 1, 2, 3, 4, 5
)
SELECT p_partkey, p_name, s_name, nation, unit_price
FROM offers
WHERE unit_price = (
  SELECT min(unit_price) FROM offers o2 WHERE o2.p_partkey = offers.p_partkey
)
"""


def q_promotion_candidate_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q20-shaped composite: suppliers who shipped >150 units of some
    'red' part during 1997 — nested semi-joins (supplier ⟕ part-qualified
    shipments). Counts and string outputs only, so fully deterministic.

    Scale note: the inner aggregate shrinks lineitem to (suppkey, partkey)
    rows before any join; the part filter broadcasts; the final semi-join
    keys on suppkey alone.
    """
    li = read_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp_ntz(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp_ntz(F.lit("1998-01-01")))
    )
    p = read_table(spark, sf, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    s = read_table(spark, sf, "supplier")
    n = F.broadcast(
        read_table(spark, sf, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
        )
    )
    heavy = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 150)
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"], "left_semi")
    )
    return (
        s.join(heavy, s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .join(n, s["s_nationkey"] == F.col("s_nk"))
        .select("s_name", "nation")
    )


ORACLE_PROMOTION_CANDIDATE_SUPPLIERS = """
SELECT s_name, n_name AS nation
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > 150
)
"""


def q_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q5-shaped composite: 1997 revenue per ASIA nation counting only
    lineitems whose customer and supplier share that nation — the classic
    six-table join with a cross-dimension equality (c_nationkey =
    s_nationkey) that no single star join expresses.

    Scale note: region/nation broadcast; orders pre-filtered on the date
    range before joining lineitem (predicate reaches the scan); the big
    join chain keys on orderkey then suppkey, both SF-scaled equi-joins
    AQE can re-plan. Revenue sums are exact decimals cast to double once.
    """
    r = read_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = read_table(spark, sf, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    c = read_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    o = read_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp_ntz(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp_ntz(F.lit("1998-01-01")))
    ).select("o_orderkey", "o_custkey")
    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = read_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    # _quantizable on the PRODUCT, not the factors: a finite 5e13
    # discount passes any per-factor guard while the product blows
    # through the DECIMAL(20,6) domain (ANSI NUMERIC_VALUE_OUT_OF_RANGE)
    vol = _quantizable(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(20,6)")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


ORACLE_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
       CAST(CAST(sum(CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) AND abs(l_extendedprice * (1 - l_discount)) < 1e14 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(20,6)))
            AS VARCHAR) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def q_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q6-shaped composite: revenue delta from dropping small-order
    discounts in 1997 — a pure filtered scan-aggregate with NO join, the
    canonical pushdown/codegen showcase (every predicate reaches the
    parquet scan; the whole query is one map-side partial agg).
    """
    li = read_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp_ntz(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp_ntz(F.lit("1998-01-01")))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        # _quantizable on the product: a finite 1e300 price passes the
        # discount/qty/date filters and would throw in the decimal cast
        F.sum(
            _quantizable(
                F.col("l_extendedprice") * F.col("l_discount")
            ).cast("decimal(20,6)")
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_FORECAST_REVENUE = """
SELECT CAST(CAST(sum(CAST(CASE WHEN isfinite(l_extendedprice * l_discount) AND abs(l_extendedprice * l_discount) < 1e14 THEN l_extendedprice * l_discount END AS DECIMAL(20,6)))
            AS VARCHAR) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q15-shaped composite: supplier(s) with the maximum revenue over
    one quarter — aggregate-then-argmax, ties included (the reference Q15
    'create view + max' semantics). The argmax compares EXACT decimal sums
    (only the output cast is double), so tie behavior is engine-independent.

    Scale note: lineitem collapses to one row per suppkey before anything
    else; the max is a single scalar broadcast back over #suppliers rows
    (no global sort); supplier joins on the already-tiny winner set.
    """
    li = read_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp_ntz(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp_ntz(F.lit("1997-04-01")))
    )
    # _quantizable on the PRODUCT, not the factors: a finite 5e13
    # discount passes any per-factor guard while the product blows
    # through the DECIMAL(20,6) domain (ANSI NUMERIC_VALUE_OUT_OF_RANGE)
    vol = _quantizable(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(20,6)")
    rev = li.groupBy("l_suppkey").agg(F.sum(vol).alias("_rev_d"))
    top = rev.crossJoin(
        F.broadcast(rev.agg(F.max("_rev_d").alias("_max_d")))
    ).filter(F.col("_rev_d") == F.col("_max_d"))
    s = read_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return s.join(
        F.broadcast(top), s["s_suppkey"] == F.col("l_suppkey")
    ).select(
        "s_suppkey", "s_name", F.col("_rev_d").cast("double").alias("total_revenue")
    )


ORACLE_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) AND abs(l_extendedprice * (1 - l_discount)) < 1e14 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(20,6))) AS rev_d
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(CAST(rev_d AS VARCHAR) AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE rev_d = (SELECT max(rev_d) FROM rev)
"""


def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Unnormalized TF-IDF (north-star text analysis): top-3 terms per
    document scored by ``tf × (N / df)``. Log-free on purpose — ``ln``
    differs in the last ulp between JVM and libm, while IEEE division of
    exact integers is bit-identical, so the score is cross-engine-safe.

    Scale note: tokenize → (doc, term) counts → term document-frequencies →
    join back on term; every shuffle keys on the term or (doc, term), the
    corpus size N is a one-row broadcast. No global window, no collect.
    """
    d = read_table(spark, sf, "documents")
    terms = d.select(
        "doc_id",
        # ASCII fold, not lower(): terms land in compared output
        # (see text.ascii_fold_sql — Unicode case mapping is engine-divergent)
        F.expr(f"explode({tokens_sql(ascii_fold_sql('text'))}) AS term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf") * (F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score")
    )


ORACLE_TFIDF_TOP_TERMS = f"""
WITH terms AS (
  SELECT doc_id,
         unnest(string_split_regex(trim({ascii_fold_sql("text")}),
                                   '\\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.term, tf, df,
         tf * (CAST(n_docs AS DOUBLE) / df) AS score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf * (CAST(n_docs AS DOUBLE) / df) DESC,
                                     tf.term) AS rn
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
)
SELECT doc_id, term, tf, df, score FROM scored WHERE rn <= 3
"""


def q_scd1_merge_orders(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE/upsert (SCD type 1) through ``relational.merge_upsert``: a
    change set (open orders, price adjusted) replaces matching snapshot
    rows, verified by a per-status aggregate over the merged result. The
    per-key refinement of the reference's idempotent drop-and-recreate
    reload (S20) and the batch twin of the foreachBatch ingest path.

    Determinism: the price adjustment is an addition (no rounding anywhere);
    the final sum is the exact-decimal aggregate.
    """
    from statline_bq_spark.operators.relational import merge_upsert

    o = read_table(spark, sf, "orders")
    changes = o.filter(F.col("o_orderstatus") == "O").withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
    )
    merged = merge_upsert(o, changes, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # _quantizable inside the exact sum: a finite-but-huge price
        # would THROW in _dec_sum's ANSI decimal cast
        _dec_sum(_quantizable("o_totalprice"), "total_price"),
    )


ORACLE_SCD1_MERGE_ORDERS = """
WITH changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderstatus = 'O'
),
merged AS (
  SELECT * FROM changes
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
)
SELECT o_orderstatus, count(*) AS n_orders,
       -- quantizable scrub mirrors the Spark twin's _quantizable guard
       CAST(CAST(sum(CAST(CASE WHEN isfinite(o_totalprice)
                                AND abs(o_totalprice) < 1e14
                               THEN o_totalprice END AS DECIMAL(20,6)))
                 AS VARCHAR) AS DOUBLE)
         AS total_price
FROM merged GROUP BY o_orderstatus
"""


def q_user_state_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-type-2-shaped state history: collapse each user's event stream to
    state transitions (event_type changes), then derive [valid_from,
    valid_to) intervals with ``lead`` — the interval-building pattern behind
    slowly-changing dimensions and the temporal twin of latest-snapshot
    selection (Q9).

    Scale note: one shuffle on user_id serves both windows (lag for the
    transition filter, lead for the interval close); open intervals get a
    sentinel end. Timestamps leave as formatted strings (driver contract).
    Clock-less events (NULL ts) are excluded — a state interval needs a
    position in time, and the engines order NULL ts on opposite ends.
    """
    e = read_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = trans.withColumn("valid_to_ts", F.lead("ts").over(w2))
    return hist.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format("valid_to_ts", "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
    )


ORACLE_USER_STATE_HISTORY = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST)
           AS prev_type
  FROM events WHERE ts IS NOT NULL
),
trans AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
),
hist AS (
  SELECT user_id, event_type, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST) AS valid_to_ts
  FROM trans
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       coalesce(strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S'),
                '9999-12-31 00:00:00') AS valid_to
FROM hist
"""


def q_pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing over the documents table (SURVEY §2.D text analysis).

    The synthetic corpus contains no natural contact info, so the query
    first DERIVES a deterministic contact line from doc_id (same derivation
    in the oracle), then redacts emails → IPv4 → phones with pure JVM
    regexp expressions (``functions/pii.py``) and counts each category.
    Redaction rides the scan — no shuffle at all in this plan.
    """
    docs = read_table(spark, sf, "documents")
    raw = F.concat(
        F.lit("contact user."), F.col("doc_id").cast("string"),
        F.lit("@ex"), (F.col("doc_id") % 10).cast("string"),
        F.lit(".org from 10."), (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 250).cast("string"),
        # DECIMAL(38,0): the bigint 100000 + int64-max doc_id is an ANSI
        # ARITHMETIC_OVERFLOW that kills the job (int64-edge probe)
        F.lit(" call +31-20-55"),
        (F.col("doc_id").cast("decimal(38,0)") + 100000).cast("string"),
        F.lit(" "), F.col("text"),
    )
    return docs.select(
        "doc_id",
        pii.redact_pii(raw).alias("clean_text"),
        pii.email_count(raw).alias("n_emails"),
        pii.ipv4_count(raw).alias("n_ips"),
        pii.phone_count(raw).alias("n_phones"),
    )


ORACLE_PII_REDACTION = r"""
WITH synth AS (
  SELECT doc_id,
         'contact user.' || CAST(doc_id AS VARCHAR) || '@ex'
         || CAST(doc_id % 10 AS VARCHAR) || '.org from 10.'
         || CAST(doc_id % 200 AS VARCHAR) || '.0.'
         || CAST(doc_id % 250 AS VARCHAR) || ' call +31-20-55'
         || CAST(CAST(doc_id AS HUGEINT) + 100000 AS VARCHAR)
         || ' ' || text AS raw
  FROM documents
), s1 AS (
  SELECT doc_id, raw,
         regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g') AS e
  FROM synth
), s2 AS (
  SELECT doc_id, raw, e,
         regexp_replace(e, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                        '<IP>', 'g') AS i
  FROM s1
)
SELECT doc_id,
       regexp_replace(i, '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS clean_text,
       len(regexp_extract_all(raw,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(e,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
       len(regexp_extract_all(i, '\+?\d[\d -]{7,}\d')) AS n_phones
FROM s2
"""

#: DuckDB 4-gram construction shared by the decontamination oracles.
_DUCK_GRAMS_4 = """
  SELECT DISTINCT doc_id,
         t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM {src}),
       LATERAL (SELECT unnest(range(0, greatest(len(t) - 3, 0))) AS i)
"""


def q_benchmark_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination counts (GPT-3-style n-gram overlap).

    A deterministic slice of the corpus (doc_id % 17 == 0) plays the
    benchmark/eval suite; every remaining document sharing ≥1 word 4-gram
    with it is reported with its shared- and total-gram counts. The
    benchmark gram set is broadcast — the corpus side never shuffles
    (``operators/decontaminate.py``).
    """
    docs = read_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return decontaminate.contamination_counts(corpus, bench, n=4)


ORACLE_BENCHMARK_CONTAMINATION = f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
bench AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
cg AS ({_DUCK_GRAMS_4.format(src="corpus")}),
bg AS (SELECT DISTINCT g FROM ({_DUCK_GRAMS_4.format(src="bench")})),
sz AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id),
sh AS (SELECT doc_id, count(*) AS n_shared FROM cg JOIN bg USING (g)
       GROUP BY doc_id)
SELECT doc_id, n_shared, n_grams FROM sh JOIN sz USING (doc_id)
"""


def q_decontaminated_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus after decontamination: documents sharing NO word 4-gram
    with the benchmark slice (left-anti against a broadcast id set)."""
    docs = read_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return decontaminate.decontaminate(corpus, bench, n=4).select(
        "doc_id", "lang", "n_chars"
    )


ORACLE_DECONTAMINATED_DOCS = f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
bench AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
cg AS ({_DUCK_GRAMS_4.format(src="corpus")}),
bg AS (SELECT DISTINCT g FROM ({_DUCK_GRAMS_4.format(src="bench")}))
SELECT doc_id, lang, n_chars FROM corpus
WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g))
"""


def q_doc_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): total vs
    distinct word 3-grams per document, ratio as one exact-int division
    (bit-deterministic — no rounding step for engines to disagree on)."""
    docs = read_table(spark, sf, "documents")
    return decontaminate.repetition_stats(docs, n=3)


def q_passage_dup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-document repeated-passage fraction (`dedup.passage_dup_stats`):
    share of each doc's distinct word 3-grams appearing in ≥1 other doc —
    the cross-corpus boilerplate signal pair-based near-dup misses. The
    ratio is one exact-int division, bit-deterministic across engines."""
    docs = read_table(spark, sf, "documents")
    return dedup.passage_dup_stats(docs, n=3)


ORACLE_PASSAGE_DUP_DOCS = """
WITH g AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents),
       LATERAL (SELECT unnest(range(0, greatest(len(t) - 2, 0))) AS i)
), gdf AS (
  SELECT g, count(*) AS df FROM g GROUP BY g
)
SELECT g.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(sum(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS shared_ratio
FROM g JOIN gdf ON g.g = gdf.g
GROUP BY g.doc_id
"""


ORACLE_DOC_REPETITION_STATS = """
WITH g AS (
  SELECT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents),
       LATERAL (SELECT unnest(range(0, greatest(len(t) - 2, 0))) AS i)
)
SELECT doc_id, count(*) AS n_grams, count(DISTINCT g) AS n_distinct,
       CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS distinct_ratio
FROM g GROUP BY doc_id
"""


def q_busy_interval_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-interval join at fact scale (`relational.interval_join`):
    derive data-driven "busy periods" (maximal runs of hours whose event
    count exceeds 1.5× the global hourly mean — gaps-and-islands), then
    assign EVERY event to its containing period WITHOUT a per-user equi
    key, the case where a naive range join is a cartesian. The bucketized
    equi-join shuffles each side once on an 8-byte hour bucket.

    The busy/threshold comparison is exact-integer (2·n·n_hours >
    3·n_events) so no float tie can flip membership cross-engine.
    """
    # (SQL-text construction, round 12: identical trees, one py4j round
    # trip per expression)
    e = read_table(spark, sf, "events").selectExpr(
        "*", "unix_timestamp(ts) AS _es"
    )
    hourly = e.groupBy(F.expr("floor(_es / 3600) AS hb")).agg(
        F.expr("count(1) AS n")
    )
    tot = hourly.agg(F.expr("count(1) AS nh"), F.expr("sum(n) AS ne"))
    busy = (
        hourly.join(F.broadcast(tot))
        .filter("2 * n * nh > 3 * ne")
        .select("hb")
    )
    # islands: the busy-hour set is bounded (≤ hours in the data window),
    # so the unpartitioned ordering window is a deliberate single-task step
    # over a tiny aggregate side, not a fact-table sort.
    iv = (
        busy.selectExpr(
            "hb",
            "CASE WHEN hb - lag(hb) OVER (ORDER BY hb) > 1"
            " THEN 1 ELSE 0 END AS brk",
        )
        .selectExpr(
            "hb",
            "sum(brk) OVER (ORDER BY hb"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid",
        )
        .groupBy("iid")
        .agg(
            F.expr("min(hb) * 3600 AS lo"),
            F.expr("(max(hb) + 1) * 3600 AS hi"),
        )
        .drop("iid")
    )
    joined = interval_join(e, iv, "_es", "lo", "hi", bucket_width=3600)
    return (
        joined.groupBy("lo", "hi")
        .agg(
            F.expr("count(1) AS n_events"),
            F.expr("count(DISTINCT user_id) AS n_users"),
            F.expr("round(sum(value), 2) AS total_value"),
        )
        .selectExpr(
            "from_unixtime(lo) AS interval_start",
            "from_unixtime(hi) AS interval_end",
            "n_events",
            "n_users",
            "total_value",
        )
    )


ORACLE_BUSY_INTERVAL_STATS = """
WITH e AS (
  SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
), hourly AS (
  SELECT CAST(floor(es / 3600) AS BIGINT) AS hb, count(*) AS n
  FROM e GROUP BY 1
), tot AS (
  SELECT count(*) AS nh, sum(n) AS ne FROM hourly
), busy AS (
  SELECT hb FROM hourly, tot WHERE 2 * n * nh > 3 * ne
), isl AS (
  SELECT hb, CASE WHEN hb - lag(hb) OVER (ORDER BY hb) > 1
                  THEN 1 ELSE 0 END AS brk
  FROM busy
), isl2 AS (
  SELECT hb, sum(brk) OVER (ORDER BY hb ROWS UNBOUNDED PRECEDING) AS iid
  FROM isl
), iv AS (
  SELECT min(hb) * 3600 AS lo, (max(hb) + 1) * 3600 AS hi
  FROM isl2 GROUP BY iid
)
SELECT strftime(make_timestamp(lo * 1000000), '%Y-%m-%d %H:%M:%S')
         AS interval_start,
       strftime(make_timestamp(hi * 1000000), '%Y-%m-%d %H:%M:%S')
         AS interval_end,
       count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       round(sum(value), 2) AS total_value
FROM e JOIN iv ON e.es >= iv.lo AND e.es < iv.hi
GROUP BY lo, hi
"""


def q_hll_user_sketches(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, built
    into Spark ≥3.5): per-(event_type, day) partial sketches union-merged
    to per-type estimates — the re-aggregatable rollup pattern that lets a
    100 TB pipeline maintain daily sketches and answer any date-range
    distinct query by merging bytes instead of rescanning raw events.

    Driver-oracle contract: the estimate itself is sketch-implementation
    specific, so the query emits the EXACT distinct count plus a
    self-check that the merged estimate lands within 5 % of it (integer
    arithmetic), and the oracle pins that flag to TRUE — same pattern as
    `approx_price_sketch`.
    """
    e = read_table(spark, sf, "events")
    partials = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    merged = partials.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    # null-safe join-back: the NULL event_type group is a group like any
    # other; a plain equi-join would silently drop its row
    merged = merged.withColumnRenamed("event_type", "_et")
    return (
        exact.join(merged, F.col("event_type").eqNullSafe(F.col("_et")))
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("est") - F.col("n_users_exact")) * 20
                <= F.col("n_users_exact")
            ).alias("est_within_5pct"),
        )
    )


ORACLE_HLL_USER_SKETCHES = """
SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
       TRUE AS est_within_5pct
FROM events
GROUP BY event_type
"""


def q_embedding_quantization(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column
    (`similarity.quantize_embeddings`) — float32→int8 is the 4× scan-byte
    lever for 100 TB embedding stores. Output is the codes' integer facets
    (sum/min/max per vector) so the oracle check covers the quantized
    values themselves, not a rounded proxy.
    """
    # usable vectors only (incl. the declared-dim clause): quantization
    # of a truncated/empty vector is excluded like NULL/non-finite ones,
    # mirroring the oracle's {_SQL_FINITE_VEC} filter
    emb = _finite_vectors(read_table(spark, sf, "embeddings"))
    return similarity.quantize_embeddings(emb)


def q_quantized_rerank_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Two-pass ANN over int8 codes (`similarity.quantized_rerank_topk`):
    approximate candidate generation on the 4×-smaller quantized
    representation, exact re-rank of the survivors — as an oracle-checked
    recall contract (int8 candidates + exact re-rank measures recall 1.0
    at sf0.01 and sf0.1; pinned at ≥ 0.9)."""
    # .distinct(): the set/recall contract ranks the LOGICAL corpus —
    # physically duplicated rows (double-loaded parquet; round-10
    # duplication fixture) otherwise land twice in a top-k and fan out
    # the hits equi-join, exactly the revisit the round-8 assumption
    # note in _sql_expected_topk_summary called for.
    emb = read_table(spark, sf, "embeddings").distinct()
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = similarity.ann_cosine_topk(emb, queries, k=5).select(
        "q_id", "neighbor_id"
    )
    approx = similarity.quantized_rerank_topk(emb, queries, k=5).select(
        "q_id", "neighbor_id"
    )
    hits = approx.join(exact, ["q_id", "neighbor_id"])
    return (
        exact.agg(
            F.countDistinct("q_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact_pairs"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
        .select(
            "n_queries",
            "n_exact_pairs",
            (F.col("_n_hit") * 10 >= F.col("n_exact_pairs") * 9).alias(
                "recall_at_5_ge_90pct"
            ),
        )
    )


ORACLE_QUANTIZED_RERANK_TOPK = _sql_expected_topk_summary("recall_at_5_ge_90pct")


ORACLE_EMBEDDING_QUANTIZATION = f"""
WITH v AS (
  -- usable vectors only (similarity._drop_null_vectors): a NULL
  -- embedding has nothing to quantize, and a NaN/Inf component would
  -- poison maxabs and every code derived from it
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings WHERE {_SQL_FINITE_VEC}
), m AS (
  SELECT vec_id, vd, list_max(list_transform(vd, x -> abs(x))) AS maxabs
  FROM v
), c AS (
  SELECT vec_id, maxabs,
         list_transform(
           vd,
           x -> CASE WHEN maxabs = 0 THEN 0
                     ELSE CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT)
                END
         ) AS codes
  FROM m
)
SELECT vec_id, len(codes) AS n_dims,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_min(codes) AS BIGINT) AS code_min,
       CAST(list_max(codes) AS BIGINT) AS code_max,
       CAST(floor(maxabs / 127.0 * 1e6) AS BIGINT) AS scale_micros
FROM c
"""


# ---------------------------------------------------------------------------
# round 3: training-mixture composition, modern SQL surface, ops advisories
# ---------------------------------------------------------------------------


def q_token_budget_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-budget fill (`sampling.token_budget_fill`): each
    source's quota (2,000 tokens) is filled greedily with its longest
    documents — the mixture-composition step that turns "weights per
    source" into an actual training set under a fixed token budget. The
    kept rows THEMSELVES are oracle-checked (which docs made the cut and
    their running totals), not just per-source counts."""
    d = read_table(spark, sf, "documents")
    feat = d.select(
        "doc_id",
        "source",
        "n_chars",
        token_count("text").cast("bigint").alias("n_tokens"),
    )
    filled = sampling.token_budget_fill(
        feat,
        "source",
        F.col("n_tokens"),
        2000,
        order_by=[F.col("n_chars").desc(), F.col("doc_id")],
    )
    return filled.select("doc_id", "source", "n_tokens", "cum_tokens")


ORACLE_TOKEN_BUDGET_DOCS = """
WITH t AS (
  SELECT doc_id, source, n_chars,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (
            PARTITION BY source ORDER BY n_chars DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 2000
"""


def q_kfold_docs(spark: SparkSession, sf: str) -> DataFrame:
    """5-fold cross-validation assignment (`sampling.kfold_assign`):
    fold = md5-hash bucket mod 5, stable under repartitioning/re-runs/
    appends. Every per-row fold id is oracle-re-derived (md5 exists in both
    engines), so the assignment rule itself is the checked artifact."""
    d = read_table(spark, sf, "documents")
    return sampling.kfold_assign(d, "doc_id", 5).select("doc_id", "lang", "fold")


ORACLE_KFOLD_DOCS = """
WITH h AS (
  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
)
SELECT doc_id, lang,
       CAST((  (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 5 AS INT)
         AS fold
FROM h
"""


def q_variant_events_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type:
    ``parse_json`` once, then typed ``variant_get`` extraction — the
    shredding-friendly path for JSON at scale (binary variant encoding,
    no per-access string re-parse, Parquet variant shredding upstream).
    Contrast with ``json_props_sum`` (get_json_object string path).
    ``try_parse_json``, not ``parse_json``: the strict form THROWS on the
    first malformed payload in 100 TB of logs — NULL is the recoverable
    verdict (oracle mirrors with a json_valid guard)."""
    e = read_table(spark, sf, "events")
    # integral-only extraction: variant typing is inspected BEFORE the
    # typed get (schema_of_variant is 'BIGINT' for every integral JSON
    # numeral) — variant_get('long') on a DECIMAL(2,1) 2.5 would
    # TRUNCATE to 2 where DuckDB's string→int cast rounds to 3, so a
    # non-integral k has no agreed integer reading and stays NULL.
    # try_parse_json already rejects duplicate-key objects outright.
    k = F.when(
        F.expr(
            "schema_of_variant(variant_get(try_parse_json(props), '$.k'))"
        )
        == "BIGINT",
        F.variant_get(F.try_parse_json(F.col("props")), "$.k", "long"),
    )
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("k_total"),
            F.min("k").cast("int").alias("k_min"),
            F.max("k").cast("int").alias("k_max"),
        )
    )


ORACLE_VARIANT_EVENTS_STATS = f"""
WITH t AS (
  -- json_valid guard: the engine's try_parse_json is NULL on malformed
  -- input; DuckDB's json_extract THROWS on it. The dup guard mirrors
  -- try_parse_json's rejection of duplicate-key objects; the json_type
  -- clause mirrors the twin's integral-only schema_of_variant gate.
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
               AND NOT ({_sql_json_dup("props")})
               AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
              THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
         END AS k
  FROM events
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(k) AS BIGINT) AS k_total,
       CAST(min(k) AS INT) AS k_min,
       CAST(max(k) AS INT) AS k_max
FROM t GROUP BY event_type
"""


def q_listagg_region_nations(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered string aggregation via Spark 4 ``listagg(...) WITHIN GROUP``
    — the SQL:2016 surface for "roll members up into a delimited label"
    (the reference publishes code→label dictionaries; this is the inverse
    presentation direction). WITHIN GROUP ordering makes the result
    deterministic — never emit an unordered concat from a distributed
    engine."""
    register_views(spark, sf, ("region", "nation"))
    return spark.sql(
        """
        SELECT r_name,
               count(*) AS n_nations,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
        FROM region JOIN nation ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    )


ORACLE_LISTAGG_REGION_NATIONS = """
SELECT r_name, count(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM region JOIN nation ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_equi_depth_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Per-priority equi-depth (equal-count) histogram of order totals via
    ``ntile`` over a TOTAL order (price, orderkey) — tie-proof bucket
    boundaries. Equi-depth beats equi-width for skewed money
    distributions and is the shape optimizers use for selectivity stats.

    The window PARTITIONS by the grouping key: an unpartitioned ntile
    compiles to an Exchange SinglePartition of every row — the one
    window shape that can never ship (checked the hard way in round 3;
    `tests/test_plans.py` now gates it). For one GLOBAL histogram at
    extreme scale, use approximate boundaries (``percentile_approx``) +
    ``width_bucket``-style assignment instead — exact global ntile is
    inherently a total sort."""
    o = read_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.select("o_orderpriority", "o_totalprice", "o_orderkey")
        .withColumn("bucket", F.ntile(10).over(w))
        .groupBy("o_orderpriority", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo_price"),
            F.round(F.max("o_totalprice"), 2).alias("hi_price"),
        )
    )


ORACLE_EQUI_DEPTH_HISTOGRAM = """
WITH b AS (
  SELECT o_orderpriority, o_totalprice,
         ntile(10) OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
)
SELECT o_orderpriority, bucket, count(*) AS n_orders,
       round(min(o_totalprice), 2) AS lo_price,
       round(max(o_totalprice), 2) AS hi_price
FROM b GROUP BY o_orderpriority, bucket
"""


def q_rolling_7d_active_users(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-7-day distinct active users per day. Sliding-window
    COUNT(DISTINCT) has no incremental form (distinct doesn't subtract),
    so the scale-safe plan is contribution EXPANSION: each (user, day)
    pair contributes to days d..d+6 via ``sequence``+``explode`` — shuffle
    = 7 × |distinct pairs|, bounded and linear, instead of a range
    self-join that rescans the window per day. Days past the observed
    range are clipped semi-join-style against the real day set."""
    e = read_table(spark, sf, "events")
    ud = e.select(
        F.col("user_id"), F.to_date("ts").alias("day")
    ).distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("as_of_day"),
    )
    return (
        contrib.join(
            F.broadcast(days),
            contrib["as_of_day"] == days["day"],
        )
        .groupBy("as_of_day")
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


ORACLE_ROLLING_7D_ACTIVE_USERS = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), days AS (SELECT DISTINCT day FROM ud)
SELECT d.day AS as_of_day, count(DISTINCT u.user_id) AS active_7d
FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day
"""


def q_incremental_agg_state(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-view maintenance: per-priority order stats
    kept as MERGEABLE partials (count, sum, min, max over integer cents).
    The view is maintained by merging yesterday's state with the delta's
    partials — never rescanning history — and this query PROVES the merge:
    it computes base(<1997) ⊎ delta(≥1997) and the full recompute in one
    plan and pins their equality per group. Money is integer cents so the
    merged sums are bit-identical across engines and merge orders."""
    o = read_table(spark, sf, "orders")
    # scrub BEFORE floor: Spark floor(NaN) is 0 — an unscrubbed NaN price
    # would enter the state as zero cents instead of a missing measurement
    # — and _quantizable (not _nan_null) because a finite 1e300 price
    # would ARITHMETIC_OVERFLOW the bigint cents on both engines
    cents = F.floor(_quantizable("o_totalprice") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    # the split must be TOTAL: year(NULL) is NULL, which satisfies neither
    # <1997 nor >=1997 — a dateless order would silently vanish from the
    # incremental side while staying in the full recompute. Dateless rows
    # are assigned to the base.
    in_delta = F.year("o_orderdate") >= 1997
    base = o.filter(~F.coalesce(in_delta, F.lit(False)))
    delta = o.filter(in_delta)

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("s"),
            F.min(cents).alias("mn"),
            F.max(cents).alias("mx"),
        )

    merged = (
        partials(base)
        .unionByName(partials(delta))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").alias("sum_cents"),
            F.min("mn").alias("min_cents"),
            F.max("mx").alias("max_cents"),
        )
    )
    full = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("f_n"),
        F.sum(cents).alias("f_s"),
        F.min(cents).alias("f_mn"),
        F.max(cents).alias("f_mx"),
    )
    # null-safe on BOTH the join key (a NULL priority is a group like any
    # other — a plain equi-join would drop it) and the equality probes (an
    # all-missing group has NULL sums on both sides; NULL == NULL is NULL,
    # not the TRUE the proof must emit)
    full = full.withColumnRenamed("o_orderpriority", "_op")
    return (
        merged.join(
            full, F.col("o_orderpriority").eqNullSafe(F.col("_op"))
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "sum_cents",
            "min_cents",
            "max_cents",
            (
                F.col("n_orders").eqNullSafe(F.col("f_n"))
                & F.col("sum_cents").eqNullSafe(F.col("f_s"))
                & F.col("min_cents").eqNullSafe(F.col("f_mn"))
                & F.col("max_cents").eqNullSafe(F.col("f_mx"))
            ).alias("merge_equals_full"),
        )
    )


ORACLE_INCREMENTAL_AGG_STATE = """
WITH c AS (
  -- quantizable scrub mirrors the Spark twin's _quantizable cents
  SELECT o_orderpriority,
         CAST(floor(CASE WHEN isfinite(o_totalprice)
                          AND abs(o_totalprice) < 1e14
                         THEN o_totalprice END * 100 + 0.5) AS BIGINT)
           AS cents
  FROM orders
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents,
       TRUE AS merge_equals_full
FROM c GROUP BY o_orderpriority
"""


def q_join_skew_advisor(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew advisory: per candidate join key, row count, distinct
    keys, the heaviest key's row count, and its share of all rows — the
    diagnostic that decides between a plain shuffle join, AQE skew
    splitting, and explicit salting (`operators/skew.salted_join`). One
    two-level hash-agg per key column (key counts, then bounded stats);
    nothing is collected."""
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")

    def profile(df: DataFrame, col: str) -> DataFrame:
        counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("_c"))
        return counts.agg(
            F.lit(col).alias("join_key"),
            F.sum("_c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("_c").cast("bigint").alias("max_key_rows"),
            F.round(
                F.max("_c") / F.sum("_c"), 6
            ).alias("top_key_share"),
        )
    return (
        profile(li, "l_orderkey")
        .unionByName(profile(li, "l_suppkey"))
        .unionByName(profile(o, "o_custkey"))
    )


ORACLE_JOIN_SKEW_ADVISOR = """
WITH p1 AS (
  SELECT count(*) AS _c FROM lineitem GROUP BY l_orderkey
), p2 AS (
  SELECT count(*) AS _c FROM lineitem GROUP BY l_suppkey
), p3 AS (
  SELECT count(*) AS _c FROM orders GROUP BY o_custkey
)
SELECT 'l_orderkey' AS join_key, CAST(sum(_c) AS BIGINT) AS n_rows,
       count(*) AS n_keys, CAST(max(_c) AS BIGINT) AS max_key_rows,
       round(CAST(max(_c) AS DOUBLE) / sum(_c), 6) AS top_key_share
FROM p1
UNION ALL
SELECT 'l_suppkey', CAST(sum(_c) AS BIGINT), count(*),
       CAST(max(_c) AS BIGINT), round(CAST(max(_c) AS DOUBLE) / sum(_c), 6)
FROM p2
UNION ALL
SELECT 'o_custkey', CAST(sum(_c) AS BIGINT), count(*),
       CAST(max(_c) AS BIGINT), round(CAST(max(_c) AS DOUBLE) / sum(_c), 6)
FROM p3
"""


def q_dict_encode_brands(spark: SparkSession, sf: str) -> DataFrame:
    """Dictionary encoding of a low-cardinality string column: build a
    deterministic code table (dense codes by sorted value — the inverse of
    the reference's code→label decode, Q3) and encode the fact side by
    broadcast join. The dictionary is bounded (distinct brands), so the
    global row_number window sorts a tiny aggregate, never the fact table;
    the encode itself is a broadcast hash join — zero fact shuffle."""
    p = read_table(spark, sf, "part")
    # the unknown (NULL) brand is a dictionary entry like any other: it
    # takes the LAST code explicitly (the engines default NULL to opposite
    # ends of the sort, shifting every other code by one), and the encode
    # join is null-safe so unknown-brand parts stay encodable
    codes = (
        p.select("p_brand")
        .distinct()
        .withColumn(
            "brand_code",
            F.row_number().over(
                Window.orderBy(F.col("p_brand").asc_nulls_last())
            ),
        )
        .withColumnRenamed("p_brand", "_bk")
    )
    return (
        p.join(
            F.broadcast(codes), F.col("p_brand").eqNullSafe(F.col("_bk"))
        )
        .groupBy("p_brand", "brand_code")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            # NaN prices are failed measurements — mean over observed only
            F.round(F.avg(_nan_null("p_retailprice")), 2).alias("avg_price"),
        )
    )


ORACLE_DICT_ENCODE_BRANDS = """
WITH codes AS (
  SELECT p_brand,
         row_number() OVER (ORDER BY p_brand NULLS LAST) AS brand_code
  FROM (SELECT DISTINCT p_brand FROM part)
)
SELECT p.p_brand, c.brand_code, count(*) AS n_parts,
       round(avg(CASE WHEN NOT isfinite(p_retailprice) THEN NULL
                      ELSE p_retailprice END), 2) AS avg_price
FROM part p JOIN codes c ON p.p_brand IS NOT DISTINCT FROM c.p_brand
GROUP BY 1, 2
"""


def q_order_value_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-rank window-function coverage in one pass:
    percent_rank / cume_dist / lag / lead / first_value / nth_value over a
    TOTAL order (price, orderkey) per priority — ties impossible, so the
    default RANGE frame equals ROWS and every engine agrees bit-for-bit.
    One shuffle on the partition key; all six functions share a single
    window spec, so Catalyst evaluates them in one Window operator."""
    o = read_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    return o.filter(F.year("o_orderdate") == 1995).select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.round(F.first_value("o_totalprice").over(w), 2).alias("min_price"),
        F.round(F.nth_value("o_totalprice", 10).over(w), 2).alias("p10th_price"),
    )


ORACLE_ORDER_VALUE_DISTRIBUTION = """
WITH y AS (
  SELECT * FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
)
SELECT o_orderkey, o_orderpriority,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       round(lag(o_totalprice) OVER w, 2) AS prev_price,
       round(lead(o_totalprice) OVER w, 2) AS next_price,
       round(first_value(o_totalprice) OVER w, 2) AS min_price,
       round(nth_value(o_totalprice, 10) OVER w, 2) AS p10th_price
FROM y
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def q_gopher_quality_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style quality-filter CASCADE with a per-rule funnel report:
    five sequential rules (too short, mean word length out of [3,10] low/
    high, low alphabetic-token share, too few stopwords), each row showing
    docs entering the stage, dropped by it, and surviving. The funnel is
    what a pipeline operator actually ships — per-rule drop counts are the
    observability that tells you WHICH rule ate the corpus.

    Determinism: every rule compares integers or exact integer-division
    doubles (alpha share is a cross-multiplied integer compare — no
    floats at all), so both engines agree bit-for-bit. One scan, one
    single-row aggregate, then a bounded literal unpivot — no shuffle of
    document rows at any scale. Core shared with the streaming monitor
    (`functions.funnel`, `streaming.monitors.funnel_monitor`): per-batch
    counter rows merge by addition to this exact report."""
    from statline_bq_spark.functions import funnel

    d = read_table(spark, sf, "documents")
    return funnel.funnel_report(d, "text")


ORACLE_GOPHER_QUALITY_FUNNEL = """
WITH t AS (
  SELECT string_split_regex(trim(text), '\\s+') AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS n_chr
  FROM documents
), f AS (
  SELECT len(toks) AS n_tok, n_chr,
         len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]+[.,!?;:]?$')))
           AS n_alpha,
         len(list_filter(toks, x -> translate(x, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') IN
             ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
  FROM t
), r AS (
  SELECT n_tok < 15 AS f1,
         CAST(n_chr AS DOUBLE) / n_tok < 3.0 AS f2,
         CAST(n_chr AS DOUBLE) / n_tok > 10.0 AS f3,
         n_alpha * 10 < n_tok * 8 AS f4,
         n_stop < 2 AS f5
  FROM f
), agg AS (
  -- stage sums coalesced: zero docs in = zero at every stage
  -- (empty-corpus probe, round 7b)
  SELECT count(*) AS s0,
         CAST(coalesce(sum(CASE WHEN f1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d1,
         CAST(coalesce(sum(CASE WHEN NOT f1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS s1,
         CAST(coalesce(sum(CASE WHEN NOT f1 AND f2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d2,
         CAST(coalesce(sum(CASE WHEN NOT f1 AND NOT f2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS s2,
         CAST(coalesce(sum(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d3,
         CAST(coalesce(sum(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS s3,
         CAST(coalesce(sum(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND f4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d4,
         CAST(coalesce(sum(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS s4,
         CAST(coalesce(sum(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4 AND f5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS d5,
         CAST(coalesce(sum(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4 AND NOT f5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS s5
  FROM r
)
SELECT u.stage, u.rule, u.n_in, u.n_dropped, u.n_out
FROM agg, LATERAL (VALUES
  (1, 'too_short',        s0, d1, s1),
  (2, 'mean_word_len_lo', s1, d2, s2),
  (3, 'mean_word_len_hi', s2, d3, s3),
  (4, 'low_alpha_share',  s3, d4, s4),
  (5, 'few_stopwords',    s4, d5, s5)
) AS u(stage, rule, n_in, n_dropped, n_out)
"""


def q_hard_negative_mining(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive-training hard-negative mining: for each query vector,
    the most similar corpus vector with a DIFFERENT label — maximal
    similarity across the label boundary is exactly what makes a negative
    "hard". Same scale shape as `ann_cosine_topk`: bounded query set
    broadcast, corpus never shuffles; the label mismatch is one more
    predicate on the broadcast join. The per-query top-1 is a `max_by`
    partial aggregation (tie-break: smallest neg_id), NOT a window — a
    window would shuffle every scored candidate row into |Q| partitions
    (a skewed exchange at 100×); `max_by` reduces map-side, so the
    exchange carries one partial row per (query, input partition)."""
    from statline_bq_spark.functions.vectors import (
        cosine_from_norms,
        l2_norm_sql,
    )

    # usable vectors only on BOTH sides: a NaN-component corpus vector
    # yields a NaN similarity, and Spark's max_by ranks NaN greatest —
    # the poisoned row would become every query's "hard negative".
    # Norms fold once per SIDE ROW before the N×Q join (cosine_from_norms)
    # — the inline cosine re-folded the corpus norm once per query.
    # (SQL-text projections, round 12: identical trees, one round trip.)
    e = _finite_vectors(read_table(spark, sf, "embeddings"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < 20).selectExpr(
            "vec_id AS q_id",
            "label AS q_label",
            "embedding AS _q_vec",
            f"{l2_norm_sql('embedding')} AS _q_nrm",
        )
    )
    scored = (
        e.selectExpr(
            "vec_id AS neg_id",
            "label AS neg_label",
            "embedding AS _c_vec",
            f"{l2_norm_sql('embedding')} AS _c_nrm",
        )
        .join(q, F.col("neg_label") != F.col("q_label"), "inner")
        .withColumn(
            "_sim",
            cosine_from_norms("_c_vec", "_q_vec", "_c_nrm", "_q_nrm"),
        )
    )
    best = scored.groupBy("q_id", "q_label").agg(
        F.max_by(
            F.struct("neg_id", "neg_label", "_sim"),
            # the smallest-id tie-break negates in DECIMAL(38,0): bigint
            # negation of an int64-min id is an ANSI ARITHMETIC_OVERFLOW
            # that kills the whole job (int64-edge-key probe, round 7b)
            F.struct(
                F.col("_sim").alias("_s"),
                (-F.col("neg_id").cast("decimal(38,0)")).alias("_t"),
            ),
        ).alias("_best")
    )
    return best.select(
        "q_id",
        "q_label",
        F.col("_best.neg_id").alias("neg_id"),
        F.col("_best.neg_label").alias("neg_label"),
        F.round("_best._sim", 4).alias("sim"),
    )


ORACLE_HARD_NEGATIVE_MINING = f"""
WITH q AS (
  -- usable vectors only (the Spark twin's _finite_vectors contract)
  SELECT vec_id AS q_id, label AS q_label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < 20
    AND {_SQL_FINITE_VEC} AND {_sql_nonzero_vec("embedding")}
), c AS (
  SELECT vec_id AS neg_id, label AS neg_label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings
  WHERE {_SQL_FINITE_VEC} AND {_sql_nonzero_vec("embedding")}
), s AS (
  SELECT q.q_id, q.q_label, c.neg_id, c.neg_label,
         list_cosine_similarity(c.cv, q.qv) AS sim_raw,
         row_number() OVER (PARTITION BY q.q_id
                            ORDER BY list_cosine_similarity(c.cv, q.qv) DESC,
                                     c.neg_id) AS rn
  FROM q JOIN c ON c.neg_label <> q.q_label
)
SELECT q_id, q_label, neg_id, neg_label, round(sim_raw, 4) AS sim
FROM s WHERE rn = 1
"""


def q_epoch_shuffle_order(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global training shuffle, two epochs: each epoch seeds
    an md5 permutation key; a doc's position is (shard, pos) where shard =
    first TWO hash nibbles (256 shards) and pos = rank within the shard —
    the composite (epoch, shard, pos) IS the global order. This is how you
    shuffle a 100 TB corpus: no global row_number (single-task sort), just
    a range-partitionable sort key + per-shard windows; the physical write
    would be `write_clustered` on (shard, pos). 256 shards ≈ 400 GB per
    window sort at 100 TB — spill-friendly on a 1000-executor cluster and
    wide enough to keep every core busy (one nibble = 16 shards would
    serialize 6 TB per task); widen to 3 nibbles (4096) beyond ~1 PB. md5
    keys make every epoch's permutation reproducible years later, and
    different seeds give independent permutations per epoch — both
    oracle-checked per row."""
    d = read_table(spark, sf, "documents").select("doc_id")
    epochs = []
    for ep in (0, 1):
        h = F.md5(F.concat(F.lit(f"epoch{ep}:"), F.col("doc_id").cast("string")))
        shard = (
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
        )
        df = d.select(
            "doc_id",
            F.lit(ep).alias("epoch"),
            shard.alias("shard"),
            h.alias("_h"),
        )
        w = Window.partitionBy("shard").orderBy("_h", "doc_id")
        epochs.append(
            df.withColumn("pos", F.row_number().over(w)).drop("_h")
        )
    return epochs[0].unionByName(epochs[1])


ORACLE_EPOCH_SHUFFLE_ORDER = """
WITH e AS (
  SELECT doc_id, ep AS epoch,
         md5('epoch' || ep || ':' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents, LATERAL (VALUES (0), (1)) AS t(ep)
)
SELECT doc_id, epoch,
       CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
            + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS INT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY epoch, substr(h, 1, 2) ORDER BY h, doc_id
       ) AS INT) AS pos
FROM e
"""


def q_user_event_timeline(spark: SparkSession, sf: str) -> DataFrame:
    """Nested-type surface in one pipeline: per-user first-3 events
    assembled into an ARRAY OF STRUCTS (collect_list), deterministically
    ordered (array_sort on the rank-first struct — collect_list order is
    partition-dependent, NEVER trust it), reshaped with a higher-order
    ``transform``, and re-flattened with explode. The assembled timeline
    is what a feature store ships to a model; the flatten-back makes every
    array element oracle-checkable as a plain row."""
    # clock-less events (NULL ts) have no place on a timeline; an untyped
    # event renders as 'rn:' (coalesce — concat_ws would silently drop the
    # separator, the oracle's || would nuke the whole step to NULL)
    e = read_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "user_id", "rn", F.coalesce("event_type", F.lit("")).alias("event_type")
        )
    )
    timeline = ranked.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
        ).alias("tl")
    )
    return timeline.select(
        "user_id",
        F.explode(
            F.transform(
                "tl",
                lambda s: F.concat_ws(
                    ":", s["rn"].cast("string"), s["event_type"]
                ),
            )
        ).alias("step"),
    )


ORACLE_USER_EVENT_TIMELINE = """
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST) AS rn
  FROM events WHERE ts IS NOT NULL  -- clock-less events are un-orderable
)
SELECT user_id,
       CAST(rn AS VARCHAR) || ':' || coalesce(event_type, '') AS step
FROM r WHERE rn <= 3
"""


def q_fingerprint_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Row-fingerprint change detection: each side of the diff is reduced
    to (key, md5 fingerprint over the canonicalized payload) BEFORE the
    full outer join, so the compare ships and matches 16-byte hashes
    instead of every column — at 100 TB the fingerprint is computed at
    write time and the diff never rereads payloads. Money canonicalizes to
    integer cents inside the fingerprint (double→string formatting is
    engine-specific; integers are not). Same derived 'new' snapshot rule
    as ``snapshot_diff_orders`` (md5 bucket 0 removed, bucket 1 repriced,
    one synthetic key added), so every class count is oracle-derivable."""
    o = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2), 16, 10)
        .cast("int"),
        F.lit(10),
    )
    new = (
        o.withColumn("_b", bucket)
        .filter(F.col("_b") != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("_b") == 1, F.col("o_totalprice") * 2).otherwise(
                F.col("o_totalprice")
            ),
        )
        .drop("_b")
        .unionByName(
            spark.createDataFrame(
                [(-1, "F", 1.0)],
                "o_orderkey long, o_orderstatus string, o_totalprice double",
            )
        )
    )

    def fp(df: DataFrame) -> DataFrame:
        # scrub BEFORE floor: Spark floor(NaN) is 0 — an unscrubbed NaN
        # price would fingerprint as zero cents instead of 'missing';
        # _quantizable because a finite 1e300 would overflow the bigint
        # cents on both engines (missing == missing -> 'unchanged')
        cents = F.floor(
            _quantizable("o_totalprice") * 100 + F.lit(0.5)
        ).cast("bigint")
        return df.select(
            F.col("o_orderkey").alias("k"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_orderstatus"),
                    cents.cast("string"),
                )
            ).alias("fp"),
        )

    old_fp = fp(o)
    new_fp = fp(new)
    joined = old_fp.withColumnRenamed("fp", "fp_old").join(
        new_fp.withColumnRenamed("fp", "fp_new"), "k", "full_outer"
    )
    cls = (
        F.when(F.col("fp_old").isNull(), "added")
        .when(F.col("fp_new").isNull(), "removed")
        .when(F.col("fp_old") == F.col("fp_new"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(cls.alias("change")).groupBy("change").agg(
        F.count(F.lit(1)).alias("n_keys")
    )


ORACLE_FINGERPRINT_SNAPSHOT_DIFF = """
WITH b AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         (  (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)) % 10
           AS bkt
  FROM orders
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN bkt = 1 THEN o_totalprice * 2 ELSE o_totalprice END
           AS o_totalprice
  FROM b WHERE bkt <> 0
  UNION ALL SELECT -1, 'F', 1.0
), old_fp AS (
  -- concat_ws (NULL-skipping, matching Spark), NOT '||' (NULL-poisoning:
  -- one NULL column would NULL the whole fingerprint and misclassify the
  -- row as added/removed); quantizable scrub mirrors the Spark twin
  SELECT o_orderkey AS k,
         md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
             CAST(CAST(floor(CASE WHEN isfinite(o_totalprice)
                                   AND abs(o_totalprice) < 1e14
                                  THEN o_totalprice END * 100 + 0.5)
                  AS BIGINT) AS VARCHAR))) AS fp
  FROM orders
), new_fp AS (
  SELECT o_orderkey AS k,
         md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
             CAST(CAST(floor(CASE WHEN isfinite(o_totalprice)
                                   AND abs(o_totalprice) < 1e14
                                  THEN o_totalprice END * 100 + 0.5)
                  AS BIGINT) AS VARCHAR))) AS fp
  FROM new
)
SELECT CASE WHEN o.fp IS NULL THEN 'added'
            WHEN n.fp IS NULL THEN 'removed'
            WHEN o.fp = n.fp THEN 'unchanged'
            ELSE 'changed' END AS change,
       count(*) AS n_keys
FROM old_fp o FULL OUTER JOIN new_fp n USING (k)
GROUP BY 1
"""


def q_join_cardinality_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Plan-time join-cardinality profiling: |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k)
    computed from per-key count profiles — the shuffle is |distinct keys|
    rows on each side instead of the full tables, which is how you cost a
    100 TB join BEFORE running it (on full profiles here; on sampled or
    sketched profiles when even the key sets are huge). The query pins the
    profile-derived prediction against the executed join's row count."""
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    a = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    b = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    # coalesce: an EMPTY profile join (no shared keys, or an empty
    # table) predicts exactly 0 joined rows — sum over empty is NULL,
    # which would NULL the prediction_exact flag too (empty-corpus
    # probe, round 7b; live on any disjoint-key input)
    predicted = a.join(b, "k").agg(
        F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
        .cast("bigint")
        .alias("predicted_rows")
    )
    actual = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    return predicted.crossJoin(actual).select(
        "predicted_rows",
        "actual_rows",
        (F.col("predicted_rows") == F.col("actual_rows")).alias("prediction_exact"),
    )


ORACLE_JOIN_CARDINALITY_ESTIMATE = """
WITH j AS (
  SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT n AS predicted_rows, n AS actual_rows, TRUE AS prediction_exact FROM j
"""


def q_latest_event_agg_only(spark: SparkSession, sf: str) -> DataFrame:
    """Latest-row selection WITHOUT a window: ``max_by`` keyed on the
    composite (ts, event_id) ordering struct. Unlike the row_number
    formulation (`latest_event_per_user`) this is partial-aggregatable —
    each map task pre-reduces to one candidate per key before the
    exchange, so the shuffle carries |keys| rows and there is NO per-key
    sort. The window twin stays registered: same semantics, two physical
    strategies, both oracle-checked against the same SQL."""
    e = read_table(spark, sf, "events")
    # total over every emitted field (see q_latest_event_per_user): the
    # conflicting-duplicate probe showed Spark's struct-max and the
    # oracle's row_number picking OPPOSITE rows of a (ts, event_id) tie.
    # Struct-max ranks a NULL field smallest = DESC NULLS LAST (the
    # cdc_log_replay precedent); NaN ranks greatest on both engines.
    ordk = F.struct(
        F.col("ts"), F.col("event_id"), F.col("event_type"), F.col("value")
    )
    return e.groupBy("user_id").agg(
        F.max_by("event_id", ordk).alias("event_id"),
        F.max_by("event_type", ordk).alias("event_type"),
        F.max_by("value", ordk).alias("value"),
    )


ORACLE_LATEST_EVENT_AGG_ONLY = """
SELECT user_id, event_id, event_type, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
    ORDER BY ts DESC, event_id DESC, event_type DESC NULLS LAST,
             value DESC NULLS LAST) = 1
"""


def q_bitmap_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT mergeable count-distinct via Spark 4 bitmap aggregates: ids
    bucket into 32k-bit bitmaps (bitmap_bucket_number/bit_position), each
    bucket ORs positions into one binary (bitmap_construct_agg), and the
    distinct count is the sum of bitmap popcounts. Unlike countDistinct's
    expand-shuffle this state MERGES (union = OR) — the same
    partial-rollup property HLL sketches buy, but exact, for bounded-int
    key domains. Pinned equal to the plain countDistinct in-plan."""
    e = read_table(spark, sf, "events")
    per_bucket = (
        e.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    via_bitmap = per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_users")
    )
    exact = e.groupBy(F.col("event_type").alias("_et")).agg(
        F.countDistinct("user_id").alias("_n_exact")
    )
    # null-safe join-back: the NULL event_type group is a group like any
    # other; a plain equi-join would silently drop its row
    return (
        via_bitmap.join(
            exact, F.col("event_type").eqNullSafe(F.col("_et"))
        )
        .select(
            "event_type",
            "n_users",
            (F.col("n_users") == F.col("_n_exact")).alias(
                "bitmap_equals_exact"
            ),
        )
    )


ORACLE_BITMAP_DISTINCT_USERS = """
SELECT event_type, count(DISTINCT user_id) AS n_users,
       TRUE AS bitmap_equals_exact
FROM events GROUP BY event_type
"""


def q_ann_topk_arrow(spark: SparkSession, sf: str) -> DataFrame:
    """The ``mapInArrow`` rendition of brute-force ANN
    (`similarity.ann_cosine_topk_arrow`): RecordBatch-level Python with
    zero-copy matrix rebuild — the lowest-overhead UDF surface. Contract
    query: neighbor sets must equal the exact JVM fold (pinned TRUE);
    blocked BLAS sims aren't bit-stable, so sets, not hashes."""
    # .distinct(): the set/recall contract ranks the LOGICAL corpus —
    # physically duplicated rows (double-loaded parquet; round-10
    # duplication fixture) otherwise land twice in a top-k and fan out
    # the hits equi-join, exactly the revisit the round-8 assumption
    # note in _sql_expected_topk_summary called for.
    emb = read_table(spark, sf, "embeddings").distinct()
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = similarity.ann_cosine_topk(emb, queries, k=5).select(
        "q_id", "neighbor_id"
    )
    arrow = similarity.ann_cosine_topk_arrow(emb, queries, k=5).select(
        "q_id", "neighbor_id"
    )
    hits = arrow.join(exact, ["q_id", "neighbor_id"])
    return (
        exact.agg(
            F.countDistinct("q_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact_pairs"),
        )
        .crossJoin(arrow.agg(F.count(F.lit(1)).alias("_n_arrow")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hit")))
        .select(
            "n_queries",
            "n_exact_pairs",
            (
                (F.col("_n_hit") == F.col("n_exact_pairs"))
                & (F.col("_n_arrow") == F.col("n_exact_pairs"))
            ).alias("same_neighbor_sets"),
        )
    )


ORACLE_ANN_TOPK_ARROW = _sql_expected_topk_summary("same_neighbor_sets")


def q_brand_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed triangle counting over the brand co-occurrence graph
    (edges = brand pairs sharing ≥ 324 orders — the pair-weight median at sf0.01, so the
    graph is genuinely sparse, not complete): the canonical two-join
    wedge-close — e(a,b) ⋈ e(b,c) builds wedges, ⋈ e(a,c) closes them;
    a<b<c orientation counts each triangle exactly once. At 100 TB-scale
    graphs the orientation should be by DEGREE (low→high) so wedge counts
    are bounded by arboricity, not by the max degree — ordering by name
    here because the brand graph is bounded. Vertices/edges/triangles in
    one row, fully oracle-checked."""
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    p = F.broadcast(
        read_table(spark, sf, "part").select("p_partkey", "p_brand")
    )
    ob = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select("l_orderkey", F.col("p_brand").alias("u"))
    b = ob.select("l_orderkey", F.col("p_brand").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 324)
        .select("u", "v")
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, "b")
    tri = wedges.join(e3, ["a", "c"])
    verts = edges.select(F.col("u").alias("x")).unionByName(
        edges.select(F.col("v").alias("x"))
    ).distinct()
    return (
        verts.agg(F.count(F.lit(1)).alias("n_vertices"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


ORACLE_BRAND_TRIANGLE_COUNT = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), e AS (
  SELECT a.p_brand AS u, b.p_brand AS v
  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2 HAVING count(*) >= 324
), tri AS (
  SELECT count(*) AS n
  FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3
    ON e3.u = e1.u AND e3.v = e2.v
), verts AS (
  SELECT count(DISTINCT x) AS n FROM (
    SELECT u AS x FROM e UNION ALL SELECT v FROM e
  )
)
SELECT verts.n AS n_vertices,
       (SELECT count(*) FROM e) AS n_edges,
       tri.n AS n_triangles
FROM verts, tri
"""


def q_cdc_log_replay(spark: SparkSession, sf: str) -> DataFrame:
    """CDC log replay: an ordered change log (INSERT/UPDATE/DELETE with
    sequence numbers) collapses to final table state by keeping the
    highest-sequence op per key and dropping keys whose last op is a
    DELETE — the log-compaction half of the MERGE family (`scd1` applies
    two-table diffs; this applies an op STREAM). One shuffle on the key;
    the last-op pick is the same agg-only max_by shape as
    `latest_event_agg_only` — no per-key sort. The log is derived
    deterministically from orders (md5 bucket 0 → deleted, 1 → updated)
    so final state is oracle-derivable."""
    o = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2), 16, 10)
        .cast("int"),
        F.lit(10),
    )
    ob = o.withColumn("_b", bucket)
    ins = ob.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit(1).alias("seq"), F.lit("I").alias("op"),
    )
    upd = (
        ob.filter(F.col("_b") == 1)
        .select(
            "o_orderkey", "o_orderstatus",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.lit(2).alias("seq"), F.lit("U").alias("op"),
        )
    )
    dele = ob.filter(F.col("_b") == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit(3).alias("seq"), F.lit("D").alias("op"),
    )
    log = ins.unionByName(upd).unionByName(dele)
    # the last-op pick orders by (seq, status, price), not seq alone: a
    # replayed CDC batch can carry the SAME (key, seq) twice with
    # conflicting payloads (the round-7 duplicate-key dirty row), and a
    # seq-only max_by breaks that tie engine-arbitrarily. One struct
    # max_by also replaces three — a single agg buffer per key.
    last = log.groupBy("o_orderkey").agg(
        F.max_by(
            F.struct("op", "o_orderstatus", "o_totalprice"),
            F.struct("seq", "o_orderstatus", "o_totalprice"),
        ).alias("_last")
    ).select(
        "o_orderkey",
        F.col("_last.op").alias("op"),
        F.col("_last.o_orderstatus").alias("o_orderstatus"),
        F.col("_last.o_totalprice").alias("o_totalprice"),
    )
    # scrub BEFORE floor: Spark floor(NaN) is 0 — an unscrubbed NaN price
    # would replay as zero cents instead of a missing measurement; and
    # _quantizable (not _nan_null) because a finite 1e300 price would
    # ARITHMETIC_OVERFLOW the bigint cents on both engines
    cents = F.floor(_quantizable("o_totalprice") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        last.filter(F.col("op") != "D")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents).cast("bigint").alias("sum_cents"),
        )
    )


ORACLE_CDC_LOG_REPLAY = """
WITH b AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         (  (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1)) % 10
           AS bkt
  FROM orders
), dedup AS (
  -- replay is per KEY: a duplicated (key, seq) collapses to one row by
  -- the Spark twin's deterministic (status, price) tie-break (ordering
  -- by the undoubled price is order-equivalent to the doubled one —
  -- x -> 2x is monotone). DESC + NULLS-LAST matches Spark's struct
  -- max_by, where a NULL field loses the comparison.
  SELECT o_orderkey, o_orderstatus, o_totalprice, bkt,
         row_number() OVER (
           PARTITION BY o_orderkey
           ORDER BY o_orderstatus DESC NULLS LAST,
                    o_totalprice DESC NULLS LAST) AS rn
  FROM b
), final AS (
  SELECT o_orderstatus,
         CASE WHEN bkt = 1 THEN o_totalprice * 2 ELSE o_totalprice END
           AS o_totalprice
  FROM dedup WHERE bkt <> 0 AND rn = 1
)
SELECT o_orderstatus, count(*) AS n_rows,
       -- quantizable scrub mirrors the Spark twin's _quantizable cents
       CAST(sum(CAST(floor(CASE WHEN isfinite(o_totalprice)
                                 AND abs(o_totalprice) < 1e14
                                THEN o_totalprice END * 100 + 0.5)
                     AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM final GROUP BY o_orderstatus
"""


def q_seasonal_residuals(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal profile + residual anomaly surface: hourly event counts
    minus their (iso-weekday, hour) seasonal mean — the detrending step
    before thresholding (the trailing-sigma monitor `hourly_anomalies`
    flags spikes; this one removes the weekly rhythm first so Monday 9am
    isn't an 'anomaly' every week). The seasonal profile is a bounded
    7×24 aggregate joined back by broadcast; means are single exact
    int-sum/count divisions, so residuals are engine-deterministic."""
    e = read_table(spark, sf, "events")
    hourly = (
        e.select(F.to_date("ts").alias("d"), F.hour("ts").alias("h"))
        .groupBy("d", "h")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("dow", F.weekday("d") + F.lit(1))
    )
    prof = hourly.groupBy("dow", "h").agg(
        F.sum("n").alias("_s"), F.count(F.lit(1)).alias("n_days")
    )
    mean = F.col("_s").cast("double") / F.col("n_days")
    prof = prof.select("dow", "h", "n_days", mean.alias("_mean"))
    joined = hourly.join(F.broadcast(prof), ["dow", "h"])
    return (
        joined.groupBy("dow", "h", "n_days")
        .agg(
            F.round(F.first("_mean"), 4).alias("seasonal_mean"),
            F.round(F.max(F.abs(F.col("n") - F.col("_mean"))), 4).alias(
                "max_abs_residual"
            ),
        )
    )


ORACLE_SEASONAL_RESIDUALS = """
WITH hourly AS (
  SELECT CAST(ts AS DATE) AS d, EXTRACT(hour FROM ts) AS h, count(*) AS n
  FROM events GROUP BY 1, 2
), hd AS (
  SELECT d, h, n, isodow(d) AS dow FROM hourly
), prof AS (
  SELECT dow, h, count(*) AS n_days,
         CAST(sum(n) AS DOUBLE) / count(*) AS m
  FROM hd GROUP BY 1, 2
)
SELECT hd.dow, hd.h, prof.n_days,
       round(prof.m, 4) AS seasonal_mean,
       round(max(abs(hd.n - prof.m)), 4) AS max_abs_residual
FROM hd JOIN prof ON hd.dow = prof.dow AND hd.h = prof.h
GROUP BY hd.dow, hd.h, prof.n_days, prof.m
"""


def q_json_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """Malformed-record quarantine at the JSON parse boundary: rows whose
    payload fails the declared schema land in a quarantine class instead
    of killing the job or silently nulling through — the row-level
    rendition of the reference's schema-once-enforce-everywhere policy
    (reference ``utils.py:123-129``). Corruption is injected
    deterministically (md5 bucket 0 gets a trailing garbage byte), parse
    is ``from_json`` (null result = unparseable), and the report is
    per-event-type parsed/quarantined counts plus the parsed-payload sum
    — all oracle-derivable. (Corruption is a LEADING garbage byte:
    Jackson accepts trailing junk after a complete JSON value, so only
    prefix damage reliably quarantines.)

    Degenerate-payload contract (round 7b, pinned by the
    ''/'   '/'null'/'[]'/'123'/'{}' dirty rows): a BLANK payload (empty
    or JSON-whitespace-only) is nothing-to-parse — the same class as
    NULL, and exactly Jackson's PERMISSIVE reading (no corrupt record) —
    while a valid-JSON NON-OBJECT top level ('null', '[]', '123') is a
    schema mismatch Jackson lands in the corrupt column -> quarantined.
    The oracle mirrors both readings explicitly (trim + top-level
    json_type = 'OBJECT')."""
    e = read_table(spark, sf, "events")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 2), 16, 10)
        .cast("int"),
        F.lit(10),
    )
    raw = e.select(
        "event_id",
        "event_type",
        F.when(bucket == 0, F.concat(F.lit("x"), F.col("props")))
        .otherwise(F.col("props"))
        .alias("payload"),
    )
    # PERMISSIVE from_json with an explicit corrupt-record column: failed
    # payloads land whole in _corrupt_record (the quarantine), parsed rows
    # leave it null — the job always survives.
    parsed = raw.withColumn(
        "rec",
        F.from_json(
            "payload",
            "k bigint, _corrupt_record string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    # quarantine = schema-failed (the corrupt column) OR ambiguous
    # (duplicate keys — from_json would silently take the LAST occurrence
    # where other surfaces take the first or reject; see _json_ambiguous)
    bad = F.col("rec._corrupt_record").isNotNull() | _json_ambiguous(
        "payload"
    )
    return parsed.groupBy("event_type").agg(
        F.sum((~bad).cast("bigint")).alias("n_parsed"),
        F.sum(bad.cast("bigint")).alias("n_quarantined"),
        F.sum(F.when(~bad, F.col("rec.k"))).cast("bigint").alias("k_sum_parsed"),
    )


ORACLE_JSON_QUARANTINE = f"""
WITH b AS (
  SELECT event_id, event_type, props,
         (  (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 2, 1)) - 1)) % 10
           AS bkt
  FROM events
), v AS (
  -- parse verdict on the PREFIXED payload: see _sql_json_parseable (the
  -- single source of truth, pinned per-payload by
  -- test_json_quarantine_payload_contract). Deriving the verdict from
  -- bkt alone would assume only the injected prefix can corrupt.
  SELECT event_type, payload,
         {_sql_json_parseable("payload")} AS ok
  FROM (SELECT event_type,
               CASE WHEN bkt = 0 THEN 'x' || props ELSE props END AS payload
        FROM b)
)
SELECT event_type,
       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
       CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quarantined,
       -- extraction rides the '{{}}' stand-in too: a parsed-blank payload
       -- ('' / '   ') would otherwise reach json_extract_string, which
       -- THROWS on malformed input (eager per-chunk evaluation)
       CAST(sum(CASE WHEN ok
                THEN CAST(json_extract_string(
                         coalesce(CASE WHEN json_valid(payload)
                                       THEN payload END, '{{}}'),
                         '$.k') AS BIGINT)
                END) AS BIGINT) AS k_sum_parsed
FROM v GROUP BY event_type
"""


def q_winsorized_price_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorized robust aggregation: per market segment, clamp order
    totals to the discrete [P05, P95] rank-selected bounds and aggregate
    the clamped cents — outlier-robust means without dropping rows. Rank
    selection (row_number vs ceil(q·n)) avoids interpolation, so the
    bounds are engine-exact; the clamp+sum runs on integer cents. Two
    passes over the group: one windowed rank to find bounds (bounded
    output), one broadcast join-back + clamp — the fact side never sorts
    twice."""
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    oc = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o["o_custkey"] == F.col("c_custkey"),
    ).select("c_mktsegment", "o_totalprice", "o_orderkey")
    # scrub BEFORE floor (Spark floor(NaN) is 0), then keep OBSERVED
    # prices only: a NULL cents row is neither rankable (the engines put
    # NULL on opposite ends, shifting every percentile rank) nor
    # clampable; _quantizable because a finite 1e300 price would
    # overflow the bigint cents on both engines
    cents = F.floor(_quantizable("o_totalprice") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    t = oc.select("c_mktsegment", "o_orderkey", cents.alias("cents")).filter(
        F.col("cents").isNotNull()
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "o_orderkey")
    ranked = t.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("c_mktsegment"))
    )
    bounds = (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.min(
                F.when(F.col("rn") == F.ceil(F.col("n") * 0.05), F.col("cents"))
            ).alias("lo"),
            F.min(
                F.when(F.col("rn") == F.ceil(F.col("n") * 0.95), F.col("cents"))
            ).alias("hi"),
        )
    )
    clamped = t.join(F.broadcast(bounds), "c_mktsegment").select(
        "c_mktsegment",
        F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents"))).alias(
            "wcents"
        ),
    )
    return clamped.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("wcents").cast("bigint").alias("winsorized_sum_cents"),
        F.min("wcents").alias("clamp_lo_cents"),
        F.max("wcents").alias("clamp_hi_cents"),
    )


ORACLE_WINSORIZED_PRICE_STATS = """
WITH t AS (
  -- observed, quantizable prices only (the Spark twin's _quantizable)
  SELECT c.c_mktsegment, o.o_orderkey,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_totalprice IS NOT NULL AND isfinite(o.o_totalprice)
    AND abs(o.o_totalprice) < 1e14
), r AS (
  SELECT c_mktsegment, cents,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY cents, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM t
), b AS (
  SELECT c_mktsegment,
         min(CASE WHEN rn = CAST(ceil(n * 0.05) AS BIGINT) THEN cents END) AS lo,
         min(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN cents END) AS hi
  FROM r GROUP BY c_mktsegment
)
SELECT t.c_mktsegment, count(*) AS n_orders,
       CAST(sum(greatest(b.lo, least(b.hi, t.cents))) AS BIGINT)
         AS winsorized_sum_cents,
       min(greatest(b.lo, least(b.hi, t.cents))) AS clamp_lo_cents,
       max(greatest(b.lo, least(b.hi, t.cents))) AS clamp_hi_cents
FROM t JOIN b USING (c_mktsegment)
GROUP BY t.c_mktsegment
"""


def q_price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram via ``width_bucket`` over a literal range —
    the equi-WIDTH complement of `equi_depth_histogram` (ntile). Literal
    bounds mean zero extra passes (no min/max pre-scan) and buckets that
    stay comparable across snapshots; one hash-agg, partial before the
    exchange."""
    o = read_table(spark, sf, "orders")
    return (
        o.select(
            # NaN -> NULL first: an unmeasured price belongs to the NULL
            # bucket, not to whatever width_bucket's NaN edge case returns
            F.width_bucket(
                _nan_null("o_totalprice"), F.lit(0.0), F.lit(600000.0), F.lit(20)
            )
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORACLE_PRICE_HISTOGRAM = """
-- DuckDB has no width_bucket; this mirrors Spark's arithmetic exactly:
-- floor((v - lo) / ((hi - lo) / n)) + 1, clamped to 0 / n+1 outside.
SELECT CAST(CASE WHEN o_totalprice IS NULL OR NOT isfinite(o_totalprice) THEN NULL
                 WHEN o_totalprice < 0.0 THEN 0
                 WHEN o_totalprice >= 600000.0 THEN 21
                 ELSE floor(o_totalprice / (600000.0 / 20)) + 1
            END AS INT) AS bucket,
       count(*) AS n_orders
FROM orders GROUP BY 1
"""


def q_cumulative_new_users(spark: SparkSession, sf: str) -> DataFrame:
    """User-growth curve: per day, first-time users (first-seen-day
    aggregation — one shuffle keyed on user) and the running total of
    distinct users ever seen (a cumulative sum over the bounded day
    series — the window sorts days, never events). Cumulative-distinct
    expressed as cumsum-of-firsts is exact and incremental; a naive
    'count distinct over unbounded preceding' would rescan history per
    day."""
    e = read_table(spark, sf, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily_new = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily_new.select(
        F.col("first_day").alias("day"),
        "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("cum_users"),
    )


ORACLE_CUMULATIVE_NEW_USERS = """
WITH fs AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
), dn AS (
  SELECT first_day, count(*) AS n_new FROM fs GROUP BY first_day
)
SELECT first_day AS day, n_new,
       CAST(sum(n_new) OVER (ORDER BY first_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM dn
"""


def q_conjunctive_term_search(spark: SparkSession, sf: str) -> DataFrame:
    """Mini search engine over the corpus: build token posting lists
    (term → doc, tf) and answer a conjunctive query ('data' AND 'join')
    by INTERSECTING posting lists — the join keys on doc_id and each side
    is only that term's postings, so query cost scales with posting-list
    length, not corpus size (the inverted-index property). Ranking is
    combined term frequency with doc_id tiebreak; scores are integer
    counts, so ranks are engine-exact."""
    d = read_table(spark, sf, "documents")
    postings = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .withColumn("term", F.lower(F.regexp_replace("tok", r"[^A-Za-z0-9]", "")))
        .filter(F.col("term").isin("data", "join"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    a = postings.filter(F.col("term") == "data").select(
        "doc_id", F.col("tf").alias("tf_data")
    )
    b = postings.filter(F.col("term") == "join").select(
        "doc_id", F.col("tf").alias("tf_join")
    )
    hits = a.join(b, "doc_id")
    w = Window.orderBy(
        (F.col("tf_data") + F.col("tf_join")).desc(), F.col("doc_id")
    )
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("rank", "doc_id", "tf_data", "tf_join")
    )


ORACLE_CONJUNCTIVE_TERM_SEARCH = """
WITH toks AS (
  SELECT doc_id,
         lower(regexp_replace(t.tok, '[^A-Za-z0-9]', '', 'g')) AS term
  FROM documents, LATERAL unnest(string_split_regex(trim(text), '\\s+')) AS t(tok)
), p AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE term IN ('data', 'join') GROUP BY 1, 2
), a AS (SELECT doc_id, tf AS tf_data  FROM p WHERE term = 'data'),
     b AS (SELECT doc_id, tf AS tf_join FROM p WHERE term = 'join')
SELECT CAST(row_number() OVER (ORDER BY a.tf_data + b.tf_join DESC, a.doc_id)
            AS INT) AS rank,
       a.doc_id, a.tf_data, b.tf_join
FROM a JOIN b USING (doc_id)
QUALIFY rank <= 20
"""


def q_event_type_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """User-set similarity between event types: for every type pair, the
    intersection size and Jaccard of their user sets — "do people who
    sign up also purchase?". The (user, type) set is deduped first, the
    pair join keys on user_id (each user contributes its own type-pair
    cross, bounded by the type cardinality squared), and per-type set
    sizes broadcast back — at any corpus scale the shuffled unit is the
    deduped pair set, never raw events. Jaccard is an exact integer
    ratio rounded at 6."""
    e = read_table(spark, sf, "events")
    ut = e.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b")))
    return (
        inter.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


ORACLE_EVENT_TYPE_OVERLAP = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), sizes AS (
  SELECT event_type, count(*) AS n FROM ut GROUP BY event_type
), inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, i.n_both,
       round(CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
"""


def q_longest_user_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, reported as a
    streak-length distribution — the gaps-and-islands idiom with the
    day_number − row_number island key (consecutive days share one key,
    any gap starts a new one). Both windows partition by user; nothing
    global. All integers end-to-end."""
    e = read_table(spark, sf, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = ud.withColumn(
        "island",
        F.datediff(F.col("day"), F.lit("1970-01-01"))
        - F.row_number().over(w),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    longest = streaks.groupBy("user_id").agg(F.max("len").alias("max_streak"))
    return longest.groupBy("max_streak").agg(
        F.count(F.lit(1)).alias("n_users")
    )


ORACLE_LONGEST_USER_STREAKS = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), isl AS (
  SELECT user_id,
         CAST(day - DATE '1970-01-01' AS BIGINT)
         - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM ud
), s AS (
  SELECT user_id, island, count(*) AS len FROM isl GROUP BY 1, 2
), l AS (
  SELECT user_id, max(len) AS max_streak FROM s GROUP BY user_id
)
SELECT max_streak, count(*) AS n_users FROM l GROUP BY max_streak
"""


def q_lang_confusion_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier-evaluation surface: confusion matrix of the rule-based
    language-ID (`functions.text.lang_id`) against the corpus's labeled
    lang column, plus per-cell share of the true-label row — the standard
    eval artifact for any heuristic you're about to run on 100 TB. One
    scan, one bounded (|langs|²) aggregate; row shares are exact integer
    ratios rounded at 6."""
    d = read_table(spark, sf, "documents")
    cm = (
        d.select("lang", lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return cm.select(
        "lang",
        "lang_pred",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
        ).alias("row_share"),
    )


ORACLE_LANG_CONFUSION_MATRIX = """
WITH pred AS (
  SELECT lang,
         CASE
           WHEN strpos(t, ' der ') > 0 OR strpos(t, ' und ') > 0
             OR strpos(t, ' die ') > 0 OR strpos(t, ' nicht ') > 0 THEN 'de'
           WHEN strpos(t, ' el ') > 0 OR strpos(t, ' los ') > 0
             OR strpos(t, ' una ') > 0 OR strpos(t, ' que ') > 0 THEN 'es'
           WHEN strpos(t, ' le ') > 0 OR strpos(t, ' les ') > 0
             OR strpos(t, ' une ') > 0 OR strpos(t, ' est ') > 0 THEN 'fr'
           WHEN strpos(t, ' het ') > 0 OR strpos(t, ' een ') > 0
             OR strpos(t, ' niet ') > 0 OR strpos(t, ' van ') > 0 THEN 'nl'
           ELSE 'en'
         END AS lang_pred
  FROM (SELECT lang, ' ' || lower(text) || ' ' AS t FROM documents)
), cm AS (
  SELECT lang, lang_pred, count(*) AS n_docs FROM pred GROUP BY 1, 2
)
SELECT lang, lang_pred, n_docs,
       round(CAST(n_docs AS DOUBLE)
             / sum(n_docs) OVER (PARTITION BY lang), 6) AS row_share
FROM cm
"""


def q_revenue_share_hierarchy(spark: SparkSession, sf: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels: each nation's revenue
    share WITHIN its region, and each region's share of the total — the
    drill-down ratio pair every BI rollup ships. Revenue is summed as
    integer cents (one hash-agg at the nation grain), then the region and
    grand totals derive from window sums over the BOUNDED nation-level
    aggregate — the fact table is scanned once."""
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region")
    # _quantizable on the PRODUCT: NaN/Inf factors propagate into it
    # and become NULL, and a product past the cents domain (1e300
    # price, or a finite 5e13 discount that passes per-factor guards)
    # would ARITHMETIC_OVERFLOW the bigint cast
    cents = F.floor(
        _quantizable(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        * 100
        + F.lit(0.5)
    ).cast("bigint")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    nat = joined.groupBy("r_name", "n_name").agg(
        F.sum(cents).alias("rev_cents")
    )
    wr = Window.partitionBy("r_name")
    wall = Window.partitionBy()
    return nat.select(
        "r_name",
        "n_name",
        F.col("rev_cents").cast("bigint").alias("rev_cents"),
        F.round(
            F.col("rev_cents").cast("double") / F.sum("rev_cents").over(wr), 6
        ).alias("share_of_region"),
        F.round(
            F.sum("rev_cents").over(wr).cast("double")
            / F.sum("rev_cents").over(wall),
            6,
        ).alias("region_share_of_total"),
    )


ORACLE_REVENUE_SHARE_HIERARCHY = """
WITH nat AS (
  SELECT r.r_name, n.n_name,
         -- quantizable scrub on the PRODUCT (mirrors _quantizable)
         CAST(sum(CAST(floor(
               (CASE WHEN isfinite(l.l_extendedprice * (1 - l.l_discount))
                      AND abs(l.l_extendedprice * (1 - l.l_discount)) < 1e14
                     THEN l.l_extendedprice * (1 - l.l_discount) END) * 100
               + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name, rev_cents,
       round(CAST(rev_cents AS DOUBLE)
             / sum(rev_cents) OVER (PARTITION BY r_name), 6)
         AS share_of_region,
       round(CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS DOUBLE)
             / sum(rev_cents) OVER (), 6) AS region_share_of_total
FROM nat
"""


def q_embedding_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension z-score outlier screen over the embedding matrix,
    fully integer-quantized so both engines agree bit-for-bit: values
    quantize to 1e-5 steps (bigint), per-dimension mean and variance derive
    from EXACT integer sums (sum, sum-of-squares, n), and a cell is an
    outlier when (x−μ)² > 9σ² — computed cross-multiplied on integers
    scaled back by n², no sqrt, no float accumulation anywhere. Output is
    the distribution of per-vector outlier-dimension counts. Per-dim
    stats are a bounded (n_dims) aggregate broadcast back onto the
    posexploded cells."""
    # usable vectors only: a NaN component would floor to 0 (fabricated
    # observation) and an Inf one throws in the ANSI bigint quantization
    emb = _finite_vectors(read_table(spark, sf, "embeddings"))
    cells = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("x").cast("double") * 100000 + F.lit(0.5))
        .cast("bigint")
        .alias("xq"),
    )
    stats = cells.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("s"),
        F.sum(F.col("xq") * F.col("xq")).alias("ss"),
    )
    # outlier iff n²·(x−μ)² > 9·n²·σ²  ⇔  (n·x − s)² > 9·(n·ss − s²)
    flagged = cells.join(F.broadcast(stats), "dim").select(
        "vec_id",
        (
            (F.col("n") * F.col("xq") - F.col("s"))
            * (F.col("n") * F.col("xq") - F.col("s"))
            > 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
        ).cast("bigint").alias("is_outlier"),
    )
    per_vec = flagged.groupBy("vec_id").agg(
        F.sum("is_outlier").cast("bigint").alias("n_outlier_dims")
    )
    return per_vec.groupBy("n_outlier_dims").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


ORACLE_EMBEDDING_OUTLIERS = f"""
WITH cells AS (
  SELECT vec_id, d.dim,
         CAST(floor(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 100000 + 0.5)
              AS BIGINT) AS xq
  FROM embeddings e,
       LATERAL (SELECT unnest(range(len(e.embedding))) AS dim) d
  -- usable vectors only (the Spark twin's _finite_vectors contract)
  WHERE {_SQL_FINITE_VEC}
), stats AS (
  SELECT dim, count(*) AS n,
         CAST(sum(xq) AS BIGINT) AS s,
         CAST(sum(xq * xq) AS BIGINT) AS ss
  FROM cells GROUP BY dim
), flagged AS (
  SELECT c.vec_id,
         CASE WHEN (st.n * c.xq - st.s) * (st.n * c.xq - st.s)
                   > 9 * (st.n * st.ss - st.s * st.s)
              THEN 1 ELSE 0 END AS is_outlier
  FROM cells c JOIN stats st USING (dim)
), per_vec AS (
  SELECT vec_id, CAST(sum(is_outlier) AS BIGINT) AS n_outlier_dims
  FROM flagged GROUP BY vec_id
)
SELECT n_outlier_dims, count(*) AS n_vectors FROM per_vec GROUP BY 1
"""


def q_null_safe_dim_join(spark: SparkSession, sf: str) -> DataFrame:
    """The 'unknown member' dimension pattern with null-safe equality:
    facts with a missing dimension key (md5 bucket 0 of customers, nulled
    deterministically) match a single synthetic NULL dim row via ``<=>``
    instead of silently dropping out of an equi-join — the classic BI fix
    for unattributable rows. Null keys map to ONE dim row, so there is no
    null-cross-product; the join stays a hash join on the null-safe key.
    Counts per (region label) oracle-checked with IS NOT DISTINCT FROM."""
    c = read_table(spark, sf, "customer")
    n = read_table(spark, sf, "nation")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2), 16, 10)
        .cast("int"),
        F.lit(10),
    )
    fact = c.select(
        "c_custkey",
        F.when(bucket == 0, F.lit(None)).otherwise(F.col("c_nationkey")).alias(
            "nk"
        ),
    )
    dim = n.select(
        F.col("n_nationkey").alias("dk"), F.col("n_name").alias("member")
    ).unionByName(
        spark.createDataFrame([(None, "UNKNOWN")], "dk int, member string")
    )
    joined = fact.join(F.broadcast(dim), F.col("nk").eqNullSafe(F.col("dk")))
    return joined.groupBy("member").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


ORACLE_NULL_SAFE_DIM_JOIN = """
WITH f AS (
  SELECT c_custkey,
         CASE WHEN (
             (strpos('0123456789abcdef', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(CAST(c_custkey AS VARCHAR)), 2, 1)) - 1)) % 10 = 0
              THEN NULL ELSE c_nationkey END AS nk
  FROM customer
), d AS (
  SELECT n_nationkey AS dk, n_name AS member FROM nation
  UNION ALL SELECT NULL, 'UNKNOWN'
)
SELECT d.member, count(*) AS n_customers
FROM f JOIN d ON f.nk IS NOT DISTINCT FROM d.dk
GROUP BY d.member
"""


def q_doc_length_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus length profile: discrete median / p90 / max
    token counts and doc counts — the first chart on any corpus-intake
    dashboard, and the robust-stats pattern (rank selection over a total
    order, no interpolation) applied to text. One shuffle on source; the
    quantile picks are conditional mins over the ranked rows."""
    d = read_table(spark, sf, "documents")
    t = d.select(
        "source", "doc_id", token_count("text").cast("bigint").alias("n_tok")
    )
    # NULLS LAST explicitly: NULL token counts (NULL text) must rank after
    # every real length in BOTH engines — Spark ascends NULLS FIRST by
    # default, DuckDB NULLS LAST, which silently shifts every rank-based
    # quantile pick in a group containing one dirty doc
    w = Window.partitionBy("source").orderBy(
        F.col("n_tok").asc_nulls_last(), "doc_id"
    )
    ranked = t.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    return ranked.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.min(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.5), F.col("n_tok"))
        ).alias("median_tokens"),
        F.min(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.9), F.col("n_tok"))
        ).alias("p90_tokens"),
        F.max("n_tok").alias("max_tokens"),
    )


ORACLE_DOC_LENGTH_PROFILE = """
WITH t AS (
  SELECT source, doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
), r AS (
  SELECT source, n_tok,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_tok NULLS LAST, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM t
)
SELECT source, max(n) AS n_docs,
       min(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN n_tok END)
         AS median_tokens,
       min(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN n_tok END)
         AS p90_tokens,
       max(n_tok) AS max_tokens
FROM r GROUP BY source
"""


def q_table_checksums(spark: SparkSession, sf: str) -> DataFrame:
    """Order-insensitive table checksums for replication/migration
    verification: per table, row count plus the SUM of a 32-bit integer
    derived from each row's md5 fingerprint (canonical projection, money
    as integer cents). Addition commutes, so the checksum is independent
    of partitioning and row order — two systems agree iff the data agrees
    (modulo the 32-bit-per-row collision bound), and the check ships one
    number per table, not the data. The per-row hash work is one scan per
    table with a partial sum before each exchange."""

    def cks(df: DataFrame, cols: list, name: str) -> DataFrame:
        fp = F.md5(F.concat_ws("|", *[c.cast("string") for c in cols]))
        word = F.conv(F.substring(fp, 1, 8), 16, 10).cast("bigint")
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(word).cast("bigint").alias("checksum"),
        )

    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    li = read_table(spark, sf, "lineitem")
    # scrub BEFORE floor (Spark floor(NaN) is 0): a NaN amount fingerprints
    # as a MISSING field (concat_ws skips NULLs), never as zero cents;
    # _quantizable because a finite 1e300 would overflow the bigint cents
    cents = lambda col: F.floor(_quantizable(col) * 100 + F.lit(0.5)).cast("bigint")  # noqa: E731
    return (
        cks(o, [F.col("o_orderkey"), F.col("o_orderstatus"), cents("o_totalprice")], "orders")
        .unionByName(
            cks(c, [F.col("c_custkey"), F.col("c_nationkey"), F.col("c_mktsegment")], "customer")
        )
        .unionByName(
            cks(
                li,
                [F.col("l_orderkey"), F.col("l_partkey"), F.col("l_suppkey"), cents("l_extendedprice")],
                "lineitem",
            )
        )
    )


ORACLE_TABLE_CHECKSUMS = """
WITH o AS (
  -- concat_ws (NULL-skipping, matching Spark), NOT '||' (one NULL column
  -- would NULL the whole fingerprint and silently DROP the row from the
  -- checksum); quantizable scrub mirrors the Spark twin's cents guard
  SELECT count(*) AS n,
         CAST(sum(CAST(concat('0x', substr(md5(concat_ws('|',
             CAST(o_orderkey AS VARCHAR), o_orderstatus,
             CAST(CAST(floor(CASE WHEN isfinite(o_totalprice)
                                   AND abs(o_totalprice) < 1e14
                                  THEN o_totalprice END * 100 + 0.5)
                  AS BIGINT) AS VARCHAR)
         )), 1, 8)) AS BIGINT)) AS BIGINT) AS cks
  FROM orders
), c AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(concat('0x', substr(md5(concat_ws('|',
             CAST(c_custkey AS VARCHAR),
             CAST(c_nationkey AS VARCHAR), c_mktsegment
         )), 1, 8)) AS BIGINT)) AS BIGINT) AS cks
  FROM customer
), l AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(concat('0x', substr(md5(concat_ws('|',
             CAST(l_orderkey AS VARCHAR),
             CAST(l_partkey AS VARCHAR),
             CAST(l_suppkey AS VARCHAR),
             CAST(CAST(floor(CASE WHEN isfinite(l_extendedprice)
                                   AND abs(l_extendedprice) < 1e14
                                  THEN l_extendedprice END * 100 + 0.5)
                  AS BIGINT) AS VARCHAR)
         )), 1, 8)) AS BIGINT)) AS BIGINT) AS cks
  FROM lineitem
)
SELECT 'orders' AS table_name, n AS n_rows, cks AS checksum FROM o
UNION ALL SELECT 'customer', n, cks FROM c
UNION ALL SELECT 'lineitem', n, cks FROM l
"""


def q_approx_global_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """The scale path for a GLOBAL equi-depth histogram (exact global
    ntile is inherently a total sort — see `equi_depth_histogram`):
    approximate decile boundaries from one `percentile_approx` aggregate
    (mergeable sketch, partial-before-exchange), then bucket assignment
    as a row-level CASE against the broadcast boundary array. Registered
    as a QUALITY CONTRACT: boundary values are sketch-dependent and not
    reproducible in DuckDB, so the query emits sketch-independent facts —
    bucket count, total rows, and a pinned bound that no bucket exceeds
    2× the ideal equi-depth share."""
    # histogram domain = bucket-assignable rows: percentile_approx
    # ignores NULL prices, so a NULL-price row has no defined bucket —
    # it is excluded from assignment, the row count, AND the tie-mass
    # term (a NULL "group" is not a rank-boundary tie and would only
    # loosen the pinned balance bound, masking real imbalance).
    o = read_table(spark, sf, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    bounds = o.agg(
        F.percentile_approx(
            "o_totalprice", [i / 10.0 for i in range(1, 10)], 10000
        ).alias("bs")
    )
    assigned = o.crossJoin(F.broadcast(bounds)).select(
        (
            F.aggregate(
                "bs",
                F.lit(1),
                lambda acc, b: acc
                + F.when(F.col("o_totalprice") > b, 1).otherwise(0),
            )
        ).alias("bucket")
    )
    counts = assigned.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    # degenerate-input contract (round 7b empty/single-row/constant
    # probes): the observed-bucket COUNT is sketch- and data-dependent
    # (1 on a single-row or constant-price table, 0 on empty) — not
    # SQL-derivable — so the pinned fact is the by-construction bound
    # (<= 10 buckets from 9 boundaries). The balance bound carries a
    # TIE-MASS term: rank-selected boundaries cannot split equal values,
    # so a single price carrying p rows forces a bucket of >= p — the
    # honest equi-depth guarantee is max_bucket <= 2*ideal + max_tie
    # (integer form: max*5 <= n + 5*max_tie; also absorbs the
    # fractional-ideal floor at tiny n). Vacuously TRUE on empty.
    max_tie = o.groupBy("o_totalprice").agg(
        F.count(F.lit(1)).alias("_c")
    ).agg(F.max("_c").alias("_maxtie"))
    return counts.agg(
        (F.count(F.lit(1)) <= 10).alias("n_buckets_le_10"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_orders"),
        F.coalesce(F.max("n") * 5, F.lit(0)).alias("_m5"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("_s"),
    ).crossJoin(F.broadcast(max_tie)).select(
        "n_buckets_le_10",
        "n_orders",
        (
            F.col("_m5")
            <= F.col("_s") + 5 * F.coalesce(F.col("_maxtie"), F.lit(0))
        ).alias("max_bucket_le_2x_ideal_plus_ties"),
    )


ORACLE_APPROX_GLOBAL_HISTOGRAM = """
SELECT TRUE AS n_buckets_le_10,
       count(o_totalprice) AS n_orders,
       TRUE AS max_bucket_le_2x_ideal_plus_ties
FROM orders
"""


def q_grouped_map_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-map Pandas UDF (``applyInPandas``) — the per-group
    whole-partition escape hatch, completing the Python-surface matrix
    (pandas UDF, UDTF, grouped-agg UDAF, mapInPandas, mapInArrow,
    applyInPandasWithState). Each language group's token counts arrive as
    ONE Arrow batch and numpy computes the discrete lower median and MAD
    — all integers, so the result is oracle-checked exactly against the
    rank-selection SQL (the same stats `robust_price_stats` derives with
    windows; here the point is the API surface and its per-group memory
    contract: a group must fit one executor's frame)."""
    import pandas as pd

    d = read_table(spark, sf, "documents")
    feat = d.select("lang", token_count("text").cast("bigint").alias("n_tok"))

    def mad(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # NULL token counts (NULL text) sort LAST — the same rank
        # selection the oracle's ORDER BY n_tok NULLS LAST performs; if
        # the picked rank lands on a NULL (group majority un-tokenizable)
        # the statistic is NULL, not an int(NaN) crash.
        xs = pdf["n_tok"].sort_values(na_position="last").to_numpy()
        n = len(xs)
        pick = xs[(n + 1) // 2 - 1]  # lower median, rank ceil(n/2)
        med = None if pd.isna(pick) else int(pick)
        if med is None:
            dmed = None
        else:
            dev = np.sort(np.abs(pdf["n_tok"].to_numpy() - med))
            pick2 = dev[(n + 1) // 2 - 1]  # NaN sorts last in np.sort
            dmed = None if np.isnan(pick2) else int(pick2)
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [n],
                "median_tokens": [med],
                "mad_tokens": [dmed],
            }
        )

    return feat.groupBy("lang").applyInPandas(
        mad, "lang string, n_docs long, median_tokens long, mad_tokens long"
    )


ORACLE_GROUPED_MAP_MAD = """
WITH t AS (
  SELECT lang,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok,
         doc_id
  FROM documents
), r AS (
  SELECT lang, n_tok,
         row_number() OVER (PARTITION BY lang ORDER BY n_tok, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM t
), med AS (
  SELECT lang, max(n) AS n_docs,
         min(CASE WHEN rn = CAST(ceil(n / 2.0) AS BIGINT) THEN n_tok END)
           AS median_tokens
  FROM r GROUP BY lang
), dev AS (
  SELECT t.lang, abs(t.n_tok - m.median_tokens) AS d, t.doc_id
  FROM t JOIN med m ON t.lang IS NOT DISTINCT FROM m.lang
), rd AS (
  SELECT lang, d,
         row_number() OVER (PARTITION BY lang ORDER BY d, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM dev
), mad AS (
  SELECT lang,
         min(CASE WHEN rn = CAST(ceil(n / 2.0) AS BIGINT) THEN d END)
           AS mad_tokens
  FROM rd GROUP BY lang
)
SELECT med.lang, med.n_docs, med.median_tokens, mad.mad_tokens
-- null-safe join-back: the NULL-lang group is a group like any other;
-- a plain equi-join on lang would silently drop its row
FROM med JOIN mad ON med.lang IS NOT DISTINCT FROM mad.lang
"""


def q_map_merge_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Higher-order MAP functions end-to-end: per-user event-type count
    maps built for each half of the observed time range
    (map_from_entries over sorted struct arrays), merged with
    ``map_zip_with`` (null-safe sum — a key may exist in only one half),
    then exploded back to rows so every merged entry is oracle-checked.
    The map column is the feature-store shape; the explode is the check.

    Dirty-data contract: an untyped event counts under the '' key — a NULL
    map key is ILLEGAL in Spark (NULL_MAP_KEY kills the job) and '' cannot
    collide with a real type. Clock-less events are excluded explicitly
    (a NULL half-flag would silently drop them from both halves anyway).
    """
    e = (
        read_table(spark, sf, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.coalesce("event_type", F.lit("")).alias("event_type"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
    )
    mid = e.agg(F.expr("(min(us) + max(us)) div 2").alias("mid_us"))
    tagged = e.crossJoin(F.broadcast(mid)).select(
        "user_id",
        "event_type",
        (F.col("us") <= F.col("mid_us")).alias("first_half"),
    )

    def half_map(flag: bool) -> DataFrame:
        return (
            tagged.filter(F.col("first_half") == flag)
            .groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("user_id")
            .agg(
                F.map_from_entries(
                    F.array_sort(
                        F.collect_list(F.struct("event_type", "n"))
                    )
                ).alias("m")
            )
        )

    a = half_map(True).withColumnRenamed("m", "m1")
    b = half_map(False).withColumnRenamed("m", "m2")
    merged = a.join(b, "user_id", "full_outer").select(
        "user_id",
        F.map_zip_with(
            F.coalesce("m1", F.expr("map()")),
            F.coalesce("m2", F.expr("map()")),
            lambda k, v1, v2: F.coalesce(v1, F.lit(0))
            + F.coalesce(v2, F.lit(0)),
        ).alias("mm"),
    )
    return merged.select(
        "user_id", F.explode("mm").alias("event_type", "n_events")
    )


ORACLE_MAP_MERGE_COUNTS = """
SELECT user_id, coalesce(event_type, '') AS event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


def q_user_type_arrays(spark: SparkSession, sf: str) -> DataFrame:
    """Array set algebra: per user, the SORTED sets of event types seen in
    each half of the time range (collect_set is order-nondeterministic —
    always array_sort before comparing), with array_intersect /
    array_except / array_union sizes — 'which behaviors persisted,
    appeared, or lapsed'. Sizes are integers; the oracle re-derives them
    from distinct membership counts."""
    e = read_table(spark, sf, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    mid = e.agg(F.expr("(min(us) + max(us)) div 2").alias("mid_us"))
    tagged = e.crossJoin(F.broadcast(mid)).select(
        "user_id",
        "event_type",
        (F.col("us") <= F.col("mid_us")).alias("fh"),
    )
    sets = tagged.groupBy("user_id").agg(
        F.array_sort(
            F.array_distinct(
                F.collect_list(F.when(F.col("fh"), F.col("event_type")))
            )
        ).alias("h1"),
        F.array_sort(
            F.array_distinct(
                F.collect_list(F.when(~F.col("fh"), F.col("event_type")))
            )
        ).alias("h2"),
    )
    return sets.select(
        "user_id",
        F.size("h1").alias("n_h1"),
        F.size("h2").alias("n_h2"),
        F.size(F.array_intersect("h1", "h2")).alias("n_persisted"),
        F.size(F.array_except("h2", "h1")).alias("n_new"),
        F.size(F.array_except("h1", "h2")).alias("n_lapsed"),
        F.size(F.array_union("h1", "h2")).alias("n_total"),
    )


ORACLE_USER_TYPE_ARRAYS = """
WITH m AS (
  SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us FROM events
), ut AS (
  SELECT DISTINCT user_id, event_type, (epoch_us(ts) <= m.mid_us) AS fh
  FROM events, m
), per AS (
  SELECT user_id,
         count(DISTINCT CASE WHEN fh THEN event_type END) AS n_h1,
         count(DISTINCT CASE WHEN NOT fh THEN event_type END) AS n_h2,
         count(DISTINCT event_type) AS n_total
  FROM ut GROUP BY user_id
), inter AS (
  SELECT a.user_id, count(*) AS n_persisted
  FROM (SELECT DISTINCT user_id, event_type FROM ut WHERE fh) a
  JOIN (SELECT DISTINCT user_id, event_type FROM ut WHERE NOT fh) b
    ON a.user_id = b.user_id AND a.event_type = b.event_type
  GROUP BY a.user_id
)
SELECT p.user_id, p.n_h1, p.n_h2,
       COALESCE(i.n_persisted, 0) AS n_persisted,
       p.n_h2 - COALESCE(i.n_persisted, 0) AS n_new,
       p.n_h1 - COALESCE(i.n_persisted, 0) AS n_lapsed,
       p.n_total
FROM per p LEFT JOIN inter i USING (user_id)
"""


def q_sql_udf_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """SQL-defined functions (Spark 4 ``CREATE FUNCTION … RETURN``): a
    scalar SQL UDF for the discounted-price formula and a SQL TABLE
    function for the status dimension, composed in one query. SQL UDFs
    inline into the Catalyst plan — they are macros, not black boxes, so
    whole-stage codegen and pushdown see through them (unlike any Python
    UDF). The per-status revenue is oracle-checked with the formula
    expanded."""
    register_views(spark, sf, ("lineitem",))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION line_statuses() "
        "RETURNS TABLE(status STRING) "
        "RETURN SELECT * FROM VALUES ('F'), ('O') t(status)"
    )
    return spark.sql(
        """
        SELECT s.status,
               count(*) AS n_lines,
               round(sum(disc_price(l_extendedprice, l_discount)), 2)
                 AS revenue
        FROM line_statuses() s
        JOIN lineitem ON l_linestatus = s.status
        GROUP BY s.status
        """
    )


ORACLE_SQL_UDF_REVENUE = """
SELECT l_linestatus AS status, count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_linestatus IN ('F', 'O')
GROUP BY l_linestatus
"""


def q_exact_percentiles_builtin(spark: SparkSession, sf: str) -> DataFrame:
    """The EXACT percentile built-in (``percentile``), completing the
    quantile triptych: exact-interpolated here, discrete rank-selection
    (`robust_price_stats`), and sketch-approximate (`approx_price_sketch`).
    Interpolation ((1−g)·a + g·b) is only cross-engine-safe on INTEGER
    inputs — on cents the interpolated values are exact doubles, so this
    hash-matches DuckDB's quantile_cont; on raw doubles it would not be.
    Exact percentile sorts within each group: fine for bounded groups,
    use the sketch path for a global quantile at scale."""
    o = read_table(spark, sf, "orders")
    # scrub BEFORE floor (Spark floor(NaN) is 0): NULL/NaN prices are not
    # observations — percentile/quantile_cont skip NULLs in both engines.
    # _quantizable, not _nan_null: a finite 1e300 would overflow the
    # bigint cents cast (ANSI ARITHMETIC_OVERFLOW)
    cents = F.floor(_quantizable("o_totalprice") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    t = o.select("o_orderpriority", cents.alias("cents"))
    pct = t.groupBy("o_orderpriority").agg(
        F.percentile("cents", F.lit([0.25, 0.5, 0.75])).alias("qs"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return pct.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("qs")[0], 2).alias("p25_cents"),
        F.round(F.col("qs")[1], 2).alias("p50_cents"),
        F.round(F.col("qs")[2], 2).alias("p75_cents"),
    )


ORACLE_EXACT_PERCENTILES_BUILTIN = """
WITH c AS (
  SELECT o_orderpriority,
         -- quantizable scrub mirrors the Spark twin's _quantizable guard
         CAST(floor(CASE WHEN isfinite(o_totalprice)
                          AND abs(o_totalprice) < 1e14
                         THEN o_totalprice END * 100 + 0.5) AS BIGINT)
           AS cents
  FROM orders
)
SELECT o_orderpriority, count(*) AS n_orders,
       round(quantile_cont(cents, 0.25), 2) AS p25_cents,
       round(quantile_cont(cents, 0.5), 2) AS p50_cents,
       round(quantile_cont(cents, 0.75), 2) AS p75_cents
FROM c GROUP BY o_orderpriority
"""


def q_trailing_24h_event_load(spark: SparkSession, sf: str) -> DataFrame:
    """Time-interval window frame (``RANGE BETWEEN INTERVAL … PRECEDING``):
    per event, the count of same-type events in the trailing 24 hours —
    the event-time sliding load metric, with the frame defined on REAL
    time, not row counts (row frames break under irregular arrival).
    Reported as the per-type maximum so the output is bounded. Frames are
    integer counts → engine-exact; window partitions by type."""
    register_views(spark, sf, ("events",))
    return spark.sql(
        """
        WITH loads AS (
          SELECT event_type,
                 count(*) OVER (
                   PARTITION BY event_type ORDER BY CAST(ts AS TIMESTAMP)
                   RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW
                 ) AS trailing_24h
          FROM events
        )
        SELECT event_type, max(trailing_24h) AS peak_trailing_24h,
               count(*) AS n_events
        FROM loads GROUP BY event_type
        """
    )


ORACLE_TRAILING_24H_EVENT_LOAD = """
WITH loads AS (
  SELECT event_type,
         count(*) OVER (
           PARTITION BY event_type ORDER BY ts
           RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW
         ) AS trailing_24h
  FROM events
)
SELECT event_type, max(trailing_24h) AS peak_trailing_24h,
       count(*) AS n_events
FROM loads GROUP BY event_type
"""


def q_filtered_agg_sql(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional aggregation via the SQL:2003 ``FILTER`` clause (one
    scan, one hash-agg — the declarative alternative to CASE-WHEN
    pyramids) plus ``GROUP BY ALL``. Money sums on integer cents."""
    register_views(spark, sf, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               -- quantizable guard (the _quantizable contract, inlined):
               -- Spark treats NaN as greater than any value
               -- (NaN > 200000 is TRUE), DuckDB follows IEEE — an
               -- unmeasured or out-of-decimal-domain price is not a
               -- 'large' one in either engine, and a finite 1e300 would
               -- overflow the bigint cents cast below
               count(*) FILTER (WHERE o_totalprice > 200000
                                  AND NOT isnan(o_totalprice)
                                  AND abs(o_totalprice) < 1e14)
                 AS n_large,
               CAST(sum(CAST(floor(CASE WHEN NOT isnan(o_totalprice)
                                         AND abs(o_totalprice) < 1e14
                                        THEN o_totalprice END * 100 + 0.5)
                             AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
                 AS open_cents
        FROM orders
        GROUP BY ALL
        """
    )


ORACLE_FILTERED_AGG_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       count(*) FILTER (WHERE o_totalprice > 200000
                          AND isfinite(o_totalprice)
                          AND abs(o_totalprice) < 1e14) AS n_large,
       CAST(sum(CAST(floor(CASE WHEN isfinite(o_totalprice)
                                 AND abs(o_totalprice) < 1e14
                                THEN o_totalprice END * 100 + 0.5)
                     AS BIGINT))
            FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS open_cents
FROM orders
GROUP BY ALL
"""


#: Declared pipeline (plans/compose.py): a config-native spec — this dict
#: could live verbatim in TOML/JSON. Filters/projections declared as late
#: steps still reach the parquet scan (plan-gated): Catalyst sees the whole
#: compiled chain.
DECLARED_REVENUE_SPEC = (
    {"op": "read", "table": "lineitem"},
    {"op": "join", "table": "orders", "on": "l_orderkey = o_orderkey",
     "how": "inner"},
    {"op": "join", "table": "customer", "on": "o_custkey = c_custkey",
     "how": "inner"},
    {"op": "join", "table": "nation", "on": "c_nationkey = n_nationkey",
     "how": "inner", "broadcast": True},
    {"op": "filter", "where": "l_shipdate >= DATE '1995-01-01'"},
    # quantizable scrub on the revenue PRODUCT: NaN/Inf factors propagate
    # into it and become NULL (floor(NaN) is 0 in Spark — it would
    # fabricate a zero-cent line), and a product past the cents domain
    # (1e300 price, or a finite 5e13 discount that passes per-factor
    # guards) would ARITHMETIC_OVERFLOW the bigint cast
    {"op": "with_column", "name": "rev_cents",
     "expr": "CAST(floor((CASE WHEN NOT isnan(l_extendedprice"
             " * (1 - l_discount))"
             " AND abs(l_extendedprice * (1 - l_discount)) < 1e14"
             " THEN l_extendedprice * (1 - l_discount) END)"
             " * 100 + 0.5) AS BIGINT)"},
    {"op": "group_agg", "keys": ["n_name"],
     "aggs": {"n_lines": "count(*)",
              "revenue_cents": "CAST(sum(rev_cents) AS BIGINT)"}},
)


def q_declared_pipeline_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """The declarative-pipeline surface (`plans.compose.compile_pipeline`):
    a dbt-style spec of plain dicts compiled into ONE DataFrame chain, so
    Catalyst optimizes across every declared step (the late filter pushes
    down to the lineitem scan — plan-gated in tests). Same revenue
    semantics as the imperative star queries; the spec is the API."""
    from statline_bq_spark.plans.compose import compile_pipeline

    return compile_pipeline(spark, sf, DECLARED_REVENUE_SPEC)


ORACLE_DECLARED_PIPELINE_REVENUE = """
SELECT n_name, count(*) AS n_lines,
       -- quantizable scrub on the PRODUCT (mirrors the declared spec)
       CAST(sum(CAST(floor((CASE WHEN isfinite(l_extendedprice * (1 - l_discount))
                                  AND abs(l_extendedprice * (1 - l_discount)) < 1e14
                                 THEN l_extendedprice * (1 - l_discount) END)
                           * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY n_name
"""


def q_session_window_builtin(spark: SparkSession, sf: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` aggregation in batch — the twin
    of `session_windows` (gaps-and-islands windows) against the same
    oracle: same 30-minute gap rule, two physical strategies. The native
    form is a session-merging hash aggregate (no per-user sort window)
    and is the one that also runs unchanged under Structured Streaming."""
    e = read_table(spark, sf, "events")
    sw = F.session_window(F.col("ts").cast("timestamp"), "30 minutes")
    return (
        e.groupBy(sw.alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "total_value",
        )
    )


def q_ignore_nulls_fill(spark: SparkSession, sf: str) -> DataFrame:
    """IGNORE NULLS window semantics: carry each user's most recent
    PURCHASE value forward across their other events
    (``last(..., ignorenulls=True)`` over a running frame) — the
    observation-carried-forward idiom on a sparse signal, per row. NULL
    until the user's first purchase; user-partitioned window, total
    order (ts, event_id). Clock-less events (NULL ts) are excluded — "the
    most recent purchase before this event" is undefined without a time,
    and the engines order NULL ts on opposite ends."""
    e = read_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(
        F.col("event_type") == "purchase", F.col("value")
    )
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.round(
            F.last(purchase_val, ignorenulls=True).over(w), 2
        ).alias("last_purchase_value"),
    )


ORACLE_IGNORE_NULLS_FILL = """
SELECT user_id, event_id, event_type,
       -- + 0.0 canonicalizes IEEE negative zero: a carried-forward
       -- -0.0 purchase survives DuckDB's round but Spark's round
       -- normalizes it (round-9 tie-storm sweep)
       round(last_value(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) + 0.0
         AS last_purchase_value
FROM events WHERE ts IS NOT NULL  -- clock-less events are un-orderable
"""


def q_minhash_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-family dedup evaluation: MinHash-LSH's candidate recall
    measured against the EXACT inverted-index Jaccard pairs at the SAME
    shingle size and threshold — the measurement that justifies running
    the probabilistic pipeline at 100 TB where the exact one can't. The
    minhash operator exact-verifies its candidates, so every emitted pair
    is true; the question this query pins is what fraction of the true
    pair set the banding FINDS (recall ≥ 80% pinned). The exact pair
    count is SQL-derivable; hash-dependent counts stay out of the output."""
    d = read_table(spark, sf, "documents")
    inv = dedup.shingle_index(d, id_col="doc_id", text_col="text", n=3)
    exact = dedup.ngram_jaccard_pairs(
        d, shingle_n=3, threshold=0.3, shingles=inv
    ).select("a", "b")
    mh = dedup.minhash_lsh_pairs(
        d, shingle_n=3, jaccard_threshold=0.3, shingles=inv
    ).select("a", "b")
    hits = mh.join(exact, ["a", "b"])
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_n_hits")))
        .select(
            "n_exact_pairs",
            (F.col("_n_hits") * 10 >= F.col("n_exact_pairs") * 8).alias(
                "recall_ge_80pct"
            ),
        )
    )


ORACLE_MINHASH_RECALL_EVAL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), idx AS (
  SELECT doc_id, t, unnest(range(0, greatest(len(t) - 2, 0))) AS i FROM toks
), sh AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS g
  FROM idx
), gok AS (
  SELECT g FROM sh GROUP BY g HAVING count(*) <= {_DF_CAP}
), shc AS (
  SELECT sh.doc_id, sh.g FROM sh JOIN gok USING (g)
), sz AS (
  SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id
), pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
  FROM shc x JOIN shc y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT count(*) AS n_exact_pairs, TRUE AS recall_ge_80pct
FROM pairs
JOIN sz sa ON sa.doc_id = a
JOIN sz sb ON sb.doc_id = b
WHERE round(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 4) >= 0.3
"""


def q_incremental_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup against a historical corpus — the production
    shape: never re-dedup 100 TB of history, only screen the NEW batch
    (md5 bucket 0 of doc ids here) against (a) the historical content-key
    set and (b) itself. Content keys are md5(text), so the history side
    ships 16-byte keys, not text; the new side is the small one (the
    left-semi probe side). Verdict counts: duplicates of history,
    extra copies within the new batch, and unique survivors."""
    d = read_table(spark, sf, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("int"),
        F.lit(10),
    )
    # NULL text is not comparable content (same sentinel contract as
    # operators/dedup.exact_dedup): md5(NULL) is NULL, and a NULL key
    # would (a) collapse every NULL-text new doc into one bogus
    # within-batch duplicate group here, and (b) poison the oracle's
    # NOT IN against a history containing NULL. Per-doc sentinel keys
    # can never equal a 32-hex md5 or each other.
    t = d.withColumn("_b", bucket).withColumn(
        "h",
        F.coalesce(
            F.md5("text"),
            F.concat(F.lit("_null:"), F.col("doc_id").cast("string")),
        ),
    )
    new = t.filter(F.col("_b") == 0).select("doc_id", "h")
    hist_keys = t.filter(F.col("_b") != 0).select("h").distinct()
    dup_hist = new.join(hist_keys, "h", "left_semi")
    fresh = new.join(hist_keys, "h", "left_anti")
    fresh_groups = fresh.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    return (
        new.agg(F.count(F.lit(1)).alias("n_new"))
        .crossJoin(
            dup_hist.agg(F.count(F.lit(1)).alias("n_dup_of_history"))
        )
        .crossJoin(
            fresh_groups.agg(
                F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
                .cast("bigint")
                .alias("n_dup_within_new"),
                F.count(F.lit(1)).alias("n_unique_survivors"),
            )
        )
    )


ORACLE_INCREMENTAL_EXACT_DEDUP = """
WITH b AS (
  SELECT doc_id,
         coalesce(md5(text), '_null:' || CAST(doc_id AS VARCHAR)) AS h,
         (  (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 10
           AS bkt
  FROM documents
), new AS (
  SELECT doc_id, h FROM b WHERE bkt = 0
), hist AS (
  SELECT DISTINCT h FROM b WHERE bkt <> 0
), dup_hist AS (
  SELECT count(*) AS n FROM new WHERE h IN (SELECT h FROM hist)
), fresh AS (
  SELECT h, count(*) AS n FROM new
  WHERE h NOT IN (SELECT h FROM hist)
  GROUP BY h
)
SELECT (SELECT count(*) FROM new) AS n_new,
       (SELECT n FROM dup_hist) AS n_dup_of_history,
       CAST(COALESCE((SELECT sum(n - 1) FROM fresh), 0) AS BIGINT)
         AS n_dup_within_new,
       (SELECT count(*) FROM fresh) AS n_unique_survivors
"""


def q_lateral_top_line(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: for each 1995
    urgent order, its heaviest line item — the 'top-1 detail per master
    row' idiom written as the SQL standard's lateral join instead of a
    window. Catalyst decorrelates the subquery into a join + per-key
    aggregate, so the physical plan is the same shuffle shape as the
    row_number form — lateral is surface, not a nested loop."""
    register_views(spark, sf, ("orders", "lineitem"))
    return spark.sql(
        """
        SELECT o_orderkey, o_orderdate, t.top_part, t.top_qty
        FROM orders, LATERAL (
          -- quantizable scrub (NaN/Inf/huge-finite -> NULL) on the sort
          -- key AND the output: both engines put NULLs last on DESC; a
          -- raw NaN sorts GREATEST and a finite 1e300 crashes the ANSI
          -- BIGINT cast in Spark and DuckDB alike
          SELECT l_partkey AS top_part,
                 CAST(CASE WHEN NOT isnan(l_quantity) AND abs(l_quantity) < 1e14 THEN l_quantity END AS BIGINT) AS top_qty
          FROM lineitem
          WHERE l_orderkey = o_orderkey
          ORDER BY (CASE WHEN NOT isnan(l_quantity) AND abs(l_quantity) < 1e14 THEN l_quantity END) DESC, l_partkey
          LIMIT 1
        ) t
        WHERE o_orderpriority = '1-URGENT'
          AND year(o_orderdate) = 1995
        """
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("string"))


ORACLE_LATERAL_TOP_LINE = """
SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       t.top_part, t.top_qty
FROM orders, LATERAL (
  SELECT l_partkey AS top_part,
         CAST(CASE WHEN isfinite(l_quantity) AND abs(l_quantity) < 1e14 THEN l_quantity END AS BIGINT) AS top_qty
  FROM lineitem
  WHERE l_orderkey = o_orderkey
  ORDER BY (CASE WHEN isfinite(l_quantity) AND abs(l_quantity) < 1e14 THEN l_quantity END) DESC, l_partkey
  LIMIT 1
) t
WHERE o_orderpriority = '1-URGENT'
  AND EXTRACT(year FROM o_orderdate) = 1995
"""


def q_safe_ratio_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Error-safe arithmetic (``try_divide``): per-line price-per-
    additional-unit with a denominator that is legitimately zero for
    single-unit lines — try_divide yields NULL instead of either failing
    (ANSI mode) or silently producing garbage, and the aggregate reports
    how many rows hit the guard. The null-vs-error policy is the row-level
    counterpart of the corrupt-record quarantine."""
    li = read_table(spark, sf, "lineitem")
    # NaN price/qty -> NULL ratio, counted by the same n_guarded that
    # counts the divide-by-zero guard (a NaN measurement is equally
    # un-ratio-able; floor(NaN)*... would fabricate 0 cents)
    ratio = F.try_divide(
        _nan_null("l_extendedprice"), _nan_null("l_quantity") - F.lit(1)
    )
    # quantize each ratio to cents BEFORE summing: per-element floor of a
    # single division is engine-exact; a raw double sum is order-unstable
    # _quantizable on the RATIO: a huge price over a small quantity
    # blows through the cents domain even when both inputs are finite
    r_cents = F.floor(_quantizable(ratio) * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        li.select("l_returnflag", r_cents.alias("rc"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("rc").isNull().cast("bigint")).alias("n_guarded"),
            F.sum("rc").cast("bigint").alias("ratio_sum_cents"),
        )
    )


ORACLE_SAFE_RATIO_STATS = """
WITH t AS (
  SELECT l_returnflag,
         CASE WHEN l_quantity = 1
                OR NOT isfinite(l_quantity) OR NOT isfinite(l_extendedprice)
                -- quantizable mirror on the ratio itself
                OR NOT (abs(l_extendedprice / (l_quantity - 1)) < 1e14) THEN NULL
              ELSE CAST(floor(l_extendedprice / (l_quantity - 1) * 100 + 0.5)
                        AS BIGINT) END AS rc
  FROM lineitem
)
SELECT l_returnflag, count(*) AS n_lines,
       CAST(sum(CASE WHEN rc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_guarded,
       CAST(sum(rc) AS BIGINT) AS ratio_sum_cents
FROM t GROUP BY l_returnflag
"""


def q_xml_event_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """XML ingest surface (``to_xml``/``from_xml``, Spark 4) — the
    row-level rendition of the reference's EDM CSDL metadata path
    (reference ``statline.py:240-308`` parses XML schemas driver-side;
    here XML payloads parse inside the plan). Events serialize to XML,
    parse back against a declared schema, and the round-tripped values
    aggregate per type — proving the parse is lossless on the declared
    fields. The oracle reads the original columns: round-trip equality
    IS the check."""
    e = read_table(spark, sf, "events")
    xml = F.to_xml(
        F.struct(
            F.col("event_id"),
            F.col("event_type"),
            F.col("value"),
        )
    )
    # event_id parses as STRING then casts: from_xml's BIGINT reader
    # REJECTS int64-min (-9223372036854775808) and NULLs the whole row —
    # a value to_xml itself just wrote (engine parse-domain hole, found
    # by the int64-edge-key probe, round 7b). The string->bigint cast is
    # total over everything to_xml emits, making the round trip honestly
    # lossless.
    parsed = e.select(xml.alias("payload")).select(
        F.from_xml(
            "payload", "event_id STRING, event_type STRING, value DOUBLE"
        ).alias("r")
    )
    # scrub BEFORE floor (Spark floor(NaN) is 0): a NaN value must
    # round-trip as a missing measurement, not as zero cents
    cents = F.floor(
        _quantizable(F.col("r.value")) * 100 + F.lit(0.5)
    ).cast("bigint")
    return parsed.groupBy(F.col("r.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.col("r.event_id").cast("bigint")).alias("max_event_id"),
        F.sum(cents).cast("bigint").alias("value_cents"),
    )


ORACLE_XML_EVENT_ROUNDTRIP = """
SELECT event_type, count(*) AS n_events,
       max(event_id) AS max_event_id,
       -- quantizable scrub mirrors the Spark twin's _quantizable guard
       CAST(sum(CAST(floor(CASE WHEN isfinite(value)
                            AND abs(value) < 1e14
                           THEN value
                           END * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events GROUP BY event_type
"""


def q_pivot_sql_clause(spark: SparkSession, sf: str) -> DataFrame:
    """The SQL PIVOT clause (vs the DataFrame ``groupBy().pivot()`` in
    `pivot_event_values`) with the value list declared inline — same
    explicit-list policy (SURVEY §7: never let pivot discover values with
    an extra pass), same one-hash-agg plan, different surface."""
    register_views(spark, sf, ("events",))
    return spark.sql(
        """
        SELECT * FROM (
          SELECT user_id, event_type FROM events
        )
        PIVOT (
          count(*) FOR event_type IN
          ('click' AS click, 'error' AS error, 'purchase' AS purchase,
           'signup' AS signup, 'view' AS view)
        )
        """
    )


ORACLE_PIVOT_SQL_CLAUSE = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
FROM events GROUP BY user_id
"""


def q_unpivot_sql_clause(spark: SparkSession, sf: str) -> DataFrame:
    """The SQL UNPIVOT clause (vs the DataFrame ``unpivot``/``stack`` in
    `unpivot_lineitem`): wide lineitem measures back to long EAV form —
    the v3-wide → v4-long statline direction as standard SQL. Measures
    ride as integer-scaled longs (quantity is integral; price carries
    cents) so every unpivoted cell hash-matches."""
    register_views(spark, sf, ("lineitem",))
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, measure,
               CAST(val AS BIGINT) AS val
        FROM (
          SELECT l_orderkey, l_linenumber,
                 CAST(CASE WHEN NOT isnan(l_quantity) AND abs(l_quantity) < 1e14 THEN l_quantity END AS BIGINT) AS qty,
                 CAST(floor(CASE WHEN NOT isnan(l_extendedprice)
                                  AND abs(l_extendedprice) < 1e14
                                 THEN l_extendedprice END * 100 + 0.5)
                      AS BIGINT)
                   AS price_cents
          FROM lineitem
        )
        -- INCLUDE NULLS: the EAV long form keeps explicit NULL cells
        -- (matching wide_to_long and the UNION ALL oracle); Spark's
        -- UNPIVOT default silently drops them
        UNPIVOT INCLUDE NULLS (
          val FOR measure IN (qty, price_cents)
        )
        """
    )


ORACLE_UNPIVOT_SQL_CLAUSE = """
WITH w AS (
  SELECT l_orderkey, l_linenumber,
         CAST(CASE WHEN isfinite(l_quantity) AND abs(l_quantity) < 1e14 THEN l_quantity END AS BIGINT) AS qty,
         CAST(floor(CASE WHEN isfinite(l_extendedprice)
                          AND abs(l_extendedprice) < 1e14
                         THEN l_extendedprice END * 100 + 0.5)
              AS BIGINT) AS price_cents
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, 'qty' AS measure, qty AS val FROM w
UNION ALL
SELECT l_orderkey, l_linenumber, 'price_cents', price_cents FROM w
"""


def q_leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/test split: near-duplicate CLUSTERS are the
    split unit, not documents — hashing doc ids would strand near-copies
    of one text on both sides of the split (the classic eval-contamination
    bug). Composition of three oracle-checked pieces: exact Jaccard pairs
    → connected components → md5 hash-split keyed on the cluster
    REPRESENTATIVE (singletons represent themselves), so membership stays
    re-run- and append-stable. The oracle re-derives the closure with a
    recursive CTE and every split decision from the rep's md5; the
    no-cluster-spans-splits invariant holds by construction on both
    sides."""
    d = read_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, shingle_n=3, threshold=0.2)
    comp = graph.connected_components(pairs, "a", "b")
    rep = (
        d.select("doc_id")
        .join(comp, d["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("rep"),
        )
    )
    split = sampling.hash_split(rep, "rep", {"train": 0.8, "test": 0.2})
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("rep").alias("n_clusters"),
        F.lit(True).alias("no_cluster_spans_splits"),
    )


ORACLE_LEAKAGE_SAFE_SPLIT = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), idx AS (
  SELECT doc_id, t, unnest(range(0, greatest(len(t) - 2, 0))) AS i FROM toks
), sh AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS g
  FROM idx
), gok AS (
  SELECT g FROM sh GROUP BY g HAVING count(*) <= {_DF_CAP}
), shc AS (
  SELECT sh.doc_id, sh.g FROM sh JOIN gok USING (g)
), sz AS (
  SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id
), pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
  FROM shc x JOIN shc y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), p AS (
  SELECT a, b FROM pairs
  JOIN sz sa ON sa.doc_id = a
  JOIN sz sb ON sb.doc_id = b
  WHERE round(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 4) >= 0.2
), e AS (
  SELECT a, b FROM p UNION SELECT b, a FROM p
), reach(n, m) AS (
  SELECT a, a FROM e
  UNION
  SELECT r.n, e2.b FROM reach r JOIN e e2 ON r.m = e2.a
), labels AS (
  SELECT n AS node, min(m) AS component FROM reach GROUP BY n
), rep AS (
  SELECT d.doc_id, COALESCE(l.component, d.doc_id) AS rep
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
), assigned AS (
  SELECT doc_id, rep,
         CASE WHEN rep IS NULL THEN NULL  -- hash_split: NULL key -> NULL split
              WHEN (
             (strpos('0123456789abcdef', substr(md5(CAST(rep AS VARCHAR)), 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(CAST(rep AS VARCHAR)), 2, 1)) - 1)) < 205
              THEN 'train' ELSE 'test' END AS split
  FROM rep
)
SELECT split, count(*) AS n_docs, count(DISTINCT rep) AS n_clusters,
       TRUE AS no_cluster_spans_splits
FROM assigned GROUP BY split
"""


def q_quantile_normalized_lengths(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile normalization onto a reference distribution (the ML
    preprocessing step that makes heterogeneous sources comparable
    without assuming a parametric form): each document's length is
    replaced by the REFERENCE source's (src0) value at the same rank
    quantile — rank mapping is pure integer arithmetic
    (ceil(rank·n_ref / n) via div), so every normalized value is
    engine-exact. All windows partition by source and the reference
    lookup is a rank-keyed equi join — no global sort anywhere
    (`calibrated_quality_scores` maps to percent ranks; this maps to
    reference VALUES)."""
    d = read_table(spark, sf, "documents")
    # NULLS LAST: Spark ascends NULLS FIRST by default, DuckDB last — a
    # NULL n_chars row would silently shift every rank in its group
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc_nulls_last(), "doc_id"
    )
    ranked = (
        d.select("doc_id", "source", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("source")))
    )
    ref = ranked.filter(F.col("source") == "src0").select(
        F.col("rn").alias("ref_rn"), F.col("n_chars").alias("ref_chars")
    )
    n_ref = ranked.filter(F.col("source") == "src0").groupBy().agg(
        F.max("n").alias("n_ref")
    )
    target = ranked.crossJoin(F.broadcast(n_ref)).withColumn(
        "ref_rank",
        F.expr("CAST((rn * n_ref + n - 1) DIV n AS INT)"),
    )
    return (
        target.join(F.broadcast(ref), target["ref_rank"] == ref["ref_rn"])
        .select("doc_id", "source", "n_chars", F.col("ref_chars").alias("norm_chars"))
    )


ORACLE_QUANTILE_NORMALIZED_LENGTHS = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars NULLS LAST, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
), ref AS (
  SELECT rn AS ref_rn, n_chars AS ref_chars FROM ranked WHERE source = 'src0'
), nref AS (
  SELECT count(*) AS n_ref FROM ranked WHERE source = 'src0'
)
SELECT r.doc_id, r.source, r.n_chars, ref.ref_chars AS norm_chars
FROM ranked r, nref
JOIN ref ON ref.ref_rn = (r.rn * nref.n_ref + r.n - 1) // r.n
"""


def q_inter_event_gap_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Latency-distribution histogram of per-user inter-event gaps:
    consecutive-event deltas (lag over a user-partitioned total order, in
    integer seconds) bucketed into fixed log-spaced bins (<10s, <1m, <10m,
    <1h, <1d, ≥1d) — the ops view of user activity rhythm. All integer
    arithmetic; one shuffle on user for the lag, one bounded histogram
    aggregate."""
    e = read_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = (
        e.select("user_id", "ts", "event_id", us.alias("us"))
        .withColumn("gap_s", F.expr("(us - lag(us) OVER "
                                    "(PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST))"
                                    " DIV 1000000"))
        .filter(F.col("gap_s").isNotNull())
    )
    bucket = (
        F.when(F.col("gap_s") < 10, "a_lt_10s")
        .when(F.col("gap_s") < 60, "b_lt_1m")
        .when(F.col("gap_s") < 600, "c_lt_10m")
        .when(F.col("gap_s") < 3600, "d_lt_1h")
        .when(F.col("gap_s") < 86400, "e_lt_1d")
        .otherwise("f_ge_1d")
    )
    return gaps.select(bucket.alias("gap_bucket")).groupBy("gap_bucket").agg(
        F.count(F.lit(1)).alias("n_gaps")
    )


ORACLE_INTER_EVENT_GAP_HISTOGRAM = """
WITH g AS (
  SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST)) // 1000000 AS gap_s
  FROM events
)
SELECT CASE WHEN gap_s < 10 THEN 'a_lt_10s'
            WHEN gap_s < 60 THEN 'b_lt_1m'
            WHEN gap_s < 600 THEN 'c_lt_10m'
            WHEN gap_s < 3600 THEN 'd_lt_1h'
            WHEN gap_s < 86400 THEN 'e_lt_1d'
            ELSE 'f_ge_1d' END AS gap_bucket,
       count(*) AS n_gaps
FROM g WHERE gap_s IS NOT NULL
GROUP BY 1
"""


def q_bucket_checksums_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Merkle-style replica reconciliation: rows hash into 256 key-range
    buckets, each bucket keeps an order-insensitive checksum, and two
    replicas compare 256 numbers to LOCATE divergence instead of shipping
    data (`table_checksums` says WHETHER tables differ; this says WHERE).
    The 'replica' mutates exactly one row (min order key repriced), so
    exactly one bucket must diverge — count pinned. Bucketing is the md5
    first byte of the key: stable under partitioning, derivable by any
    engine."""
    o = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    min_key = o.agg(F.min("o_orderkey").alias("mk"))
    replica = o.crossJoin(F.broadcast(min_key)).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") == F.col("mk"), F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )

    def bucket_cks(df: DataFrame, out: str) -> DataFrame:
        cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        fp = F.md5(
            F.concat_ws("|", F.col("o_orderkey").cast("string"), cents.cast("string"))
        )
        bkt = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2), 16, 10).cast("int")
        word = F.conv(F.substring(fp, 1, 8), 16, 10).cast("bigint")
        return df.select(bkt.alias("bucket"), word.alias("w")).groupBy(
            "bucket"
        ).agg(F.sum("w").cast("bigint").alias(out))

    a = bucket_cks(o, "cks_a")
    b = bucket_cks(replica, "cks_b")
    joined = a.join(b, "bucket", "full_outer")
    # coalesce: empty replicas have zero buckets and zero divergence
    # (sum over empty is NULL, which would NULL the pinned flag too) —
    # the flag is honestly FALSE there: no row was repriced
    return joined.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(
            F.sum(
                (
                    ~F.coalesce(F.col("cks_a") == F.col("cks_b"), F.lit(False))
                ).cast("bigint")
            ),
            F.lit(0),
        ).alias("n_diverged"),
    ).select(
        "n_buckets",
        "n_diverged",
        (F.col("n_diverged") == 1).alias("exactly_one_bucket_diverged"),
    )


ORACLE_BUCKET_CHECKSUMS_DIFF = """
WITH b AS (
  SELECT (  (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1))
           AS bucket
  FROM orders GROUP BY 1
)
-- exactly the min-key bucket diverges on ANY non-empty input; empty
-- replicas have nothing repriced (0 diverged, flag FALSE) — round 7b
SELECT count(*) AS n_buckets,
       CAST(CASE WHEN count(*) = 0 THEN 0 ELSE 1 END AS BIGINT)
         AS n_diverged,
       count(*) > 0 AS exactly_one_bucket_diverged
FROM b
"""


def q_string_format_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """String formatting/extraction round-trip: order keys render to
    display labels (``ORD-``+zero-padded id via lpad/concat) and parse
    back via ``regexp_extract`` — the label-codec pair every export/import
    boundary needs, with the round-trip equality pinned per status so a
    formatting change can't silently corrupt re-imported ids. Patterns
    stay in the Java∩RE2 subset (same policy as the PII redactors)."""
    o = read_table(spark, sf, "orders")
    # ADAPTIVE padding: lpad TRUNCATES strings longer than the target
    # width (both engines), so a 19/20-char int64-edge key would lose
    # digits, fail the parse pattern, and the ANSI cast of the empty
    # extract would kill the job (int64-edge-key probe, round 7b). Keys
    # at or beyond the pad width pass through unpadded; the parse
    # pattern admits the sign.
    ks = F.col("o_orderkey").cast("string")
    label = F.concat(
        F.lit("ORD-"),
        F.when(F.length(ks) >= 12, ks).otherwise(F.lpad(ks, 12, "0")),
    )
    parsed = F.nullif(
        F.regexp_extract(label, "^ORD-0*(-?[0-9]+)$", 1), F.lit("")
    ).cast("bigint")
    t = o.select(
        "o_orderstatus",
        label.alias("label"),
        (parsed == F.col("o_orderkey")).alias("ok"),
        F.length(label).alias("label_len"),
    )
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("label").alias("first_label"),
        F.max("label_len").alias("label_len"),
        F.min("ok").alias("all_roundtrip_ok"),
    )


ORACLE_STRING_FORMAT_ROUNDTRIP = """
WITH t AS (
  -- adaptive padding mirrors the twin: lpad truncates long keys
  SELECT o_orderstatus,
         'ORD-' || CASE WHEN len(CAST(o_orderkey AS VARCHAR)) >= 12
                        THEN CAST(o_orderkey AS VARCHAR)
                        ELSE lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
                   END AS label
  FROM orders
)
SELECT o_orderstatus, count(*) AS n_orders,
       min(label) AS first_label,
       CAST(max(length(label)) AS INT) AS label_len,
       TRUE AS all_roundtrip_ok
FROM t GROUP BY o_orderstatus
"""


def q_global_top_share_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The truncation-priority list: the global top-5% of documents by
    token mass, with each doc's exact global rank and its share of the
    whole corpus's tokens — the concrete artifact `token_mass_deciles`'
    skew curve argues for. Second consumer of `analytic.global_rank`
    (distributed ranking, no single-partition window); the 5% cut and
    shares are integer arithmetic against broadcast scalars."""
    d = read_table(spark, sf, "documents")
    toks = d.select(
        "doc_id", token_count("text").cast("bigint").alias("n_tokens")
    )
    ranked = analytic.global_rank(
        toks, [F.col("n_tokens").desc(), F.col("doc_id")], out_col="rank"
    )
    totals = toks.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("n_tokens").alias("_mass"),
    )
    return (
        ranked.crossJoin(F.broadcast(totals))
        .filter(F.col("rank") * 20 <= F.col("_n"))
        .select(
            "rank",
            "doc_id",
            "n_tokens",
            (
                F.floor(
                    F.col("n_tokens") * 1000000 / F.col("_mass")
                )
            ).cast("bigint").alias("share_ppm"),
        )
    )


ORACLE_GLOBAL_TOP_SHARE_DOCS = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
), ranked AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rank
  FROM toks
), t AS (
  SELECT count(*) AS n, sum(n_tokens) AS mass FROM toks
)
SELECT rank, doc_id, n_tokens,
       CAST(floor(n_tokens * 1000000 / t.mass) AS BIGINT) AS share_ppm
FROM ranked, t
WHERE rank * 20 <= t.n
"""


def q_masked_customer_export(spark: SparkSession, sf: str) -> DataFrame:
    """Column-masking policy for a governed export: stable pseudonym for
    the name (sha2 over a salted key — joinable across exports, not
    reversible), account balance coarsened to a band, the true key
    dropped — the row stays analytically useful (segment, nation) while
    the identifying columns are gone. Masks are deterministic
    expressions, so the governed output itself is oracle-checked, not
    just its row count."""
    c = read_table(spark, sf, "customer")
    pseudo = F.sha2(
        F.concat(F.lit("export-v1|"), F.col("c_custkey").cast("string")), 256
    )
    band = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 2500, "low")
        .when(F.col("c_acctbal") < 7500, "mid")
        .otherwise("high")
    )
    return c.select(
        pseudo.alias("customer_pseudonym"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("int").alias("nation"),
        band.alias("balance_band"),
    )


ORACLE_MASKED_CUSTOMER_EXPORT = """
SELECT sha256('export-v1|' || CAST(c_custkey AS VARCHAR))
         AS customer_pseudonym,
       c_mktsegment AS segment,
       CAST(c_nationkey AS INT) AS nation,
       CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 2500 THEN 'low'
            WHEN c_acctbal < 7500 THEN 'mid'
            ELSE 'high' END AS balance_band
FROM customer
"""


def q_ab_test_2x2(spark: SparkSession, sf: str) -> DataFrame:
    """A/B experiment readout: users split into arms by content hash
    (md5 — the same stable assignment `hash_split` gives real
    experiments), conversion = the user ever purchased, and the 2×2
    chi-square statistic with the same scaled-integer quantization as
    `event_weekday_chisq` (no double summation order). Per-arm
    conversion rates are exact integer ratios; everything after the
    per-user aggregate runs on 4 cells."""
    e = read_table(spark, sf, "events")
    users = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    arm = F.when(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10
            ).cast("int"),
            F.lit(2),
        )
        == 0,
        "A",
    ).otherwise("B")
    cells = users.withColumn("arm", arm).groupBy("arm", "conv").agg(
        F.count(F.lit(1)).alias("_o")
    )
    arms = cells.groupBy("arm").agg(F.sum("_o").alias("_at"))
    convs = cells.groupBy("conv").agg(F.sum("_o").alias("_ct"))
    total = cells.agg(F.sum("_o").alias("_n"))
    scored = (
        cells.join(F.broadcast(arms), "arm")
        .join(F.broadcast(convs), "conv")
        .crossJoin(F.broadcast(total))
    )
    expected = (
        F.col("_at").cast("double")
        * F.col("_ct").cast("double")
        / F.col("_n").cast("double")
    )
    term = (F.col("_o") - expected) * (F.col("_o") - expected) / expected
    quantized = F.floor(term * 1000000 + F.lit(0.5)).cast("bigint")
    rates = cells.filter(F.col("conv") == 1).join(F.broadcast(arms), "arm")
    rate_wide = rates.groupBy().agg(
        F.round(
            F.sum(F.when(F.col("arm") == "A", F.col("_o"))).cast("double")
            / F.sum(F.when(F.col("arm") == "A", F.col("_at"))),
            6,
        ).alias("conv_rate_a"),
        F.round(
            F.sum(F.when(F.col("arm") == "B", F.col("_o"))).cast("double")
            / F.sum(F.when(F.col("arm") == "B", F.col("_at"))),
            6,
        ).alias("conv_rate_b"),
    )
    return (
        scored.agg(
            (F.sum(quantized).cast("double") / 1000000).alias("chi_square"),
            F.first("_n").cast("bigint").alias("n_users"),
        )
        .crossJoin(F.broadcast(rate_wide))
        .select("n_users", "conv_rate_a", "conv_rate_b", "chi_square")
    )


ORACLE_AB_TEST_2X2 = """
WITH users AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), armed AS (
  SELECT CASE WHEN (
           (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1)) % 2 = 0
         THEN 'A' ELSE 'B' END AS arm,
         conv
  FROM users
), cells AS (
  SELECT arm, conv, count(*) AS o FROM armed GROUP BY 1, 2
), arms AS (
  SELECT arm, sum(o) AS at FROM cells GROUP BY arm
), convs AS (
  SELECT conv, sum(o) AS ct FROM cells GROUP BY conv
), t AS (
  SELECT sum(o) AS n FROM cells
), scored AS (
  SELECT c.o, a.at, cv.ct, t.n,
         CAST(a.at AS DOUBLE) * cv.ct / t.n AS e
  FROM cells c JOIN arms a USING (arm) JOIN convs cv USING (conv), t
), stat AS (
  SELECT CAST(sum(CAST(floor((o - e) * (o - e) / e * 1000000 + 0.5)
                       AS BIGINT)) AS DOUBLE) / 1000000 AS chi_square,
         first(n) AS n_users
  FROM scored
), rates AS (
  SELECT round(CAST(sum(CASE WHEN arm = 'A' THEN o END) AS DOUBLE)
               / sum(CASE WHEN arm = 'A' THEN at END), 6) AS conv_rate_a,
         round(CAST(sum(CASE WHEN arm = 'B' THEN o END) AS DOUBLE)
               / sum(CASE WHEN arm = 'B' THEN at END), 6) AS conv_rate_b
  FROM cells JOIN arms USING (arm) WHERE conv = 1
)
SELECT CAST(stat.n_users AS BIGINT) AS n_users,
       rates.conv_rate_a, rates.conv_rate_b, stat.chi_square
FROM stat, rates
"""


def q_decayed_engagement(spark: SparkSession, sf: str) -> DataFrame:
    """Time-decayed engagement scoring with EXACT arithmetic: each event
    contributes 2^-(age in weeks, capped at 30) — a half-life-per-week
    decay built from bit shifts (1.0 / (1 << k)), not exp()/pow()
    (libm implementations diverge across engines; dyadic rationals don't,
    and with terms ≥ 2^-30 and totals < 2^14 the double sum is exact in
    ANY order — no quantization needed, the score itself hash-matches).
    One shuffle on user; the reference timestamp is a broadcast scalar."""
    e = read_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mx = e.agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mx_us")
    )
    week_us = 7 * 86400 * 1000000
    return (
        e.select("user_id", us.alias("us"))
        .crossJoin(F.broadcast(mx))
        .withColumn(
            "_k",
            F.least(
                F.expr(f"(mx_us - us) DIV {week_us}").cast("int"), F.lit(30)
            ),
        )
        .select(
            "user_id",
            F.expr("cast(1.0 as double) / shiftleft(1, _k)").alias("t"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("t").alias("engagement"),
        )
    )


ORACLE_DECAYED_ENGAGEMENT = """
WITH m AS (
  SELECT max(epoch_us(ts)) AS mx_us FROM events
), aged AS (
  SELECT user_id,
         least(CAST((m.mx_us - epoch_us(ts)) // 604800000000 AS INT), 30)
           AS k
  FROM events, m
)
SELECT user_id, count(*) AS n_events,
       sum(1.0 / (1 << k)) AS engagement
FROM aged GROUP BY user_id
"""


def q_receivables_aging(spark: SparkSession, sf: str) -> DataFrame:
    """Accounts-receivable-style aging report: open orders bucketed by
    age against the ledger's latest date (current / 31-60 / 61-90 / 90+
    days) with per-bucket order counts and totals in integer cents — the
    classic finance rollup, on the as-of-date pattern (the reference
    snapshot date generalized to row age). One scan, a broadcast scalar
    for the as-of date, a bounded bucket aggregate."""
    o = read_table(spark, sf, "orders")
    asof = o.agg(F.max("o_orderdate").alias("asof"))
    aged = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(asof))
        .withColumn("age_d", F.datediff(F.col("asof"), F.col("o_orderdate")))
    )
    # an undated order has NO age — without the explicit bucket it would
    # fall through every NULL comparison into 'over 90 days', a silently
    # wrong ledger line in both engines
    bucket = (
        F.when(F.col("age_d").isNull(), "e_undated")
        .when(F.col("age_d") <= 30, "a_current")
        .when(F.col("age_d") <= 60, "b_31_60")
        .when(F.col("age_d") <= 90, "c_61_90")
        .otherwise("d_over_90")
    )
    # scrub BEFORE floor (Spark floor(NaN) is 0 — zero-cent fabrication);
    # _quantizable, not _nan_null: a finite 1e300 on an open order would
    # overflow the bigint cents cast (ANSI ARITHMETIC_OVERFLOW)
    cents = F.floor(_quantizable("o_totalprice") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        aged.select(bucket.alias("age_bucket"), cents.alias("cents"))
        .groupBy("age_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("bigint").alias("open_cents"),
        )
    )


ORACLE_RECEIVABLES_AGING = """
WITH m AS (SELECT max(o_orderdate) AS asof FROM orders),
aged AS (
  SELECT date_diff('day', o_orderdate, m.asof) AS age_d, o_totalprice
  FROM orders, m WHERE o_orderstatus = 'O'
)
SELECT CASE WHEN age_d IS NULL THEN 'e_undated'
            WHEN age_d <= 30 THEN 'a_current'
            WHEN age_d <= 60 THEN 'b_31_60'
            WHEN age_d <= 90 THEN 'c_61_90'
            ELSE 'd_over_90' END AS age_bucket,
       count(*) AS n_orders,
       -- quantizable scrub mirrors the Spark twin's _quantizable guard
       CAST(sum(CAST(floor(CASE WHEN isfinite(o_totalprice)
                                 AND abs(o_totalprice) < 1e14
                                THEN o_totalprice END * 100 + 0.5)
                     AS BIGINT)) AS BIGINT)
         AS open_cents
FROM aged GROUP BY 1
"""


def q_price_index_monthly(spark: SparkSession, sf: str) -> DataFrame:
    """Laspeyres-style price index: monthly average part prices weighted
    by each part's BASE-month quantity, indexed to the base month — the
    economics rendition of 'metadata-driven measure semantics'. Entirely
    exact integers: monthly per-part unit price = total cents DIV total
    qty (truncating — identical in both engines), basket sums are integer
    products, and
    the index is one final scaled division — no float accumulation. Base
    basket broadcast; one shuffle at the (part, month) grain."""
    li = read_table(spark, sf, "lineitem")
    # _quantizable (not _nan_null): NaN/Inf -> NULL as before, and a
    # finite 1e300 would overflow the bigint casts on both engines
    cents = F.floor(
        _quantizable("l_extendedprice") * 100 + F.lit(0.5)
    ).cast("bigint")
    qty = _quantizable("l_quantity").cast("bigint")
    pm = (
        li.select(
            "l_partkey",
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
            cents.alias("cents"),
            qty.alias("qty"),
        )
        .groupBy("l_partkey", "month")
        .agg(F.sum("cents").alias("c"), F.sum("qty").alias("q"))
        .withColumn("unit_cents", F.expr("c DIV q"))
    )
    base_month = pm.agg(F.min("month").alias("bm"))
    base = (
        pm.crossJoin(F.broadcast(base_month))
        .filter(F.col("month") == F.col("bm"))
        .select(
            F.col("l_partkey").alias("bk"),
            F.col("unit_cents").alias("p0"),
            F.col("q").alias("q0"),
        )
    )
    joined = pm.join(F.broadcast(base), pm["l_partkey"] == F.col("bk"))
    return (
        joined.groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("unit_cents") * F.col("q0")).alias("_num"),
            F.sum(F.col("p0") * F.col("q0")).alias("_den"),
        )
        .select(
            "month",
            "n_parts",
            F.expr("(_num * 10000) DIV _den").cast("bigint").alias(
                "index_bp"
            ),
        )
    )


ORACLE_PRICE_INDEX_MONTHLY = """
WITH pm AS (
  SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS month,
         CAST(sum(CAST(floor((CASE WHEN isfinite(l_extendedprice) AND abs(l_extendedprice) < 1e14 THEN l_extendedprice END) * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS c,
         CAST(sum(CAST((CASE WHEN isfinite(l_quantity) AND abs(l_quantity) < 1e14 THEN l_quantity END) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), pp AS (
  SELECT l_partkey, month, c // q AS unit_cents, q FROM pm
), bm AS (SELECT min(month) AS m FROM pp),
base AS (
  SELECT l_partkey, unit_cents AS p0, q AS q0
  FROM pp, bm WHERE month = bm.m
)
SELECT pp.month, count(*) AS n_parts,
       CAST((sum(pp.unit_cents * base.q0) * 10000)
            // sum(base.p0 * base.q0) AS BIGINT) AS index_bp
FROM pp JOIN base USING (l_partkey)
GROUP BY pp.month
"""


def q_pipe_syntax_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's ``|>`` operators — the linear,
    dataflow-ordered SQL the GoogleSQL pipe proposal standardized):
    scan |> filter |> join |> aggregate, reading in execution order
    instead of inside-out. Same Catalyst plan as the nested form; the
    oracle is the classic formulation."""
    register_views(spark, sf, ("orders", "customer"))
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'F'
        |> JOIN customer ON o_custkey = c_custkey
        |> AGGREGATE count(*) AS n_orders,
                     CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                          AS BIGINT) AS cents
           GROUP BY c_mktsegment
        """
    )


ORACLE_PIPE_SYNTAX_REVENUE = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F'
GROUP BY c_mktsegment
"""


def q_revenue_pareto(spark: SparkSession, sf: str) -> DataFrame:
    """The 80/20 check: what share of total order value sits in the top
    20% of orders — the Pareto concentration figure on the money side
    (the token-mass decile curve's revenue sibling). Global ranking via
    the distributed `analytic.global_rank` (no single-partition window);
    the share is an exact integer ratio in ppm over integer cents."""
    o = read_table(spark, sf, "orders")
    # scrub BEFORE floor (Spark floor(NaN) is 0), then drop non-observed
    # prices: an unpriced order is not rankable and must not inflate the
    # 20%-cut denominator. _quantizable, not _nan_null: a finite 1e300
    # would overflow the bigint cents cast (ANSI ARITHMETIC_OVERFLOW)
    cents = F.floor(_quantizable("o_totalprice") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    t = o.select("o_orderkey", cents.alias("cents")).filter(
        F.col("cents").isNotNull()
    )
    ranked = analytic.global_rank(
        t, [F.col("cents").desc(), F.col("o_orderkey")], out_col="rank"
    )
    totals = t.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("cents").alias("_total")
    )
    top = ranked.crossJoin(F.broadcast(totals)).filter(
        F.col("rank") * 5 <= F.col("_n")
    )
    # aggregate the top slice SEPARATELY, then attach the totals row:
    # the report is total (exactly one row) even when the top slice is
    # EMPTY — fewer than 5 priced orders, or an empty partition slice at
    # 100 TB. The previous shape (global agg over the filtered slice,
    # n_orders via first(_n)) emitted (0, NULL, NULL) there while the
    # oracle's GROUP BY emitted nothing — found by the empty-corpus
    # probe, but live for ANY sub-5-row input.
    top_agg = top.agg(
        F.count(F.lit(1)).alias("n_top_orders"),
        F.sum("cents").alias("_topcents"),
    )
    return totals.crossJoin(F.broadcast(top_agg)).select(
        "n_top_orders",
        F.col("_n").cast("bigint").alias("n_orders"),
        # the ppm scale-up runs in DECIMAL(38,0): sum(cents) * 1e6 blows
        # through bigint once total cents pass ~9.2e12 — true for any
        # warehouse-scale ledger (and for one in-domain 5e13 price). The
        # oracle needs no mirror: DuckDB's sum(BIGINT) is already HUGEINT.
        F.expr(
            "CAST(CAST(_topcents AS DECIMAL(38,0)) * 1000000"
            " DIV _total AS BIGINT)"
        ).alias("top20_share_ppm"),
    )


ORACLE_REVENUE_PARETO = """
WITH t AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
  -- quantizable scrub mirrors the Spark twin's _quantizable guard
  WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice)
    AND abs(o_totalprice) < 1e14
), ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents DESC, o_orderkey) AS rank
  FROM t
), tot AS (SELECT count(*) AS n, sum(cents) AS total FROM t),
top AS (
  SELECT ranked.cents FROM ranked, tot WHERE ranked.rank * 5 <= tot.n
)
-- total report: exactly one row even when the top slice is empty
-- (mirrors the Spark twin's totals-crossJoin-topagg shape; share is
-- NULL there — sum over the empty slice)
SELECT (SELECT count(*) FROM top) AS n_top_orders,
       CAST(tot.n AS BIGINT) AS n_orders,
       CAST(((SELECT sum(cents) FROM top) * 1000000) // tot.total
            AS BIGINT) AS top20_share_ppm
FROM tot
"""


def q_customer_reactivation(spark: SparkSession, sf: str) -> DataFrame:
    """Churn-and-return analytics: a reactivation = a user gap of more
    than 2 days between consecutive active DAYS; the report is the
    distribution of per-user reactivation counts ('how many users lapsed
    and came back k times'). Built on the deduped (user, day) set — one
    user-partitioned lag over days, never raw events; all integers."""
    e = read_table(spark, sf, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    gaps = ud.withColumn(
        "gap_d", F.datediff(F.col("day"), F.lag("day").over(w))
    )
    per_user = gaps.groupBy("user_id").agg(
        # when/otherwise (not a bare cast of the predicate): a user whose
        # only row has a NULL lag gap must count as 0 reactivations, not
        # NULL — sum() over all-NULL input returns NULL, diverging from
        # the oracle's CASE ... ELSE 0 for single-active-day users.
        F.sum(
            F.when(F.col("gap_d") > 2, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_reactivations")
    )
    return per_user.groupBy("n_reactivations").agg(
        F.count(F.lit(1)).alias("n_users")
    )


ORACLE_CUSTOMER_REACTIVATION = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), g AS (
  SELECT user_id,
         day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS gap_d
  FROM ud
), per AS (
  SELECT user_id,
         CAST(sum(CASE WHEN gap_d > 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_reactivations
  FROM g GROUP BY user_id
)
SELECT n_reactivations, count(*) AS n_users FROM per GROUP BY 1
"""


def q_session_conversion_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Funnel latency at the session grain: for every 30-minute-gap
    session that converts (contains a purchase), the seconds from session
    start to the FIRST purchase — reported as rank-selected discrete
    median and p90 across sessions plus the conversion counts. Sessions
    via the day-number−row_number island idiom on integer minutes; every
    latency is an integer second difference, percentiles by rank
    selection — no interpolation anywhere. Clock-less events (NULL ts)
    are excluded — they join no session."""
    e = read_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = (
        e.select("user_id", "event_id", "event_type", us.alias("us"))
        .withColumn(
            "new_s",
            (
                F.coalesce(
                    F.col("us") - F.lag("us").over(w),
                    F.lit(0),
                )
                >= 30 * 60 * 1000000
            ).cast("bigint"),
        )
        .withColumn(
            "sid",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    sessions = marked.groupBy("user_id", "sid").agg(
        F.min("us").alias("start_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).alias("first_purchase_us"),
    )
    conv = sessions.filter(F.col("first_purchase_us").isNotNull()).select(
        "user_id",
        "sid",
        F.expr("(first_purchase_us - start_us) DIV 1000000").alias("lat_s"),
    )
    wr = Window.orderBy("lat_s", "user_id", "sid")
    ranked = conv.withColumn("rn", F.row_number().over(wr)).crossJoin(
        F.broadcast(conv.agg(F.count(F.lit(1)).alias("n")))
    )
    stats = ranked.agg(
        F.min(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.5), F.col("lat_s"))
        ).alias("median_latency_s"),
        F.min(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.9), F.col("lat_s"))
        ).alias("p90_latency_s"),
        F.first("n").cast("bigint").alias("n_converting_sessions"),
    )
    totals = sessions.agg(F.count(F.lit(1)).alias("n_sessions"))
    return stats.crossJoin(F.broadcast(totals)).select(
        "n_sessions",
        "n_converting_sessions",
        "median_latency_s",
        "p90_latency_s",
    )


ORACLE_SESSION_CONVERSION_LATENCY = """
WITH m AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN COALESCE(epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY epoch_us(ts), event_id NULLS FIRST), 0)
                >= 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM events WHERE ts IS NOT NULL
), s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id
                             ORDER BY us, event_id NULLS FIRST
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
), sess AS (
  SELECT user_id, sid, min(us) AS start_us,
         min(CASE WHEN event_type = 'purchase' THEN us END)
           AS first_purchase_us
  FROM s GROUP BY user_id, sid
), conv AS (
  SELECT user_id, sid,
         (first_purchase_us - start_us) // 1000000 AS lat_s
  FROM sess WHERE first_purchase_us IS NOT NULL
), ranked AS (
  SELECT lat_s,
         row_number() OVER (ORDER BY lat_s, user_id, sid) AS rn,
         count(*) OVER () AS n
  FROM conv
)
SELECT (SELECT count(*) FROM sess) AS n_sessions,
       CAST(max(n) AS BIGINT) AS n_converting_sessions,
       min(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN lat_s END)
         AS median_latency_s,
       min(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN lat_s END)
         AS p90_latency_s
FROM ranked
"""


def q_brand_two_hop_reach(spark: SparkSession, sf: str) -> DataFrame:
    """Two-hop neighborhood size per vertex on the (sparse, thresholded)
    brand co-occurrence graph: |{w : u—v—w, w ≠ u, u̸—w excluded? no —
    reach INCLUDES direct neighbors}| — the friends-of-friends breadth
    metric. One edge self-join on the middle vertex, then a distinct
    count per source; undirected edges are symmetrized first. Scale: the
    join keys on the shared vertex, so cost is Σ deg² — bounded by the
    same threshold that keeps the graph sparse."""
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    p = F.broadcast(
        read_table(spark, sf, "part").select("p_partkey", "p_brand")
    )
    ob = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select("l_orderkey", F.col("p_brand").alias("u"))
    b = ob.select("l_orderkey", F.col("p_brand").alias("v"))
    und = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 324)
        .select("u", "v")
    )
    edges = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    two_hop = (
        edges.alias("e1")
        .join(edges.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(F.col("e1.u").alias("src"), F.col("e2.v").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .unionByName(edges.select(F.col("u").alias("src"), F.col("v").alias("dst")))
        .distinct()
    )
    return two_hop.groupBy("src").agg(
        F.count(F.lit(1)).alias("reach_2hop")
    )


ORACLE_BRAND_TWO_HOP_REACH = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), und AS (
  SELECT a.p_brand AS u, b.p_brand AS v
  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2 HAVING count(*) >= 324
), e AS (
  SELECT u, v FROM und UNION ALL SELECT v, u FROM und
), reach AS (
  SELECT e1.u AS src, e2.v AS dst
  FROM e e1 JOIN e e2 ON e1.v = e2.u
  WHERE e1.u <> e2.v
  UNION
  SELECT u, v FROM e
)
SELECT src, count(*) AS reach_2hop FROM reach GROUP BY src
"""


def q_keyword_in_context(spark: SparkSession, sf: str) -> DataFrame:
    """Keyword-in-context (KWIC) extraction: every occurrence of a term
    with its ±1-token window — the concordance view search/annotation
    tools build. Pure higher-order array work: tokenize once, index with
    the two-argument ``transform`` lambda, filter hits, explode — no
    UDF, no re-scan per occurrence; the context assembly is
    try_element_at arithmetic on the SAME array (ANSI mode errors on
    out-of-bounds element_at; try_ yields NULL and concat_ws skips it)."""
    d = read_table(spark, sf, "documents")
    toks = d.select("doc_id", tokens("text").alias("tk"))
    # tk rides THROUGH the explode instead of a join-back to toks: the
    # join-back would (a) shuffle the whole token-array table twice and
    # (b) fan out hits x copies on a DUPLICATED doc_id — each row's hits
    # must pair with that row's OWN array (found by the 50-identical-
    # rows degenerate probe: 2500 rows vs the oracle's 50)
    hits = toks.select(
        "doc_id",
        "tk",
        F.explode(
            F.filter(
                F.transform("tk", lambda x, i: F.when(x == "spark", i)),
                lambda v: v.isNotNull(),
            )
        ).alias("pos"),
    )
    ctx = hits.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.concat_ws(
            " ",
            F.when(F.col("pos") > 0, F.try_element_at("tk", F.col("pos"))),
            F.try_element_at("tk", F.col("pos") + 1),
            F.try_element_at("tk", F.col("pos") + 2),
        ).alias("context"),
    )
    return ctx


ORACLE_KEYWORD_IN_CONTEXT = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents
), hits AS (
  SELECT doc_id, tk, i.i AS pos
  FROM toks, LATERAL (SELECT unnest(range(len(tk))) AS i) i
  WHERE tk[i.i + 1] = 'spark'
)
SELECT doc_id, CAST(pos AS INT) AS pos,
       CASE WHEN pos > 0
            THEN tk[pos] || ' ' || tk[pos + 1] ||
                 CASE WHEN pos + 2 <= len(tk)
                      THEN ' ' || tk[pos + 2] ELSE '' END
            ELSE tk[pos + 1] ||
                 CASE WHEN pos + 2 <= len(tk)
                      THEN ' ' || tk[pos + 2] ELSE '' END
       END AS context
FROM hits
"""


def q_score_percentile_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Reverse quantile lookup: for fixed price points, the percentile
    each one sits at WITHIN each market segment — 'where would a 150k
    order rank among BUILDING customers?'. The inverse of the percentile
    queries: one conditional-count aggregate per segment (no sort at
    all), percentile = exact integer ratio in ppm. Price points ride as
    an exploded literal array, so adding points never adds scans."""
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    oc = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o["o_custkey"] == F.col("c_custkey"),
    ).select("c_mktsegment", "o_totalprice")
    points = F.explode(
        F.array(F.lit(50000.0), F.lit(150000.0), F.lit(300000.0))
    )
    t = oc.select("c_mktsegment", "o_totalprice", points.alias("price_point"))
    return t.groupBy("c_mktsegment", "price_point").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(
            "CAST((sum(CASE WHEN o_totalprice <= price_point THEN 1 ELSE 0 END)"
            " * 1000000) DIV count(*) AS BIGINT)"
        ).alias("percentile_ppm"),
    )


ORACLE_SCORE_PERCENTILE_LOOKUP = """
WITH oc AS (
  SELECT c.c_mktsegment, o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), t AS (
  SELECT c_mktsegment, o_totalprice, p.price_point
  FROM oc, LATERAL (VALUES (50000.0), (150000.0), (300000.0))
       AS p(price_point)
)
SELECT c_mktsegment, CAST(price_point AS DOUBLE) AS price_point,
       count(*) AS n_orders,
       CAST((sum(CASE WHEN o_totalprice <= price_point THEN 1 ELSE 0 END)
             * 1000000) // count(*) AS BIGINT) AS percentile_ppm
FROM t GROUP BY c_mktsegment, price_point
"""


def q_running_purchase_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional running aggregate: each event row carries the user's
    cumulative PURCHASE spend so far (CASE inside the running sum — the
    'lifetime value as of this moment' column feature stores attach to
    every interaction). Quantized to cents per element before the window
    sum, so the cumulative values are exact; one user-partitioned window
    over a total order. Clock-less events (NULL ts) are excluded — "spend
    so far" is undefined without a position in time, and the engines
    order NULL ts on opposite ends."""
    e = read_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spend_cents = F.when(
        F.col("event_type") == "purchase",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"),
    ).otherwise(F.lit(0))
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.sum(spend_cents).over(w).cast("bigint").alias("ltv_cents"),
    )


ORACLE_RUNNING_PURCHASE_TOTALS = """
SELECT user_id, event_id, event_type,
       CAST(sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                     ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS ltv_cents
FROM events WHERE ts IS NOT NULL  -- clock-less events are un-orderable
"""


def q_late_supplier_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier reliability scorecard: per supplier, line counts, late
    shipments (shipped more than 90 days after the order date — the
    lateness proxy this schema supports), the late ratio in ppm (exact
    integer division) and the worst delay in days — top-20 worst
    suppliers by ratio with a total tiebreak order, compiled to
    TakeOrderedAndProject (per-partition top-k merge, no global sort)."""
    li = read_table(spark, sf, "lineitem")
    o = read_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    s = read_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    lo = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    prof = (
        lo.select(
            "l_suppkey",
            (
                F.datediff("l_shipdate", "o_orderdate") > 90
            ).cast("bigint").alias("late"),
            F.datediff("l_shipdate", "o_orderdate").alias("delay_d"),
        )
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("late").alias("n_late"),
            F.max("delay_d").alias("max_delay_days"),
        )
        .withColumn(
            "late_ratio_ppm",
            F.expr("CAST((n_late * 1000000) DIV n_lines AS BIGINT)"),
        )
    )
    return (
        prof.join(F.broadcast(s), prof["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_name", "n_lines", "n_late", "late_ratio_ppm", "max_delay_days"
        )
        .orderBy(F.col("late_ratio_ppm").desc(), "s_name")
        .limit(20)
    )


ORACLE_LATE_SUPPLIER_PROFILE = """
WITH prof AS (
  SELECT l_suppkey, count(*) AS n_lines,
         CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
         max(date_diff('day', o_orderdate, l_shipdate)) AS max_delay_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_suppkey
)
SELECT s.s_name, p.n_lines, p.n_late,
       CAST((p.n_late * 1000000) // p.n_lines AS BIGINT) AS late_ratio_ppm,
       p.max_delay_days
FROM prof p JOIN supplier s ON p.l_suppkey = s.s_suppkey
ORDER BY late_ratio_ppm DESC, s.s_name
LIMIT 20
"""


def q_rollup_grain_proof(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal grain re-aggregation proof: monthly revenue derived from
    DAILY partials equals the direct monthly aggregate — the property
    that lets a warehouse keep one day-grain table and serve every
    coarser grain by re-aggregation instead of re-scanning facts
    (the time-axis sibling of `incremental_agg_state`'s base∪delta
    merge). Integer cents throughout; equality pinned per month."""
    o = read_table(spark, sf, "orders")
    # scrub BEFORE floor (Spark floor(NaN) is 0 — zero-cent fabrication);
    # _quantizable, not _nan_null: a finite 1e300 would overflow the
    # bigint cents cast (ANSI ARITHMETIC_OVERFLOW)
    cents = F.floor(_quantizable("o_totalprice") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c")
    )
    from_daily = daily.groupBy(
        F.date_format("d", "yyyy-MM").alias("month")
    ).agg(
        F.sum("n").alias("n_orders"),
        F.sum("c").cast("bigint").alias("cents"),
    )
    direct = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(cents).alias("_c"),
    )
    # null-safe join and probes: dateless orders form a NULL month — a
    # group like any other (a plain equi-join would drop it, and its
    # all-missing cents compare NULL == NULL, which must read as equal)
    direct = direct.withColumnRenamed("month", "_m")
    return (
        from_daily.join(direct, F.col("month").eqNullSafe(F.col("_m")))
        .select(
            "month",
            "n_orders",
            "cents",
            (
                F.col("n_orders").eqNullSafe(F.col("_n"))
                & F.col("cents").eqNullSafe(F.col("_c"))
            ).alias("daily_rollup_equals_direct"),
        )
    )


ORACLE_ROLLUP_GRAIN_PROOF = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       count(*) AS n_orders,
       -- quantizable scrub mirrors the Spark twin's _quantizable guard
       CAST(sum(CAST(floor(CASE WHEN isfinite(o_totalprice)
                                 AND abs(o_totalprice) < 1e14
                                THEN o_totalprice END * 100 + 0.5)
                     AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS daily_rollup_equals_direct
FROM orders GROUP BY 1
"""


def q_session_bounce_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Bounce analytics on 30-minute-gap sessions: sessions with exactly
    one event, overall and per entry event type (what people bounce FROM)
    — entry type = the session's first event by (time, id). Same island
    sessionization as the latency query; rates are exact ppm integer
    ratios; output is bounded by the event-type cardinality. Clock-less
    events (NULL ts) are excluded — they join no session."""
    e = read_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = (
        e.select("user_id", "event_id", "event_type", us.alias("us"))
        .withColumn(
            "new_s",
            (
                F.coalesce(F.col("us") - F.lag("us").over(w), F.lit(0))
                >= 30 * 60 * 1000000
            ).cast("bigint"),
        )
        .withColumn(
            "sid",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    we = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
    sessions = (
        marked.withColumn("entry_type", F.first("event_type").over(we))
        .groupBy("user_id", "sid")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("entry_type").alias("entry_type"),
        )
    )
    return sessions.groupBy("entry_type").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("bigint")).alias("n_bounces"),
        F.expr(
            "CAST((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000)"
            " DIV count(*) AS BIGINT)"
        ).alias("bounce_ppm"),
    )


ORACLE_SESSION_BOUNCE_RATE = """
WITH m AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN COALESCE(epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY epoch_us(ts), event_id NULLS FIRST), 0)
                >= 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM events WHERE ts IS NOT NULL
), s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id
                             ORDER BY us, event_id NULLS FIRST
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
), entry AS (
  SELECT *, first_value(event_type) OVER (
      PARTITION BY user_id, sid ORDER BY us, event_id NULLS FIRST) AS entry_type
  FROM s
), sess AS (
  SELECT user_id, sid, count(*) AS n_events, min(entry_type) AS entry_type
  FROM entry GROUP BY user_id, sid
)
SELECT entry_type, count(*) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS bounce_ppm
FROM sess GROUP BY entry_type
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "gap_fill_hourly": q_gap_fill_hourly,
    "json_props_sum": q_json_props_sum,
    "local_supplier_volume": q_local_supplier_volume,
    "forecast_revenue": q_forecast_revenue,
    "top_supplier": q_top_supplier,
    "packed_sequences": q_packed_sequences,
    "mixture_sampled_docs": q_mixture_sampled_docs,
    "passage_dup_docs": q_passage_dup_docs,
    "next_purchase_after_click": q_next_purchase_after_click,
    "dynamic_session_windows": q_dynamic_session_windows,
    "script_stats": q_script_stats,
    "matryoshka_embeddings": q_matryoshka_embeddings,
    "event_funnel": q_event_funnel,
    "retention_cohorts": q_retention_cohorts,
    "session_paths": q_session_paths,
    "robust_price_stats": q_robust_price_stats,
    "snapshot_diff_orders": q_snapshot_diff_orders,
    "pivot_event_multi_agg": q_pivot_event_multi_agg,
    "vocab_top_terms": q_vocab_top_terms,
    "nations_covering_all_segments": q_nations_covering_all_segments,
    "hourly_anomalies": q_hourly_anomalies,
    "calibrated_quality_scores": q_calibrated_quality_scores,
    "bitext_mining": q_bitext_mining,
    "price_trend_per_segment": q_price_trend_per_segment,
    "embedding_drift": q_embedding_drift,
    "nation_revenue_share": q_nation_revenue_share,
    "weekly_revenue_growth": q_weekly_revenue_growth,
    "tokenizer_fertility": q_tokenizer_fertility,
    "dedup_rates_by_source": q_dedup_rates_by_source,
    "event_weekday_chisq": q_event_weekday_chisq,
    "corpus_concentration": q_corpus_concentration,
    "orders_quality_report": q_orders_quality_report,
    "frame_sample_plan": q_frame_sample_plan,
    "json_key_profile": q_json_key_profile,
    "event_transition_matrix": q_event_transition_matrix,
    "token_mass_deciles": q_token_mass_deciles,
    "lang_source_mix": q_lang_source_mix,
    "brand_cooccurrence": q_brand_cooccurrence,
    "ship_latency_by_priority": q_ship_latency_by_priority,
    "discount_quantity_correlation": q_discount_quantity_correlation,
    "customer_spend_gini": q_customer_spend_gini,
    "repeat_purchase_intervals": q_repeat_purchase_intervals,
    "semantic_decontaminated": q_semantic_decontaminated,
    "fuzzy_supplier_names": q_fuzzy_supplier_names,
    "cms_supplier_counts": q_cms_supplier_counts,
    "profile_lineitem": q_profile_lineitem,
    "gap_fill_linear_hourly": q_gap_fill_linear_hourly,
    "reservoir_docs_per_lang": q_reservoir_docs_per_lang,
    "kmeans_doc_clusters": q_kmeans_doc_clusters,
    "ivf_kmeans_topk": q_ivf_kmeans_topk,
    "simhash_neardup_pairs": q_simhash_neardup_pairs,
    "approx_distinct_users": q_approx_distinct_users,
    "supplier_revenue_ranking": q_supplier_revenue_ranking,
    "customers_above_nation_avg": q_customers_above_nation_avg,
    "salted_join_revenue": q_salted_join_revenue,
    "ship_date_parts": q_ship_date_parts,
    "supplier_codes": q_supplier_codes,
    "first_last_order_value": q_first_last_order_value,
    "balance_distribution": q_balance_distribution,
    "json_struct_events": q_json_struct_events,
    "array_stats_embeddings": q_array_stats_embeddings,
    "bpe_token_counts": q_bpe_token_counts,
    "winnowing_fingerprints": q_winnowing_fingerprints,
    "unshipped_orders_topk": q_unshipped_orders_topk,
    "nation_trade_volume": q_nation_trade_volume,
    "customer_order_distribution": q_customer_order_distribution,
    "small_qty_part_revenue": q_small_qty_part_revenue,
    "large_order_customers": q_large_order_customers,
    "idle_rich_customers": q_idle_rich_customers,
    "sole_late_suppliers": q_sole_late_suppliers,
    "multimodal_features": q_multimodal_features,
    "hierarchy_closure_recursive": q_hierarchy_closure_recursive,
    "event_type_map_roundtrip": q_event_type_map_roundtrip,
    "order_price_moments": q_order_price_moments,
    "chunk_documents_udtf": q_chunk_documents_udtf,
    "chunk_documents": q_chunk_documents,
    "train_test_split": q_train_test_split,
    "paged_orders": q_paged_orders,
    "training_data_pipeline": q_training_data_pipeline,
    "neardup_clusters": q_neardup_clusters,
    "ann_cosine_topk_np": q_ann_cosine_topk_np,
    "dedup_survivors": q_dedup_survivors,
    "approx_price_sketch": q_approx_price_sketch,
    "frequent_suppliers_sketch": q_frequent_suppliers_sketch,
    "udaf_median_qty": q_udaf_median_qty,
    "order_priority_check": q_order_priority_check,
    "market_share": q_market_share,
    "profit_by_nation_year": q_profit_by_nation_year,
    "returned_item_customers": q_returned_item_customers,
    "important_parts": q_important_parts,
    "priority_line_counts": q_priority_line_counts,
    "promo_revenue": q_promo_revenue,
    "part_supplier_variety": q_part_supplier_variety,
    "disjunctive_brand_revenue": q_disjunctive_brand_revenue,
    "min_cost_supplier": q_min_cost_supplier,
    "promotion_candidate_suppliers": q_promotion_candidate_suppliers,
    "tfidf_top_terms": q_tfidf_top_terms,
    "pii_redaction": q_pii_redaction,
    "benchmark_contamination": q_benchmark_contamination,
    "decontaminated_docs": q_decontaminated_docs,
    "doc_repetition_stats": q_doc_repetition_stats,
    "scd1_merge_orders": q_scd1_merge_orders,
    "user_state_history": q_user_state_history,
    "busy_interval_stats": q_busy_interval_stats,
    "hll_user_sketches": q_hll_user_sketches,
    "embedding_quantization": q_embedding_quantization,
    "quantized_rerank_topk": q_quantized_rerank_topk,
    "minhash_pairs_raw": q_minhash_pairs_raw,
    "ivf_topk_raw": q_ivf_topk_raw,
    "simhash_pairs_raw": q_simhash_pairs_raw,
    "star_schema_agg": q_star_schema_agg,
    "dimension_decode": q_dimension_decode,
    "filtered_slice": q_filtered_slice,
    "pricing_summary": q_pricing_summary,
    "semi_join_customers": q_semi_join_customers,
    "incremental_anti_join": q_incremental_anti_join,
    "top_orders": q_top_orders,
    "top_orders_per_customer": q_top_orders_per_customer,
    "latest_event_per_user": q_latest_event_per_user,
    "set_ops_customers": q_set_ops_customers,
    "set_ops_multiset": q_set_ops_multiset,
    "distinct_counts": q_distinct_counts,
    "rollup_region_nation": q_rollup_region_nation,
    "ordered_orders_limit": q_ordered_orders_limit,
    "pivot_event_values": q_pivot_event_values,
    "unpivot_lineitem": q_unpivot_lineitem,
    "hierarchy_closure": q_hierarchy_closure,
    "clean_identifiers": q_clean_identifiers,
    "clean_descriptions": q_clean_descriptions,
    "measure_round_metadata": q_measure_round_metadata,
    "latest_load_folder": q_latest_load_folder,
    "daily_event_stats": q_daily_event_stats,
    "tumbling_hourly_stats": q_tumbling_hourly_stats,
    "session_windows": q_session_windows,
    "dedup_exact_docs": q_dedup_exact_docs,
    "token_stats": q_token_stats,
    "quality_scores": q_quality_scores,
    "lang_id": q_lang_id,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "ann_cosine_topk": q_ann_cosine_topk,
    "cosine_near_dup_pairs": q_cosine_near_dup_pairs,
    "embedding_centroids": q_embedding_centroids,
    "multimodal_binary_meta": q_multimodal_binary_meta,
    "running_order_totals": q_running_order_totals,
    "order_gap_days": q_order_gap_days,
    "moving_avg_order_price": q_moving_avg_order_price,
    "part_price_ranks": q_part_price_ranks,
    "customer_quartiles": q_customer_quartiles,
    "cube_order_stats": q_cube_order_stats,
    "grouping_sets_sql": q_grouping_sets_sql,
    "price_percentiles": q_price_percentiles,
    "asof_click_before_purchase": q_asof_click_before_purchase,
    "price_band_totals": q_price_band_totals,
    "sliding_6h_stats": q_sliding_6h_stats,
    "minhash_neardup_pairs": q_minhash_neardup_pairs,
    "simhash_fingerprints": q_simhash_fingerprints,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
    "token_budget_docs": q_token_budget_docs,
    "kfold_docs": q_kfold_docs,
    "variant_events_stats": q_variant_events_stats,
    "listagg_region_nations": q_listagg_region_nations,
    "equi_depth_histogram": q_equi_depth_histogram,
    "rolling_7d_active_users": q_rolling_7d_active_users,
    "incremental_agg_state": q_incremental_agg_state,
    "join_skew_advisor": q_join_skew_advisor,
    "dict_encode_brands": q_dict_encode_brands,
    "order_value_distribution": q_order_value_distribution,
    "gopher_quality_funnel": q_gopher_quality_funnel,
    "hard_negative_mining": q_hard_negative_mining,
    "epoch_shuffle_order": q_epoch_shuffle_order,
    "user_event_timeline": q_user_event_timeline,
    "fingerprint_snapshot_diff": q_fingerprint_snapshot_diff,
    "join_cardinality_estimate": q_join_cardinality_estimate,
    "latest_event_agg_only": q_latest_event_agg_only,
    "bitmap_distinct_users": q_bitmap_distinct_users,
    "ann_topk_arrow": q_ann_topk_arrow,
    "brand_triangle_count": q_brand_triangle_count,
    "cdc_log_replay": q_cdc_log_replay,
    "seasonal_residuals": q_seasonal_residuals,
    "json_quarantine": q_json_quarantine,
    "winsorized_price_stats": q_winsorized_price_stats,
    "price_histogram": q_price_histogram,
    "cumulative_new_users": q_cumulative_new_users,
    "conjunctive_term_search": q_conjunctive_term_search,
    "event_type_overlap": q_event_type_overlap,
    "longest_user_streaks": q_longest_user_streaks,
    "lang_confusion_matrix": q_lang_confusion_matrix,
    "revenue_share_hierarchy": q_revenue_share_hierarchy,
    "embedding_outliers": q_embedding_outliers,
    "null_safe_dim_join": q_null_safe_dim_join,
    "doc_length_profile": q_doc_length_profile,
    "table_checksums": q_table_checksums,
    "approx_global_histogram": q_approx_global_histogram,
    "grouped_map_mad": q_grouped_map_mad,
    "map_merge_counts": q_map_merge_counts,
    "user_type_arrays": q_user_type_arrays,
    "sql_udf_revenue": q_sql_udf_revenue,
    "exact_percentiles_builtin": q_exact_percentiles_builtin,
    "trailing_24h_event_load": q_trailing_24h_event_load,
    "filtered_agg_sql": q_filtered_agg_sql,
    "declared_pipeline_revenue": q_declared_pipeline_revenue,
    "session_window_builtin": q_session_window_builtin,
    "ignore_nulls_fill": q_ignore_nulls_fill,
    "minhash_recall_eval": q_minhash_recall_eval,
    "incremental_exact_dedup": q_incremental_exact_dedup,
    "lateral_top_line": q_lateral_top_line,
    "safe_ratio_stats": q_safe_ratio_stats,
    "xml_event_roundtrip": q_xml_event_roundtrip,
    "pivot_sql_clause": q_pivot_sql_clause,
    "unpivot_sql_clause": q_unpivot_sql_clause,
    "leakage_safe_split": q_leakage_safe_split,
    "quantile_normalized_lengths": q_quantile_normalized_lengths,
    "inter_event_gap_histogram": q_inter_event_gap_histogram,
    "bucket_checksums_diff": q_bucket_checksums_diff,
    "string_format_roundtrip": q_string_format_roundtrip,
    "global_top_share_docs": q_global_top_share_docs,
    "masked_customer_export": q_masked_customer_export,
    "ab_test_2x2": q_ab_test_2x2,
    "decayed_engagement": q_decayed_engagement,
    "receivables_aging": q_receivables_aging,
    "price_index_monthly": q_price_index_monthly,
    "pipe_syntax_revenue": q_pipe_syntax_revenue,
    "revenue_pareto": q_revenue_pareto,
    "customer_reactivation": q_customer_reactivation,
    "session_conversion_latency": q_session_conversion_latency,
    "brand_two_hop_reach": q_brand_two_hop_reach,
    "keyword_in_context": q_keyword_in_context,
    "score_percentile_lookup": q_score_percentile_lookup,
    "running_purchase_totals": q_running_purchase_totals,
    "late_supplier_profile": q_late_supplier_profile,
    "rollup_grain_proof": q_rollup_grain_proof,
    "session_bounce_rate": q_session_bounce_rate,
}

ORACLES: dict[str, str] = {
    "star_schema_agg": ORACLE_STAR_SCHEMA_AGG,
    "dimension_decode": ORACLE_DIMENSION_DECODE,
    "filtered_slice": ORACLE_FILTERED_SLICE,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "semi_join_customers": ORACLE_SEMI_JOIN_CUSTOMERS,
    "incremental_anti_join": ORACLE_INCREMENTAL_ANTI_JOIN,
    "top_orders": ORACLE_TOP_ORDERS,
    "top_orders_per_customer": ORACLE_TOP_ORDERS_PER_CUSTOMER,
    "latest_event_per_user": ORACLE_LATEST_EVENT_PER_USER,
    "set_ops_customers": ORACLE_SET_OPS_CUSTOMERS,
    "set_ops_multiset": ORACLE_SET_OPS_MULTISET,
    "distinct_counts": ORACLE_DISTINCT_COUNTS,
    "rollup_region_nation": ORACLE_ROLLUP_REGION_NATION,
    "ordered_orders_limit": ORACLE_ORDERED_ORDERS_LIMIT,
    "pivot_event_values": ORACLE_PIVOT_EVENT_VALUES,
    "unpivot_lineitem": ORACLE_UNPIVOT_LINEITEM,
    "hierarchy_closure": ORACLE_HIERARCHY_CLOSURE,
    "clean_identifiers": ORACLE_CLEAN_IDENTIFIERS,
    "clean_descriptions": ORACLE_CLEAN_DESCRIPTIONS,
    "measure_round_metadata": ORACLE_MEASURE_ROUND_METADATA,
    "latest_load_folder": ORACLE_LATEST_LOAD_FOLDER,
    "daily_event_stats": ORACLE_DAILY_EVENT_STATS,
    "json_props_sum": ORACLE_JSON_PROPS_SUM,
    "local_supplier_volume": ORACLE_LOCAL_SUPPLIER_VOLUME,
    "forecast_revenue": ORACLE_FORECAST_REVENUE,
    "top_supplier": ORACLE_TOP_SUPPLIER,
    "packed_sequences": ORACLE_PACKED_SEQUENCES,
    "mixture_sampled_docs": ORACLE_MIXTURE_SAMPLED_DOCS,
    "passage_dup_docs": ORACLE_PASSAGE_DUP_DOCS,
    "next_purchase_after_click": ORACLE_NEXT_PURCHASE_AFTER_CLICK,
    "dynamic_session_windows": ORACLE_DYNAMIC_SESSION_WINDOWS,
    "script_stats": ORACLE_SCRIPT_STATS,
    "matryoshka_embeddings": ORACLE_MATRYOSHKA_EMBEDDINGS,
    "event_funnel": ORACLE_EVENT_FUNNEL,
    "retention_cohorts": ORACLE_RETENTION_COHORTS,
    "session_paths": ORACLE_SESSION_PATHS,
    "robust_price_stats": ORACLE_ROBUST_PRICE_STATS,
    "snapshot_diff_orders": ORACLE_SNAPSHOT_DIFF_ORDERS,
    "pivot_event_multi_agg": ORACLE_PIVOT_EVENT_MULTI_AGG,
    "vocab_top_terms": ORACLE_VOCAB_TOP_TERMS,
    "nations_covering_all_segments": ORACLE_NATIONS_COVERING_ALL_SEGMENTS,
    "hourly_anomalies": ORACLE_HOURLY_ANOMALIES,
    "calibrated_quality_scores": ORACLE_CALIBRATED_QUALITY_SCORES,
    "bitext_mining": ORACLE_BITEXT_MINING,
    "price_trend_per_segment": ORACLE_PRICE_TREND_PER_SEGMENT,
    "embedding_drift": ORACLE_EMBEDDING_DRIFT,
    "nation_revenue_share": ORACLE_NATION_REVENUE_SHARE,
    "weekly_revenue_growth": ORACLE_WEEKLY_REVENUE_GROWTH,
    "tokenizer_fertility": ORACLE_TOKENIZER_FERTILITY,
    "dedup_rates_by_source": ORACLE_DEDUP_RATES_BY_SOURCE,
    "event_weekday_chisq": ORACLE_EVENT_WEEKDAY_CHISQ,
    "corpus_concentration": ORACLE_CORPUS_CONCENTRATION,
    "orders_quality_report": ORACLE_ORDERS_QUALITY_REPORT,
    "frame_sample_plan": ORACLE_FRAME_SAMPLE_PLAN,
    "json_key_profile": ORACLE_JSON_KEY_PROFILE,
    "event_transition_matrix": ORACLE_EVENT_TRANSITION_MATRIX,
    "token_mass_deciles": ORACLE_TOKEN_MASS_DECILES,
    "lang_source_mix": ORACLE_LANG_SOURCE_MIX,
    "brand_cooccurrence": ORACLE_BRAND_COOCCURRENCE,
    "ship_latency_by_priority": ORACLE_SHIP_LATENCY_BY_PRIORITY,
    "discount_quantity_correlation": ORACLE_DISCOUNT_QUANTITY_CORRELATION,
    "customer_spend_gini": ORACLE_CUSTOMER_SPEND_GINI,
    "repeat_purchase_intervals": ORACLE_REPEAT_PURCHASE_INTERVALS,
    "tumbling_hourly_stats": ORACLE_TUMBLING_HOURLY_STATS,
    "session_windows": ORACLE_SESSION_WINDOWS,
    "dedup_exact_docs": ORACLE_DEDUP_EXACT_DOCS,
    "token_stats": ORACLE_TOKEN_STATS,
    "quality_scores": ORACLE_QUALITY_SCORES,
    "lang_id": ORACLE_LANG_ID,
    "ngram_jaccard_pairs": ORACLE_NGRAM_JACCARD_PAIRS,
    "minhash_neardup_pairs": ORACLE_MINHASH_NEARDUP_PAIRS,
    "simhash_fingerprints": ORACLE_SIMHASH_FINGERPRINTS,
    "lsh_ann_topk": ORACLE_LSH_ANN_TOPK,
    "ivf_ann_topk": ORACLE_IVF_ANN_TOPK,
    "approx_distinct_users": ORACLE_APPROX_DISTINCT_USERS,
    "approx_price_sketch": ORACLE_APPROX_PRICE_SKETCH,
    "frequent_suppliers_sketch": ORACLE_FREQUENT_SUPPLIERS_SKETCH,
    "simhash_neardup_pairs": ORACLE_SIMHASH_NEARDUP_PAIRS,
    "winnowing_fingerprints": ORACLE_WINNOWING_FINGERPRINTS,
    "ann_cosine_topk_np": ORACLE_ANN_COSINE_TOPK_NP,
    "quantized_rerank_topk": ORACLE_QUANTIZED_RERANK_TOPK,
    "ivf_kmeans_topk": ORACLE_IVF_KMEANS_TOPK,
    "kmeans_doc_clusters": ORACLE_KMEANS_DOC_CLUSTERS,
    "semantic_decontaminated": ORACLE_SEMANTIC_DECONTAMINATED,
    "fuzzy_supplier_names": ORACLE_FUZZY_SUPPLIER_NAMES,
    "cms_supplier_counts": ORACLE_CMS_SUPPLIER_COUNTS,
    "profile_lineitem": ORACLE_PROFILE_LINEITEM,
    "gap_fill_linear_hourly": ORACLE_GAP_FILL_LINEAR_HOURLY,
    "reservoir_docs_per_lang": ORACLE_RESERVOIR_DOCS_PER_LANG,
    "ann_cosine_topk": ORACLE_ANN_COSINE_TOPK,
    "cosine_near_dup_pairs": ORACLE_COSINE_NEAR_DUP_PAIRS,
    "embedding_centroids": ORACLE_EMBEDDING_CENTROIDS,
    "multimodal_binary_meta": ORACLE_MULTIMODAL_BINARY_META,
    "running_order_totals": ORACLE_RUNNING_ORDER_TOTALS,
    "order_gap_days": ORACLE_ORDER_GAP_DAYS,
    "moving_avg_order_price": ORACLE_MOVING_AVG_ORDER_PRICE,
    "part_price_ranks": ORACLE_PART_PRICE_RANKS,
    "customer_quartiles": ORACLE_CUSTOMER_QUARTILES,
    "cube_order_stats": ORACLE_CUBE_ORDER_STATS,
    "grouping_sets_sql": ORACLE_GROUPING_SETS_SQL,
    "price_percentiles": ORACLE_PRICE_PERCENTILES,
    "asof_click_before_purchase": ORACLE_ASOF_CLICK_BEFORE_PURCHASE,
    "price_band_totals": ORACLE_PRICE_BAND_TOTALS,
    "sliding_6h_stats": ORACLE_SLIDING_6H_STATS,
    "gap_fill_hourly": ORACLE_GAP_FILL_HOURLY,
    "supplier_revenue_ranking": ORACLE_SUPPLIER_REVENUE_RANKING,
    "customers_above_nation_avg": ORACLE_CUSTOMERS_ABOVE_NATION_AVG,
    "salted_join_revenue": ORACLE_SALTED_JOIN_REVENUE,
    "ship_date_parts": ORACLE_SHIP_DATE_PARTS,
    "supplier_codes": ORACLE_SUPPLIER_CODES,
    "first_last_order_value": ORACLE_FIRST_LAST_ORDER_VALUE,
    "balance_distribution": ORACLE_BALANCE_DISTRIBUTION,
    "json_struct_events": ORACLE_JSON_STRUCT_EVENTS,
    "array_stats_embeddings": ORACLE_ARRAY_STATS_EMBEDDINGS,
    "bpe_token_counts": ORACLE_BPE_TOKEN_COUNTS,
    "unshipped_orders_topk": ORACLE_UNSHIPPED_ORDERS_TOPK,
    "nation_trade_volume": ORACLE_NATION_TRADE_VOLUME,
    "customer_order_distribution": ORACLE_CUSTOMER_ORDER_DISTRIBUTION,
    "small_qty_part_revenue": ORACLE_SMALL_QTY_PART_REVENUE,
    "large_order_customers": ORACLE_LARGE_ORDER_CUSTOMERS,
    "idle_rich_customers": ORACLE_IDLE_RICH_CUSTOMERS,
    "sole_late_suppliers": ORACLE_SOLE_LATE_SUPPLIERS,
    "multimodal_features": ORACLE_MULTIMODAL_FEATURES,
    "hierarchy_closure_recursive": ORACLE_HIERARCHY_CLOSURE_RECURSIVE,
    "event_type_map_roundtrip": ORACLE_EVENT_TYPE_MAP_ROUNDTRIP,
    "order_price_moments": ORACLE_ORDER_PRICE_MOMENTS,
    "chunk_documents_udtf": ORACLE_CHUNK_DOCUMENTS_UDTF,
    "chunk_documents": ORACLE_CHUNK_DOCUMENTS_UDTF,
    "train_test_split": ORACLE_TRAIN_TEST_SPLIT,
    "paged_orders": ORACLE_PAGED_ORDERS,
    "training_data_pipeline": ORACLE_TRAINING_DATA_PIPELINE,
    "neardup_clusters": ORACLE_NEARDUP_CLUSTERS,
    "dedup_survivors": ORACLE_DEDUP_SURVIVORS,
    "udaf_median_qty": ORACLE_UDAF_MEDIAN_QTY,
    "order_priority_check": ORACLE_ORDER_PRIORITY_CHECK,
    "market_share": ORACLE_MARKET_SHARE,
    "profit_by_nation_year": ORACLE_PROFIT_BY_NATION_YEAR,
    "returned_item_customers": ORACLE_RETURNED_ITEM_CUSTOMERS,
    "important_parts": ORACLE_IMPORTANT_PARTS,
    "priority_line_counts": ORACLE_PRIORITY_LINE_COUNTS,
    "promo_revenue": ORACLE_PROMO_REVENUE,
    "part_supplier_variety": ORACLE_PART_SUPPLIER_VARIETY,
    "disjunctive_brand_revenue": ORACLE_DISJUNCTIVE_BRAND_REVENUE,
    "min_cost_supplier": ORACLE_MIN_COST_SUPPLIER,
    "promotion_candidate_suppliers": ORACLE_PROMOTION_CANDIDATE_SUPPLIERS,
    "tfidf_top_terms": ORACLE_TFIDF_TOP_TERMS,
    "pii_redaction": ORACLE_PII_REDACTION,
    "benchmark_contamination": ORACLE_BENCHMARK_CONTAMINATION,
    "decontaminated_docs": ORACLE_DECONTAMINATED_DOCS,
    "doc_repetition_stats": ORACLE_DOC_REPETITION_STATS,
    "scd1_merge_orders": ORACLE_SCD1_MERGE_ORDERS,
    "user_state_history": ORACLE_USER_STATE_HISTORY,
    "busy_interval_stats": ORACLE_BUSY_INTERVAL_STATS,
    "hll_user_sketches": ORACLE_HLL_USER_SKETCHES,
    "embedding_quantization": ORACLE_EMBEDDING_QUANTIZATION,
    "token_budget_docs": ORACLE_TOKEN_BUDGET_DOCS,
    "kfold_docs": ORACLE_KFOLD_DOCS,
    "variant_events_stats": ORACLE_VARIANT_EVENTS_STATS,
    "listagg_region_nations": ORACLE_LISTAGG_REGION_NATIONS,
    "equi_depth_histogram": ORACLE_EQUI_DEPTH_HISTOGRAM,
    "rolling_7d_active_users": ORACLE_ROLLING_7D_ACTIVE_USERS,
    "incremental_agg_state": ORACLE_INCREMENTAL_AGG_STATE,
    "join_skew_advisor": ORACLE_JOIN_SKEW_ADVISOR,
    "dict_encode_brands": ORACLE_DICT_ENCODE_BRANDS,
    "order_value_distribution": ORACLE_ORDER_VALUE_DISTRIBUTION,
    "gopher_quality_funnel": ORACLE_GOPHER_QUALITY_FUNNEL,
    "hard_negative_mining": ORACLE_HARD_NEGATIVE_MINING,
    "epoch_shuffle_order": ORACLE_EPOCH_SHUFFLE_ORDER,
    "user_event_timeline": ORACLE_USER_EVENT_TIMELINE,
    "fingerprint_snapshot_diff": ORACLE_FINGERPRINT_SNAPSHOT_DIFF,
    "join_cardinality_estimate": ORACLE_JOIN_CARDINALITY_ESTIMATE,
    "latest_event_agg_only": ORACLE_LATEST_EVENT_AGG_ONLY,
    "bitmap_distinct_users": ORACLE_BITMAP_DISTINCT_USERS,
    "ann_topk_arrow": ORACLE_ANN_TOPK_ARROW,
    "brand_triangle_count": ORACLE_BRAND_TRIANGLE_COUNT,
    "cdc_log_replay": ORACLE_CDC_LOG_REPLAY,
    "seasonal_residuals": ORACLE_SEASONAL_RESIDUALS,
    "json_quarantine": ORACLE_JSON_QUARANTINE,
    "winsorized_price_stats": ORACLE_WINSORIZED_PRICE_STATS,
    "price_histogram": ORACLE_PRICE_HISTOGRAM,
    "cumulative_new_users": ORACLE_CUMULATIVE_NEW_USERS,
    "conjunctive_term_search": ORACLE_CONJUNCTIVE_TERM_SEARCH,
    "event_type_overlap": ORACLE_EVENT_TYPE_OVERLAP,
    "longest_user_streaks": ORACLE_LONGEST_USER_STREAKS,
    "lang_confusion_matrix": ORACLE_LANG_CONFUSION_MATRIX,
    "revenue_share_hierarchy": ORACLE_REVENUE_SHARE_HIERARCHY,
    "embedding_outliers": ORACLE_EMBEDDING_OUTLIERS,
    "null_safe_dim_join": ORACLE_NULL_SAFE_DIM_JOIN,
    "doc_length_profile": ORACLE_DOC_LENGTH_PROFILE,
    "table_checksums": ORACLE_TABLE_CHECKSUMS,
    "approx_global_histogram": ORACLE_APPROX_GLOBAL_HISTOGRAM,
    "grouped_map_mad": ORACLE_GROUPED_MAP_MAD,
    "map_merge_counts": ORACLE_MAP_MERGE_COUNTS,
    "user_type_arrays": ORACLE_USER_TYPE_ARRAYS,
    "sql_udf_revenue": ORACLE_SQL_UDF_REVENUE,
    "exact_percentiles_builtin": ORACLE_EXACT_PERCENTILES_BUILTIN,
    "trailing_24h_event_load": ORACLE_TRAILING_24H_EVENT_LOAD,
    "filtered_agg_sql": ORACLE_FILTERED_AGG_SQL,
    "declared_pipeline_revenue": ORACLE_DECLARED_PIPELINE_REVENUE,
    "session_window_builtin": ORACLE_SESSION_WINDOWS,
    "ignore_nulls_fill": ORACLE_IGNORE_NULLS_FILL,
    "minhash_recall_eval": ORACLE_MINHASH_RECALL_EVAL,
    "incremental_exact_dedup": ORACLE_INCREMENTAL_EXACT_DEDUP,
    "lateral_top_line": ORACLE_LATERAL_TOP_LINE,
    "safe_ratio_stats": ORACLE_SAFE_RATIO_STATS,
    "xml_event_roundtrip": ORACLE_XML_EVENT_ROUNDTRIP,
    "pivot_sql_clause": ORACLE_PIVOT_SQL_CLAUSE,
    "unpivot_sql_clause": ORACLE_UNPIVOT_SQL_CLAUSE,
    "leakage_safe_split": ORACLE_LEAKAGE_SAFE_SPLIT,
    "quantile_normalized_lengths": ORACLE_QUANTILE_NORMALIZED_LENGTHS,
    "inter_event_gap_histogram": ORACLE_INTER_EVENT_GAP_HISTOGRAM,
    "bucket_checksums_diff": ORACLE_BUCKET_CHECKSUMS_DIFF,
    "string_format_roundtrip": ORACLE_STRING_FORMAT_ROUNDTRIP,
    "global_top_share_docs": ORACLE_GLOBAL_TOP_SHARE_DOCS,
    "masked_customer_export": ORACLE_MASKED_CUSTOMER_EXPORT,
    "ab_test_2x2": ORACLE_AB_TEST_2X2,
    "decayed_engagement": ORACLE_DECAYED_ENGAGEMENT,
    "receivables_aging": ORACLE_RECEIVABLES_AGING,
    "price_index_monthly": ORACLE_PRICE_INDEX_MONTHLY,
    "pipe_syntax_revenue": ORACLE_PIPE_SYNTAX_REVENUE,
    "revenue_pareto": ORACLE_REVENUE_PARETO,
    "customer_reactivation": ORACLE_CUSTOMER_REACTIVATION,
    "session_conversion_latency": ORACLE_SESSION_CONVERSION_LATENCY,
    "brand_two_hop_reach": ORACLE_BRAND_TWO_HOP_REACH,
    "keyword_in_context": ORACLE_KEYWORD_IN_CONTEXT,
    "score_percentile_lookup": ORACLE_SCORE_PERCENTILE_LOOKUP,
    "running_purchase_totals": ORACLE_RUNNING_PURCHASE_TOTALS,
    "late_supplier_profile": ORACLE_LATE_SUPPLIER_PROFILE,
    "rollup_grain_proof": ORACLE_ROLLUP_GRAIN_PROOF,
    "session_bounce_rate": ORACLE_SESSION_BOUNCE_RATE,
}
