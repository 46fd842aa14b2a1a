"""Text-analysis expressions for the LLM-data-pipeline surface.

North-star operators (BASELINE.json): token counting, quality scoring,
language identification — all as built-in-function expressions (split /
regexp / higher-order array functions) that stay inside whole-stage codegen.
At 100 TB these run embarrassingly parallel over parquet partitions with no
shuffle at all.

Each expression is defined once, as a ``*_sql`` function returning Spark
SQL text: call sites batch it into ``selectExpr``/``F.expr``, so a projection
costs one py4j round trip instead of one per expression node. The Column
forms at the bottom are ``F.expr`` over the same function, so the two can
never drift. Every argument is a column name or SQL fragment (``str``);
backtick-quote names that need it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from statline_bq_spark.sqltext import sql_literal

#: Small deterministic English stopword list used for ratio features.
STOPWORDS = ("the", "a", "of", "and", "to", "in")

_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_fold_sql(col: str) -> str:
    """ASCII-only case fold: [A-Z] → [a-z], every other codepoint untouched.

    Full Unicode case mapping is locale/context-sensitive AND
    engine-divergent — Java (Spark) lowers 'İ' to 'i̇' (i + combining dot)
    and maps a final 'Σ' to 'ς', where utf8proc (DuckDB) gives plain 'i'
    and 'σ', so under full lower() the Turkish 'İN' IS the ASCII stopword
    'in' on one engine and isn't on the other (round-10 locale fixture; it
    falsified the round-6 claim that a non-ASCII token can never fold into
    an ASCII stopword). A reproducible pipeline folds tokens that land in
    compared output, and matches ASCII word lists, with an ASCII fold —
    deterministic on every engine and every locale; translate() is
    per-codepoint in both engines, so the same text is also the DuckDB
    oracles' fold.
    """
    return f"translate({col}, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"


def safe_size_sql(arr: str) -> str:
    """NULL-safe array length: a NULL array is NULL in EVERY session mode.

    Plain ``size`` returns -1 for NULL input when
    ``spark.sql.ansi.enabled`` is false (the legacy ``sizeOfNull``
    behavior every Spark 3.x cluster defaults to) — and the driver owns
    the session, so the engine may not assume either mode. Found by the
    round-9 ANSI-off sweep: 13 queries emitted -1 token/dim counts for
    NULL-text/NULL-embedding rows under a legacy-mode session.

    ``nullif(size(c), -1)``, not ``CASE WHEN c IS NOT NULL THEN size(c)``
    (round 11): both are NULL exactly when ``c`` is NULL in either session
    mode (size never returns -1 for a real array; under ANSI size(NULL) is
    already NULL), but the CASE form put ``c`` in a *conditional* branch,
    which blocks whole-stage-codegen subexpression elimination — every
    ``safe_size(filter(split(...)))`` call site was re-evaluating the
    split and the interpreted filter pass twice per row. With the
    argument in an unconditional position the common subexpressions are
    hoisted and shared: measured 0.50s → 0.33s on a two-feature sf0.1
    token projection, identical outputs.
    """
    return f"nullif(size({arr}), -1)"


def tokens_sql(col: str) -> str:
    """Whitespace tokenization → array<string>. Empty/whitespace text
    yields a single '' token; NULL text yields NULL."""
    return f"split(trim({col}), '\\\\s+')"


def token_count_sql(col: str) -> str:
    """Number of whitespace-delimited tokens (NULL text → NULL)."""
    return safe_size_sql(tokens_sql(col))


def stopword_count_sql(
    toks: str, stopwords: tuple[str, ...] = STOPWORDS
) -> str:
    """Number of elements of the token array ``toks`` that are stopwords
    after :func:`ascii_fold_sql` (NULL array → NULL)."""
    members = ", ".join(sql_literal(s) for s in stopwords)
    return safe_size_sql(
        f"filter({toks}, t -> {ascii_fold_sql('t')} IN ({members}))"
    )


def stopword_ratio_sql(
    col: str, stopwords: tuple[str, ...] = STOPWORDS
) -> str:
    """Fraction of tokens that are stopwords (higher-order ``filter``, no UDF).

    Membership folds case via :func:`ascii_fold_sql`, not full lower():
    the stopword list is ASCII, and full Unicode lowering is
    engine-divergent exactly at the tokens that fold INTO the list ('İN' →
    'in' under utf8proc but 'i̇n' under Java — round-10 locale fixture).

    Consequence for CUSTOM ``stopwords`` (ADVICE r10): because the token
    is ascii-folded before membership, a non-ASCII stopword entry (e.g.
    'über') can never match a cased token ('Über' folds to 'uber', which
    is not in the list). Custom lists must be ASCII, or pre-folded with
    the same fold. Entries are escaped SQL literals, so quotes are safe.
    """
    toks = tokens_sql(col)
    return (
        f"CAST({stopword_count_sql(toks, stopwords)} AS double)"
        f" / CAST({safe_size_sql(toks)} AS double)"
    )


def quality_score_sql(
    col: str, min_tokens: int = 20, max_tokens: int = 1000
) -> str:
    """Composite heuristic quality score in [0, 1].

    0.5 * stopword-ratio signal + 0.5 * length-window signal. The exact
    weights are a placeholder for a trained scorer; the shape (pure column
    expression over per-row features) is the scale-relevant part.
    """
    length_ok = (
        f"CASE WHEN {token_count_sql(col)} BETWEEN {int(min_tokens)}"
        f" AND {int(max_tokens)} THEN 1.0D ELSE 0.0D END"
    )
    return f"0.5D * ({stopword_ratio_sql(col)}) + 0.5D * ({length_ok})"


#: Marker words for the rule-based language-ID heuristic. Deterministic and
#: SQL-expressible — a stand-in for an n-gram model; the per-language marker
#: lists are the tunable surface.
LANG_MARKERS = {
    "de": (" der ", " und ", " die ", " nicht "),
    "es": (" el ", " los ", " una ", " que "),
    "fr": (" le ", " les ", " une ", " est "),
    "nl": (" het ", " een ", " niet ", " van "),
}


def lang_id_sql(col: str, default: str = "en") -> str:
    """Rule-based language ID via marker-word hits.

    First language whose marker list hits wins; ties broken by the fixed
    iteration order of ``LANG_MARKERS``. SQL-expressible (chained CASE), so
    oracle-checkable; swap for a real n-gram scorer behind the same
    signature.
    """
    padded = f"concat(' ', lower({col}), ' ')"
    whens = " ".join(
        "WHEN "
        + " OR ".join(f"contains({padded}, {sql_literal(m)})" for m in markers)
        + f" THEN {sql_literal(lang)}"
        for lang, markers in LANG_MARKERS.items()
    )
    return f"CASE {whens} ELSE {sql_literal(default)} END"


#: BPE-ish pre-tokenization pattern (the GPT-2-style split classes, without
#: lookaheads so the same pattern runs identically on Spark (Java regex) and
#: DuckDB (RE2)): letter runs, digit runs, runs of other non-space symbols.
BPE_SPLIT_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"


def bpe_ish_tokens_sql(col: str) -> str:
    """Subword-ish pre-tokens via regexp_extract_all — the class structure a
    BPE tokenizer splits on before merges. A real tokenizer's merge table
    would run as a Pandas UDF over these; the count is the scale-relevant
    per-row feature (sizing batches, cost estimation)."""
    return f"regexp_extract_all({col}, {sql_literal(BPE_SPLIT_PATTERN)}, 0)"


def bpe_ish_token_count_sql(col: str) -> str:
    """Number of BPE-ish pre-tokens (≥ whitespace token count by design;
    NULL text → NULL in every session mode)."""
    return safe_size_sql(bpe_ish_tokens_sql(col))


def chunk_words(
    df,
    *,
    text_col: str = "text",
    carry_cols: tuple[str, ...] = ("doc_id",),
    width: int = 32,
    overlap: int = 8,
):
    """Fan each row into overlapping ``width``-token windows (step =
    width - overlap) — the training-data chunker as pure JVM expressions:
    ``posexplode(sequence)`` over the start offsets + ``slice``/``array_join``
    to materialize each window. No Python in the loop; chunking 100 TB is a
    narrow map with zero shuffle.

    Returns ``carry_cols`` + (chunk_idx, chunk, n_tokens). Empty/whitespace
    text yields one single-''-token chunk (the split(trim, '\\s+')
    convention); NULL text yields NO chunks — without the filter,
    ``greatest(NULL - overlap, 1)`` silently coerces to 1 (greatest skips
    NULLs) and fabricates one chunk with a NULL body and n_tokens = width.
    """
    if not 0 <= overlap < width:
        raise ValueError("need 0 <= overlap < width")
    step = width - overlap
    # (SQL-text construction, round 12 driver-floor batching: identical
    # sequence/posexplode/slice trees, one py4j round trip per projection)
    toks = tokens_sql(f"`{text_col}`")
    carry = [f"`{c}`" for c in carry_cols]
    base = df.filter(f"`{text_col}` IS NOT NULL").selectExpr(
        *carry, f"{toks} AS __words", f"size({toks}) AS __n"
    )
    starts = (
        f"sequence(0, greatest(__n - {int(overlap)}, 1) - 1, {int(step)})"
    )
    exploded = base.selectExpr(
        *carry, "__words", "__n", f"posexplode({starts}) AS (chunk_idx, __s)"
    )
    chunk_len = f"least(__s + {int(width)}, __n) - __s"
    return exploded.selectExpr(
        *carry,
        "CAST(chunk_idx AS int) AS chunk_idx",
        f"array_join(slice(__words, __s + 1, {chunk_len}), ' ') AS chunk",
        f"CAST({chunk_len} AS int) AS n_tokens",
    )


#: Unicode script ranges for character-class ratio features. The ranges are
#: written as LITERAL characters (not \\u escapes) so the same pattern text
#: is valid in both Java regex (Spark) and RE2 (DuckDB oracle) — the two
#: engines' escape syntaxes differ (\\uXXXX vs \\x{XXXX}), literals don't.
#: BMP-only ranges, so code-unit vs codepoint length semantics agree too.
SCRIPT_RANGES = {
    "latin": "A-Za-zÀ-ɏ",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "arabic": "؀-ۿ",
    "cjk": "一-鿿぀-ヿ가-힯",
    "digit": "0-9",
}


def script_char_count_sql(col: str, script: str) -> str:
    """Number of characters of ``script`` (a SCRIPT_RANGES key) in the text:
    strip everything outside the range, count what's left. Pure JVM regexp —
    no shuffle, no Python."""
    return f"length(regexp_replace({col}, '[^{SCRIPT_RANGES[script]}]', ''))"


def dominant_script_sql(col: str) -> str:
    """The script with the most characters (fixed SCRIPT_RANGES iteration
    order breaks ties; 'none' when the text has no script characters at
    all). Integer comparisons only — deterministic in any engine."""
    scripts = [s for s in SCRIPT_RANGES if s != "digit"]
    best = (
        "greatest("
        + ", ".join(script_char_count_sql(col, s) for s in scripts)
        + ")"
    )
    whens = " ".join(
        f"WHEN ({script_char_count_sql(col, s)} = {best})"
        f" AND ({best} > 0) THEN '{s}'"
        for s in scripts
    )
    return f"CASE {whens} ELSE 'none' END"


# -- Column forms: one parsed expression each -------------------------------


def ascii_fold(col: str) -> Column:
    return F.expr(ascii_fold_sql(col))


def safe_size(arr: str) -> Column:
    return F.expr(safe_size_sql(arr))


def tokens(col: str) -> Column:
    return F.expr(tokens_sql(col))


def token_count(col: str) -> Column:
    return F.expr(token_count_sql(col))


def stopword_ratio(col: str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    return F.expr(stopword_ratio_sql(col, stopwords))


def quality_score(col: str, min_tokens: int = 20, max_tokens: int = 1000) -> Column:
    return F.expr(quality_score_sql(col, min_tokens, max_tokens))


def lang_id(col: str, default: str = "en") -> Column:
    return F.expr(lang_id_sql(col, default))


def bpe_ish_tokens(col: str) -> Column:
    return F.expr(bpe_ish_tokens_sql(col))


def bpe_ish_token_count(col: str) -> Column:
    return F.expr(bpe_ish_token_count_sql(col))


def script_char_count(col: str, script: str) -> Column:
    return F.expr(script_char_count_sql(col, script))


def dominant_script(col: str) -> Column:
    return F.expr(dominant_script_sql(col))
