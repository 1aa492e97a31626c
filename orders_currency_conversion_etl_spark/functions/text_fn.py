"""Cross-engine-deterministic text primitives.

Everything here obeys one rule: any value that reaches a compared
output must be computable identically in Spark and DuckDB SQL. That
forbids engine-native ``hash()`` (different algorithms) — portable
hashing is md5 (identical hex on both) and lexicographic comparisons
on fixed-width hex prefixes (order-isomorphic to the numeric value).

All functions return Column expressions built from JVM built-ins —
no Python UDFs; these run inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokenization (SURVEY L3). trim first so Spark and
    DuckDB agree on boundary empties."""
    return F.split(F.trim(text), r"\s+")


def token_shingles(toks_col_name: str, k: int = 3) -> Column:
    """Token k-grams joined by a single space (dedup shingling).

    Takes the *name* of an existing array<string> column (define it via
    ``withColumn`` first) so the expression can reference it in SQL."""
    c = toks_col_name
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not an
    # empty array — short docs must short-circuit explicitly.
    # r18 opt: concat_ws over k unrolled element_at lookups instead of
    # concat_ws(slice(...)) — slice allocated a k-element array per
    # shingle position; the unrolled form reads in place. Identical
    # output (concat_ws skips NULLs the same way in both forms; split
    # never yields NULL tokens) and measured 0.25-0.32 -> 0.19-0.21 s
    # for the sf0.1 shingle stage (paired x2). Shingling sits on the
    # hot path of the whole dedup/curation family.
    parts = ", ".join(f"element_at({c}, i + {j})" for j in range(k))
    return F.expr(
        f"CASE WHEN size({c}) < {k} THEN array() "
        f"ELSE transform(sequence(1, size({c}) - {k - 1}), "
        f"i -> concat_ws(' ', {parts})) END"
    )


#: DuckDB twin of ``array_distinct(token_shingles("toks", k=3))``: the
#: distinct 3-token shingles of a ``toks`` list (empty under 3 tokens).
SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), "
    "i -> array_to_string(toks[i:i+2], ' ')))"
)


def hex_to_long_sql(hex_expr: str, width: int = 8) -> str:
    """SQL (valid in BOTH Spark and DuckDB) turning a lowercase hex
    string of ``width`` chars into its integer value, digit by digit —
    neither engine shares a hex-parse builtin, but strpos/substr/
    arithmetic are common ground."""
    terms = []
    for j in range(width):
        coef = 16 ** (width - 1 - j)
        terms.append(
            f"(instr('0123456789abcdef', substr({hex_expr}, {j + 1}, 1)) - 1)"
            f" * CAST({coef} AS BIGINT)"  # BIGINT coefficient: INT*INT overflows under ANSI
        )
    return "(" + " + ".join(terms) + ")"


def hex_to_long_spark_sql(hex_expr: str) -> str:
    """Spark-ONLY fast twin of :func:`hex_to_long_sql`: one ``conv``
    builtin instead of ``width`` instr/substr/multiply chains per value
    (r19 opt, guide §4 expression-level — DuckDB has no ``conv``, so
    oracle strings keep the portable expansion). Value-identical for
    hex inputs up to 15 chars (our widest is 13; 8-char md5 prefixes on
    the per-shingle/per-token hot paths are where this matters —
    measured paired at sf0.1: dedup_minhash_lsh 1.12-1.54 → 0.94-1.22 s).
    Pinned equal to the portable form over real corpus shingles by
    tests/test_opt_r19.py::test_conv_hash_matches_portable_expansion."""
    return f"CAST(conv({hex_expr}, 16, 10) AS BIGINT)"


#: Tiny per-language marker vocabularies for the n-gram/stopword
#: language-ID heuristic (SURVEY L3). The synthetic corpus shares one
#: vocabulary, so markers are drawn from it — the *operator shape*
#: (score per language, argmax with deterministic tie-break) is what a
#: real pipeline reuses with real stopword lists.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "value", "row"),
    "de": ("der", "die", "und", "table"),
    "fr": ("le", "la", "et", "query"),
    "es": ("el", "los", "y", "data"),
    "zh": ("de5", "shi4", "le5", "scan"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in")
