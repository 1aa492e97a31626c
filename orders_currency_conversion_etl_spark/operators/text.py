"""Text-analysis operators over the ``documents`` table (SURVEY L3).

Language-ID, quality scoring, token counting, and document
fingerprinting — all pure column expressions (whole-stage codegen, no
Python per row), each with a DuckDB oracle. At 100 TB these are
embarrassingly parallel map operations: no shuffle except the final
per-language aggregation, which reduces to ~5 groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text_fn import LANG_MARKERS, SHINGLES_SQL, STOPWORDS
from ..plans.registry import query
from ..sources import catalog


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load_table(spark, sf_dir, "documents")


def with_tokens(docs: DataFrame) -> DataFrame:
    return docs.withColumn("toks", F.split(F.trim(F.col("text")), r"\s+"))


# --------------------------------------------------------------------------
# Token counting + quality scoring
# --------------------------------------------------------------------------

_TOKEN_STATS_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, lang, source, string_split_regex(trim(text), '\s+') AS toks, text
    FROM documents
)
SELECT doc_id,
       lang,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_uniq_tokens,
       length(text) AS n_chars_measured,
       len(list_filter(toks, t -> list_contains({list(STOPWORDS)!r}, t))) AS n_stopwords,
       CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS avg_token_len
FROM tok
"""


@query("text_token_stats", _TOKEN_STATS_ORACLE)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + stopword density + mean token length (L3)."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    d = with_tokens(_docs(spark, sf_dir))
    return d.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_uniq_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))).alias("n_stopwords"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size("toks")
        ).alias("avg_token_len"),
    )


#: DuckDB twin of :func:`quality_score_col`.
QUALITY_SCORE_SQL = rf"""(
    CAST(0.4 AS DOUBLE) * least(CAST(len(toks) AS DOUBLE) / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
  + CAST(0.3 AS DOUBLE) * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
  + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(len(list_filter(toks, t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE) / len(toks))
)"""

_QUALITY_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks, text
    FROM documents
)
SELECT doc_id, CAST({QUALITY_SCORE_SQL} AS DOUBLE) AS quality_score
FROM tok
"""


def quality_score_col() -> F.Column:
    """The quality heuristic as a reusable expression over a ``toks``
    column (length saturation + lexical diversity + stopword penalty).
    Shared by text_quality_score and the composed curation pipeline so
    both stay bit-identical with the oracle's formula."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n = F.size("toks").cast("double")
    uniq = F.size(F.array_distinct("toks")).cast("double")
    stops = F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))).cast("double")
    return (
        F.lit(0.4) * F.least(n / F.lit(200.0), F.lit(1.0))
        + F.lit(0.3) * (uniq / n)
        + F.lit(0.3) * (F.lit(1.0) - stops / n)
    )


@query("text_quality_score", _QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length saturation + lexical diversity +
    stopword penalty (weights arbitrary but fixed). Mirrors the shape
    of C4/Gopher-style quality filters."""
    d = with_tokens(_docs(spark, sf_dir))
    return d.select("doc_id", quality_score_col().alias("quality_score"))


# --------------------------------------------------------------------------
# Language-ID heuristic
# --------------------------------------------------------------------------


def _lang_scores_sql() -> str:
    cols = []
    for lang, markers in LANG_MARKERS.items():
        lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        cols.append(
            f"CAST(len(list_filter(toks, t -> list_contains({lst}, t))) AS DOUBLE)"
            f" / len(toks) AS score_{lang}"
        )
    return ",\n       ".join(cols)


_LANG_ID_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents
), scored AS (
    SELECT doc_id, lang,
       {_lang_scores_sql()}
    FROM tok
)
SELECT doc_id, lang AS lang_actual,
       CASE GREATEST(score_en, score_de, score_fr, score_es, score_zh)
            WHEN score_de THEN 'de'
            WHEN score_en THEN 'en'
            WHEN score_es THEN 'es'
            WHEN score_fr THEN 'fr'
            WHEN score_zh THEN 'zh'
       END AS lang_pred,
       GREATEST(score_en, score_de, score_fr, score_es, score_zh) AS lang_confidence
FROM scored
"""


@query("text_lang_id", _LANG_ID_ORACLE)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: per-language marker density, argmax
    with a deterministic alphabetical tie-break (the CASE tests
    languages in a fixed order, so equal scores resolve identically on
    both engines)."""
    d = with_tokens(_docs(spark, sf_dir))

    def _contains(arr):
        # a closure factory, NOT a default arg — PySpark introspects the
        # lambda's arity and a default parameter miscounts as two lambda
        # variables.
        return lambda t: F.array_contains(arr, t)

    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        d = d.withColumn(
            f"score_{lang}",
            F.size(F.filter("toks", _contains(arr))).cast("double") / F.size("toks"),
        )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = (
        F.when(best == F.col("score_de"), "de")
        .when(best == F.col("score_en"), "en")
        .when(best == F.col("score_es"), "es")
        .when(best == F.col("score_fr"), "fr")
        .otherwise("zh")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        pred.alias("lang_pred"),
        best.alias("lang_confidence"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting
# --------------------------------------------------------------------------

_FINGERPRINT_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents
)
SELECT doc_id,
       md5(text) AS content_md5,
       list_min(list_transform(toks, t -> substr(md5(t), 1, 8))) AS min_token_hash,
       list_max(list_transform(toks, t -> substr(md5(t), 1, 8))) AS max_token_hash
FROM tok
"""


@query("text_fingerprint", _FINGERPRINT_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: exact md5 plus min/max token-hash sketch (a
    1-permutation MinHash — the general k-permutation version lives in
    operators/dedup.py). md5 hex is byte-identical across engines."""
    d = with_tokens(_docs(spark, sf_dir))
    tok_hashes = F.transform("toks", lambda t: F.substring(F.md5(t), 1, 8))
    return d.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.array_min(tok_hashes).alias("min_token_hash"),
        F.array_max(tok_hashes).alias("max_token_hash"),
    )


# --------------------------------------------------------------------------
# BPE-ish regex token counting
# --------------------------------------------------------------------------

#: GPT-2-style pre-tokenizer, simplified to the subset whose semantics
#: are identical in Java regex (Spark) and RE2 (DuckDB): contraction
#: suffixes, space-prefixed letter runs, digit runs, punctuation runs.
BPE_PATTERN = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"

_BPE_ORACLE = rf"""
SELECT doc_id,
       len(regexp_extract_all(text, $${BPE_PATTERN}$$)) AS n_bpe_tokens,
       len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
       CAST(length(text) AS DOUBLE)
           / len(regexp_extract_all(text, $${BPE_PATTERN}$$)) AS chars_per_bpe_token
FROM documents
"""


@query("text_bpe_token_count", _BPE_ORACLE)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, tokenizer-shaped: a BPE-style pre-tokenizer
    regex next to the whitespace count. chars/token is the standard
    cheap proxy for LLM token cost of a corpus. Pure codegen — the
    regex runs JVM-side, no Python."""
    d = _docs(spark, sf_dir)
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), F.lit(0)))
    return d.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_ws_tokens"),
        F.try_divide(F.length("text").cast("double"), n_bpe).alias("chars_per_bpe_token"),
    )


# --------------------------------------------------------------------------
# Document chunking (training-window preparation)
# --------------------------------------------------------------------------

CHUNK_TOKENS = 50
CHUNK_STRIDE = 40  # 10-token overlap between consecutive chunks


def chunk_windows(d: DataFrame) -> DataFrame:
    """Sliding-window chunks (doc_id, chunk_idx, chunk_text, chunk_len)
    of a frame with ``doc_id`` and ``toks``: CHUNK_TOKENS-token windows
    every CHUNK_STRIDE tokens, at least one chunk per document."""
    n_chunks = F.ceil(
        F.greatest(F.size("toks") - F.lit(CHUNK_TOKENS - CHUNK_STRIDE), F.lit(1))
        / F.lit(float(CHUNK_STRIDE))
    ).cast("int")
    chunks = d.select(
        "doc_id",
        "toks",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("_i", "chunk_idx"),
    )
    piece = F.slice("toks", F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("chunk_len"),
    )


def chunk_windows_sql(src: str) -> str:
    """DuckDB twin of :func:`chunk_windows`: a SELECT over the relation
    ``src`` of (doc_id, toks)."""
    piece = f"toks[ci*{CHUNK_STRIDE} + 1 : ci*{CHUNK_STRIDE} + {CHUNK_TOKENS}]"
    return f"""SELECT doc_id,
       CAST(ci AS INT) AS chunk_idx,
       array_to_string({piece}, ' ') AS chunk_text,
       CAST(len({piece}) AS INT) AS chunk_len
FROM {src},
     unnest(range(0, CAST(ceil(greatest(len(toks) - {CHUNK_TOKENS - CHUNK_STRIDE}, 1) / {CHUNK_STRIDE}.0) AS BIGINT))) AS u(ci)
"""


_CHUNK_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
)
""" + chunk_windows_sql("tok")


@query("text_chunk_documents", _CHUNK_ORACLE)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: 50-token windows every 40 tokens (10
    overlap) — the 1-row → N-chunks reshape every pretraining pipeline
    runs before tokenization. Executor-side explode, no shuffle; chunk
    count scales with corpus tokens, not document count."""
    return chunk_windows(with_tokens(_docs(spark, sf_dir)))


# --------------------------------------------------------------------------
# Benchmark decontamination (blocklist n-gram overlap)
# --------------------------------------------------------------------------

#: "benchmark" 3-grams that must not leak into training data — fixed
#: literals on both engines (drawn from the shared synthetic vocabulary
#: so some documents actually hit).
CONTAMINATION_BLOCKLIST = (
    "scan scan fast",
    "window merge spark",
    "filter column order",
    "the table scan",
)

_DECONTAM_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sh AS (
    SELECT doc_id, {SHINGLES_SQL} AS shingles FROM tok
)
SELECT doc_id,
       CAST(len(list_intersect(shingles, {list(CONTAMINATION_BLOCKLIST)!r})) AS INT) AS n_blocked,
       len(list_intersect(shingles, {list(CONTAMINATION_BLOCKLIST)!r})) > 0 AS contaminated
FROM sh
"""


@query("text_decontaminate", _DECONTAM_ORACLE)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any 3-gram
    with the blocklist. At 100 TB the blocklist (eval sets, ~millions
    of shingles) broadcasts or becomes a bloom filter pushed into the
    scan; the per-doc check stays a map-side set intersection."""
    from ..functions.text_fn import token_shingles

    d = with_tokens(_docs(spark, sf_dir)).withColumn(
        "shingles", F.array_distinct(token_shingles("toks", k=3))
    )
    blocked = F.array(*[F.lit(s) for s in CONTAMINATION_BLOCKLIST])
    n_blocked = F.size(F.array_intersect("shingles", blocked))
    return d.select(
        "doc_id",
        n_blocked.alias("n_blocked"),
        (n_blocked > 0).alias("contaminated"),
    )


# --------------------------------------------------------------------------
# Corpus-level rollup
# --------------------------------------------------------------------------

_CORPUS_ORACLE = r"""
WITH tok AS (
    SELECT lang, source, string_split_regex(trim(text), '\s+') AS toks FROM documents
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       SUM(len(toks)) AS total_tokens,
       CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avg_tokens_per_doc
FROM tok
GROUP BY lang, source
"""


@query("text_corpus_stats", _CORPUS_ORACLE)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_tokens(_docs(spark, sf_dir))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("total_tokens"),
        (F.sum(F.size("toks")).cast("double") / F.count(F.lit(1))).alias("avg_tokens_per_doc"),
    )


# --------------------------------------------------------------------------
# Repetition filter (Gopher-style duplicate-n-gram fraction)
# --------------------------------------------------------------------------

_REPETITION_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), tri AS (
    SELECT doc_id,
           CASE WHEN len(toks) >= 3 THEN
               list_transform(generate_series(1, len(toks) - 2),
                              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
           ELSE [] END AS trigrams
    FROM tok
)
SELECT doc_id,
       len(trigrams) AS n_trigrams,
       CASE WHEN len(trigrams) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(len(trigrams) - len(list_distinct(trigrams)) AS DOUBLE)
                 / len(trigrams) END AS dup_trigram_frac,
       (CASE WHEN len(trigrams) = 0 THEN CAST(0.0 AS DOUBLE)
             ELSE CAST(len(trigrams) - len(list_distinct(trigrams)) AS DOUBLE)
                  / len(trigrams) END) <= 0.5 AS keep_doc
FROM tri
"""


@query("text_repetition_filter", _REPETITION_ORACLE)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: fraction of word trigrams that
    are duplicates within the document; heavily repetitive docs
    (boilerplate, keyword stuffing, generation loops) are flagged.

    Implementation is pure higher-order functions — transform over an
    index sequence builds the trigram list in place, no explode, no
    shuffle: per-row embarrassingly parallel, which is exactly what a
    100 TB curation pass needs (the alternative explode→groupBy
    formulation shuffles |tokens| rows per doc).

    The sequence is guarded for <3-token docs because Spark's
    sequence(0, n) generates a DESCENDING range when n < 0 rather
    than an empty one.
    """
    d = with_tokens(_docs(spark, sf_dir))
    tri = F.when(
        F.size("toks") >= 3,
        F.expr(
            "transform(sequence(0, size(toks) - 3),"
            " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = d.withColumn("trigrams", tri)
    n = F.size("trigrams")
    frac = F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct("trigrams"))).cast("double") / n
    )
    return d.select(
        "doc_id",
        n.alias("n_trigrams"),
        frac.alias("dup_trigram_frac"),
        (frac <= 0.5).alias("keep_doc"),
    )


# --------------------------------------------------------------------------
# PII redaction (regex scrub; cross-engine regex parity)
# --------------------------------------------------------------------------

_PII_ORACLE = r"""
WITH synth AS (
    -- fixture text is clean word-salad, so PII is synthesized
    -- deterministically from doc_id to exercise the scrubber
    SELECT doc_id,
           'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' re: ' || text AS text
    FROM documents
)
SELECT doc_id,
       regexp_replace(
           regexp_replace(text, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+', '<EMAIL>', 'g'),
           '\+?[0-9]+(-[0-9]+)+', '<PHONE>', 'g') AS redacted,
       len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+')) AS n_emails,
       len(regexp_extract_all(text, '\+?[0-9]+(-[0-9]+)+')) AS n_phones
FROM synth
"""


@query("text_redact_pii", _PII_ORACLE)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: replace emails and dashed phone numbers with
    typed placeholder tokens and count the redactions per doc.

    The fixture corpus is synthetic word-salad with no PII, so the
    query plants deterministic doc_id-derived email/phone strings
    first — the scrub itself is the operator under test. Patterns stay
    in the Java-regex ∩ RE2 common subset so Spark and DuckDB agree.
    Per-row regexp_replace, no shuffle; at 100 TB this runs at scan
    speed inside whole-stage codegen.
    """
    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" re: "),
            F.col("text"),
        ),
    )
    email = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+"
    phone = r"\+?[0-9]+(-[0-9]+)+"
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(email), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(phone), F.lit(0))).alias("n_phones"),
    )


# --------------------------------------------------------------------------
# Sequence packing: greedy token-budget bins for training batches
# --------------------------------------------------------------------------

PACK_CAPACITY = 2048

_PACK_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, source, len(string_split_regex(trim(text), '\s+')) AS n_tokens
    FROM documents
), run AS (
    SELECT doc_id, source, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens AS tokens_before
    FROM tok
)
SELECT doc_id, source, n_tokens,
       CAST(floor(tokens_before / {PACK_CAPACITY}.0) AS BIGINT) AS bin_id,
       tokens_before % {PACK_CAPACITY} AS bin_offset
FROM run
"""


@query("pack_sequences_greedy", _PACK_ORACLE)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents to fixed-capacity token bins (sequence packing
    for training batches): within each source, docs are laid end-to-end
    in doc_id order and a doc's bin is where its first token lands.

    Deterministic and single-pass: one running-sum window per source
    partition — the same shuffle a sort by (source, doc_id) needs
    anyway, so packing is free at scale. The offset column lets a
    loader place each doc inside its bin without recomputing anything.
    (True bin-*optimal* packing is NP-hard and order-dependent;
    greedy-by-key is the reproducible variant a distributed pipeline
    wants.)
    """
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = d.withColumn("tokens_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return run.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("tokens_before") / float(PACK_CAPACITY)).cast("bigint").alias("bin_id"),
        (F.col("tokens_before") % PACK_CAPACITY).alias("bin_offset"),
    )


# --------------------------------------------------------------------------
# Corpus vocabulary: the classic wordcount, top-k
# --------------------------------------------------------------------------

_WORDCOUNT_ORACLE = r"""
WITH tok AS (
    SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents
),
t AS (
    SELECT lower(unnest(toks)) AS token FROM tok
)
SELECT token, COUNT(*) AS n
FROM t
GROUP BY token
ORDER BY n DESC, token
LIMIT 50
"""


@query("wordcount_topk", _WORDCOUNT_ORACLE)
def wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: explode → count → top-50 (deterministic
    via the token tiebreak).

    The explode multiplies rows by tokens-per-doc, but the count
    partial-aggregates map-side before the single shuffle, and the
    top-50 compiles to TakeOrderedAndProject — at 100 TB the shuffle
    carries |vocabulary| rows, not |corpus tokens|.
    """
    d = with_tokens(_docs(spark, sf_dir))
    return (
        d.select(F.explode("toks").alias("raw"))
        .select(F.lower(F.col("raw")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per source (source = one mega-document)
# --------------------------------------------------------------------------

_TFIDF_ORACLE = r"""
WITH tok AS (
    SELECT source, lower(unnest(string_split_regex(trim(text), '\s+'))) AS term
    FROM documents
),
tf AS (
    SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
),
idf AS (
    SELECT term, COUNT(DISTINCT source) AS df FROM tok GROUP BY 1
),
ns AS (
    SELECT COUNT(DISTINCT source) AS n FROM documents
),
scored AS (
    SELECT tf.source, tf.term, tf.tf, idf.df,
           tf.tf * ln(CAST((SELECT n FROM ns) AS DOUBLE) / idf.df) AS tfidf
    FROM tf JOIN idf ON tf.term = idf.term
)
SELECT source, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(tfidf AS DECIMAL(18,6)) AS tfidf,
       CAST(rn AS INT) AS rn
FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY tfidf DESC, term) AS rn
    FROM scored
) WHERE rn <= 10
"""


@query("tfidf_top_terms_per_source", _TFIDF_ORACLE)
def tfidf_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-TF-IDF terms per source, treating each source as one
    aggregate document — the standard "what characterizes this slice
    of the corpus" diagnostic.

    Two aggs over the exploded token stream (term-frequency and
    document-frequency) share one explode; both partial-aggregate
    map-side, so the shuffles carry vocabulary-sized data. The top-10
    is a ranking window over |vocab × sources| rows.
    """
    tok = (
        with_tokens(_docs(spark, sf_dir))
        .select("source", F.explode("toks").alias("raw"))
        .select("source", F.lower(F.col("raw")).alias("term"))
    )
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    # r18 opt: df derived from tf instead of a second COUNT(DISTINCT
    # source) pass over the exploded token stream — tf is keyed
    # (source, term), so its count of non-NULL sources per term IS
    # COUNT(DISTINCT source), which ignores NULL like the oracle does.
    # A term seen only under a NULL source gets df = 0 and a NULL
    # tfidf, as in DuckDB (try_divide: no ANSI divide-by-zero error).
    # Row-identical (documents with NULL/empty text still tokenize to
    # one '' token on both engines, so every source survives into tf).
    # What this buys (r19 correction of the r18 note): the df
    # aggregation's INPUT shrinks from |corpus tokens| to
    # |sources x vocab| rows and the distinct-expand disappears — but
    # Catalyst still re-plans the tf subtree under the df branch, so
    # the corpus IS scanned/tokenized twice (two FileScans in the
    # committed plan, zero ReusedExchange: the two aggregates carry
    # different payloads and cannot unify). Persisting tf to make the
    # claim literal was A/B'd r19 and is locally SLOWER (1.08 → 1.27 s
    # paired at sf0.1: materializing the |sources x vocab| cache costs
    # more than the 5k-doc rescan) — at 100 TB, where the rescan is
    # corpus-scale, persist/write-then-read tf is the right call.
    idf = tf.groupBy("term").agg(F.count("source").alias("df"))
    n_sources = _docs(spark, sf_dir).select("source").dropna().distinct().count()
    scored = tf.join(idf, "term").withColumn(
        "tfidf", F.col("tf") * F.log(F.try_divide(F.lit(float(n_sources)), F.col("df")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            "source",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.col("tfidf").cast("decimal(18,6)").alias("tfidf"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


# --------------------------------------------------------------------------
# Positional explode: leading tokens with ordinals
# --------------------------------------------------------------------------

_POSEXPLODE_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
)
SELECT doc_id, CAST(u.i AS INT) AS pos, toks[u.i] AS token
FROM tok, unnest(generate_series(1, least(3, len(toks)))) AS u(i)
"""


@query("posexplode_leading_tokens", _POSEXPLODE_ORACLE)
def posexplode_leading_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First three tokens of every document with their 1-based ordinal
    — ``posexplode`` over a bounded ``slice``, so the row expansion is
    capped at 3× regardless of document length."""
    d = with_tokens(_docs(spark, sf_dir))
    return d.select(
        "doc_id", F.posexplode(F.slice("toks", 1, 3)).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "token")


# --------------------------------------------------------------------------
# Pairwise source similarity: Jaccard over source vocabularies
# --------------------------------------------------------------------------

_SOURCE_JACCARD_ORACLE = r"""
WITH vocab AS (
    SELECT DISTINCT source,
           lower(unnest(string_split_regex(trim(text), '\s+'))) AS term
    FROM documents
),
sizes AS (
    SELECT source, COUNT(*) AS n_terms FROM vocab GROUP BY 1
),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
    FROM vocab a JOIN vocab b
      ON a.term = b.term AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_common,
       sa.n_terms AS n_terms_a, sb.n_terms AS n_terms_b,
       CAST(CAST(i.n_common AS DOUBLE)
            / (sa.n_terms + sb.n_terms - i.n_common) AS DECIMAL(18,8)) AS jaccard
FROM inter i
JOIN sizes sa ON i.source_a = sa.source
JOIN sizes sb ON i.source_b = sb.source
"""


@query("source_vocab_jaccard", _SOURCE_JACCARD_ORACLE)
def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-slice similarity: Jaccard overlap between each pair of
    source vocabularies — the diagnostic behind "are these two crawls
    the same content".

    The pair join runs on the deduplicated (source, term) vocabulary,
    not raw tokens, so the shuffle carries |vocab| rows and the join
    explodes only on terms shared across sources. Counts are exact
    integers; only the final ratio is a double, pinned to DECIMAL.
    """
    vocab = (
        with_tokens(_docs(spark, sf_dir))
        .select("source", F.explode("toks").alias("raw"))
        .select("source", F.lower(F.col("raw")).alias("term"))
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n_terms"))
    b = vocab.select(
        F.col("source").alias("source_b"), F.col("term").alias("term_b")
    )
    inter = (
        vocab.join(
            b,
            (F.col("term") == F.col("term_b"))
            & (F.col("source") < F.col("source_b")),
        )
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_terms").alias("n_terms_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_terms").alias("n_terms_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_terms_a",
            "n_terms_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_terms_a") + F.col("n_terms_b") - F.col("n_common"))
            )
            .cast("decimal(18,8)")
            .alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Unigram-LM perplexity proxy (CCNet/Gopher-style quality signal)
# --------------------------------------------------------------------------

_UNIGRAM_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), ex AS (
    SELECT doc_id, unnest(toks) AS t FROM tok
), tc AS (
    SELECT t, COUNT(*) AS cnt FROM ex GROUP BY t
), tot AS (
    SELECT SUM(cnt) AS n FROM tc
), lp AS (
    SELECT t,
           CAST(-ln(CAST(cnt AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE))
                AS DECIMAL(30,9)) AS nll
    FROM tc
), doc AS (
    SELECT e.doc_id, SUM(lp.nll) AS sum_nll, COUNT(*) AS n_tokens
    FROM ex e JOIN lp ON e.t = lp.t
    GROUP BY e.doc_id
)
SELECT doc_id,
       n_tokens,
       sum_nll,
       CAST(sum_nll AS DOUBLE) / n_tokens AS avg_token_nll
FROM doc
"""


@query("text_unigram_logprob", _UNIGRAM_ORACLE)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's
    own unigram LM — the perplexity-proxy quality signal (CCNet/Gopher
    filter pipelines score documents with a KenLM model; the in-repo
    stand-in is the corpus unigram distribution, which exercises the
    identical two-pass plan shape).

    Shape: pass 1 builds the global token distribution (explode →
    count per token, one shuffle; the 1-row total crossJoins in as a
    broadcast scalar). Pass 2 re-joins token probabilities to the
    exploded corpus (vocabulary ≪ corpus, so the probability table
    BROADCASTS — at 100 TB a few million distinct tokens is tens of
    MB) and aggregates per doc_id. Tokenization runs twice by design:
    persisting the exploded corpus would cost far more storage than
    the recompute at scale.

    Parity: JVM Math.log and libm ln differ by up to 1 ulp (~1e-15
    abs here), so each token's -ln(p) is rounded at DECIMAL(30,9) on
    BOTH engines — six orders of magnitude beyond the ulp noise, so
    the rounding is tie-free — before the exact order-free per-doc
    SUM; the avg divides the boundary-cast double by the bigint count.
    """
    d = with_tokens(_docs(spark, sf_dir))
    ex = d.select("doc_id", F.explode("toks").alias("t"))
    tc = ex.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    tot = tc.agg(F.sum("cnt").alias("n"))
    lp = tc.crossJoin(F.broadcast(tot)).select(
        "t",
        (-F.log(F.col("cnt").cast("double") / F.col("n").cast("double")))
        .cast("decimal(30,9)")
        .alias("nll"),
    )
    doc = ex.join(F.broadcast(lp), "t").groupBy("doc_id").agg(
        F.sum("nll").alias("sum_nll"), F.count(F.lit(1)).alias("n_tokens")
    )
    return doc.select(
        "doc_id",
        "n_tokens",
        "sum_nll",
        (F.col("sum_nll").cast("double") / F.col("n_tokens")).alias("avg_token_nll"),
    )


# --------------------------------------------------------------------------
# Vocabulary build + token-id encoding (the tokenize->ids training step)
# --------------------------------------------------------------------------

VOCAB_K = 256   # vocabulary size (top-K tokens by corpus frequency)
LEAD_N = 8      # leading tokens encoded per document

_VOCAB_ENCODE_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), tok AS (
    SELECT unnest(toks) AS token FROM toks
), vocab AS (
    SELECT token, token_id FROM (
        SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS token_id
        FROM tok GROUP BY token
    ) WHERE token_id <= {VOCAB_K}
), lead AS (
    SELECT doc_id, u.pos AS pos, u.token AS token FROM (
        SELECT doc_id,
               unnest(list_transform(toks[1:{LEAD_N}],
                                     (x, i) -> {{'token': x, 'pos': i}})) AS u
        FROM toks
    )
)
SELECT l.doc_id,
       list(COALESCE(v.token_id, 0) ORDER BY l.pos) AS token_ids,
       COUNT(*) AS n_lead_tokens,
       SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS n_oov
FROM lead l LEFT JOIN vocab v ON v.token = l.token
GROUP BY l.doc_id
"""


@query("text_vocab_encode", _VOCAB_ENCODE_ORACLE)
def text_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a frequency-ranked vocabulary over the corpus and encode
    each document's leading tokens as integer ids (0 = OOV) — the
    tokenize-into-ids step every LM data pipeline runs before packing.

    Vocabulary ids are 1..VOCAB_K by (count DESC, token ASC): fully
    deterministic, no dictionary-order dependence on partitioning. The
    top-K selection is orderBy+limit — Catalyst compiles it to
    TakeOrderedAndProject (per-partition heaps of K, no global sort of
    the distinct-token table), and the subsequent rank assignment
    windows over only K rows. Encoding is a broadcast join of that
    K-row vocabulary onto the exploded leading tokens, then an
    order-restoring array_sort(collect_list(struct(pos,...))) — the
    standard Spark idiom for order-preserving re-assembly, since
    collect_list alone has no ordering contract.

    At 100 TB: the counting pass is explode -> map-side partial count
    (same shape as wordcount_topk); the vocabulary is O(K) and
    broadcast; encoding is embarrassingly parallel with no shuffle
    wider than the per-doc regroup. A real BPE/byte-level tokenizer
    slots in by replacing the whitespace split — the id-assignment and
    encode plumbing is tokenizer-agnostic.
    """
    docs = _docs(spark, sf_dir)
    toks = with_tokens(docs).select("doc_id", "toks")
    counts = (
        toks.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    topk = counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(VOCAB_K)
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    vocab = topk.withColumn("token_id", F.row_number().over(w_rank)).select(
        "token", "token_id"
    )
    lead = toks.select(
        "doc_id", F.posexplode(F.slice("toks", 1, LEAD_N)).alias("pos", "token")
    )
    return (
        lead.join(F.broadcast(vocab), "token", "left")
        .withColumn("tid", F.coalesce(F.col("token_id"), F.lit(0)))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda x: x.tid
            ).alias("token_ids"),
            F.count(F.lit(1)).alias("n_lead_tokens"),
            F.sum(F.when(F.col("token_id").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
