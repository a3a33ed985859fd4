"""Text-analysis operators over ``documents`` (SURVEY §2.9 X4).

The LLM-pipeline text battery: language stats, corpus word counts,
per-document token statistics, heuristic language ID, quality scoring,
and canonical fingerprints. Everything is built-in column expressions
(split / explode / higher-order functions) — the JVM-side fast path.

Scale notes (100 TB):
* word counting is explode → partial+final hash agg (map-side combine
  collapses the per-partition vocabulary before the shuffle);
* per-document stats never explode — higher-order array functions keep
  them row-local with zero shuffle;
* top-k is TakeOrderedAndProject, not a global sort.

Floating-point discipline: per-row double division of exact integers is
IEEE-deterministic; nothing aggregates computed doubles (sums stay on
ints), so every query here is exact-hash oracle-verifiable.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import Tables
from ..registry import register
from ._helpers import materialize, ngrams, spread

#: tiny stopword list used by quality scoring + language ID (the
#: documents fixture is synthetic word soup, so this is an operator
#: demonstration, not a linguistics claim).
_STOPWORDS = ("the", "a", "of", "and", "to", "in")


@register(
    "text_lang_stats",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
               COUNT(DISTINCT source) AS n_sources
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    doc="X4: per-language corpus stats (the lang-filtering axis of a training pipeline).",
    tags=("text", "llm"),
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.documents.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


@register(
    "text_wordcount_topk",
    oracle="""
        SELECT w AS word, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
        ORDER BY n DESC, w
        LIMIT 20
    """,
    doc=(
        "X4: corpus word count, top 20 — explode + hash agg with map-side "
        "combine, then TakeOrderedAndProject (never a global sort)."
    ),
    tags=("text", "llm", "topk"),
)
def text_wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


@register(
    "text_token_stats_per_doc",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_unique,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS type_token_ratio,
               CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT)
                 AS total_token_chars,
               CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS avg_token_len
        FROM documents WHERE doc_id <= 200
    """,
    doc=(
        "X4: per-document token statistics — whitespace tokenizer, all "
        "row-local higher-order functions (zero shuffle). Token counting "
        "is the unit-economics primitive of an LLM data pipeline."
    ),
    tags=("text", "llm", "tokens"),
)
def text_token_stats_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    total_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda acc, x: acc + x
    )
    return t.documents.filter(F.col("doc_id") <= 200).select(
        "doc_id",
        F.size(words).alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_unique"),
        (F.size(F.array_distinct(words)).cast("double") / F.size(words)).alias(
            "type_token_ratio"
        ),
        total_chars.cast("bigint").alias("total_token_chars"),
        (total_chars.cast("double") / F.size(words)).alias("avg_token_len"),
    )


@register(
    "text_langid_heuristic",
    oracle="""
        SELECT doc_id, lang AS labeled_lang,
               CASE WHEN list_contains(string_split(text, ' '), 'the')
                      OR list_contains(string_split(text, ' '), 'a') THEN 'en'
                    WHEN list_contains(string_split(text, ' '), 'le')
                      OR list_contains(string_split(text, ' '), 'de') THEN 'fr'
                    WHEN list_contains(string_split(text, ' '), 'el')
                      OR list_contains(string_split(text, ' '), 'la') THEN 'es'
                    ELSE 'und' END AS guessed_lang
        FROM documents WHERE doc_id <= 200
    """,
    doc=(
        "X4: n-gram/stopword language-ID heuristic as a deterministic "
        "CASE cascade over token membership (the real-world version swaps "
        "in character-n-gram frequency profiles; the operator shape — "
        "row-local array membership, no shuffle — is identical)."
    ),
    tags=("text", "llm", "langid"),
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    has = lambda w: F.array_contains(words, w)  # noqa: E731
    return t.documents.filter(F.col("doc_id") <= 200).select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(has("the") | has("a"), "en")
        .when(has("le") | has("de"), "fr")
        .when(has("el") | has("la"), "es")
        .otherwise("und")
        .alias("guessed_lang"),
    )


@register(
    "text_quality_score",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_words,
                   CAST(length(text) AS INT) AS n_chars_measured,
                   CAST(len(list_filter(string_split(text, ' '),
                        w -> list_contains({list(_STOPWORDS)!r}, w))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS stopword_ratio,
                   CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))
                     AS chars_per_word
            FROM documents
        )
        SELECT doc_id, lang, n_words, n_chars_measured, stopword_ratio, chars_per_word
        FROM scored
        WHERE n_words >= 10 AND chars_per_word >= 3.0 AND stopword_ratio <= 0.5
    """,
    doc=(
        "X4: quality filter — length, stopword ratio, chars-per-word "
        "gates (the C4/Gopher-style heuristic filter family), all "
        "row-local expressions; predicate pushes to the scan."
    ),
    tags=("text", "llm", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_words = F.size(words)
    stop_ratio = (
        F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).cast("double") / n_words
    )
    cpw = F.length("text").cast("double") / n_words
    scored = t.documents.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        F.length("text").alias("n_chars_measured"),
        stop_ratio.alias("stopword_ratio"),
        cpw.alias("chars_per_word"),
    )
    return scored.filter(
        (F.col("n_words") >= 10)
        & (F.col("chars_per_word") >= 3.0)
        & (F.col("stopword_ratio") <= 0.5)
    )


#: BPE-ish pre-tokenizer: word / number / punctuation runs with optional
#: leading space — the GPT-2-style regex shape, restricted to constructs
#: whose semantics agree between Java regex (Spark) and RE2 (DuckDB).
_BPE_PATTERN = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@register(
    "text_token_count_bpe_regex",
    oracle=f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS INT) AS n_bpe_tokens,
               CAST(length(text) AS DOUBLE)
                 / len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS chars_per_bpe_token
        FROM documents WHERE doc_id <= 200
    """,
    doc=(
        "X4: token counting two ways — whitespace and a BPE-ish "
        "pre-tokenizer regex (the cost-estimation primitive for LLM "
        "training data). Row-local regexp_extract_all, zero shuffle."
    ),
    tags=("text", "llm", "tokens"),
)
def text_token_count_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    bpe = F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN}', 0)")
    return t.documents.filter(F.col("doc_id") <= 200).select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        (F.length("text").cast("double") / F.size(bpe)).alias("chars_per_bpe_token"),
    )


@register(
    "text_rolling_hash_fingerprint",
    oracle="""
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(7 AS BIGINT),
                       list_transform(string_split(text, ' '),
                           w -> CAST(length(w) * 131 + ascii(substring(w, 1, 1)) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash
        FROM documents WHERE doc_id <= 200
    """,
    doc=(
        "X4: polynomial rolling-hash document fingerprint — order-"
        "SENSITIVE (unlike the bag-of-words md5), the incremental-update "
        "shape a streaming dedup uses. Sequential fold, modded each step "
        "so both engines stay in exact int64 range."
    ),
    tags=("text", "llm", "fingerprint"),
)
def text_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    word_vals = F.transform(
        F.split("text", " "),
        lambda w: (F.length(w) * 131 + F.ascii(F.substring(w, 1, 1))).cast("long"),
    )
    rolling = F.aggregate(
        word_vals,
        F.lit(7).cast("long"),
        lambda acc, b: (acc * 31 + b) % 1000000007,
    )
    return t.documents.filter(F.col("doc_id") <= 200).select(
        "doc_id", rolling.alias("rolling_hash")
    )


@register(
    "text_fingerprint_canonical",
    oracle="""
        SELECT doc_id,
               md5(text) AS fp_exact,
               md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' '))
                 AS fp_bag_of_words
        FROM documents WHERE doc_id <= 200
    """,
    doc=(
        "X4: document fingerprints — exact md5 plus a canonical "
        "bag-of-words fingerprint (sorted lowercase tokens), the cheap "
        "reorder-invariant dedup key."
    ),
    tags=("text", "llm", "fingerprint"),
)
def text_fingerprint_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.documents.filter(F.col("doc_id") <= 200).select(
        "doc_id",
        F.md5("text").alias("fp_exact"),
        F.md5(F.array_join(F.sort_array(F.split(F.lower("text"), " ")), " ")).alias(
            "fp_bag_of_words"
        ),
    )


@register(
    "text_top_bigrams",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        bg AS (
            SELECT unnest(list_transform(
                       range(1, greatest(len(t), 1)),
                       i -> t[i] || ' ' || t[i + 1])) AS bigram
            FROM toks
        )
        SELECT bigram, COUNT(*) AS n
        FROM bg
        GROUP BY bigram
        ORDER BY n DESC, bigram
        LIMIT 20
    """,
    doc=(
        "X4: corpus-wide top-20 bigram counts — token arrays built "
        "JVM-side (split/transform/explode, zero Python), partial "
        "map-side counts, TakeOrderedAndProject top-k. The n-gram "
        "language-model staple over the documents table."
    ),
    tags=("text", "llm", "ngram"),
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    bigrams = t.documents.select(
        F.explode(
            # sequence(0, -1) counts DOWN, so guard docs with < 2 tokens
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 2 THEN "
                "transform(sequence(0, size(split(text, ' ')) - 2),"
                " i -> concat(split(text, ' ')[i], ' ', split(text, ' ')[i + 1]))"
                " ELSE array() END"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


_CHUNK_LEN = 32  # words per chunk
_CHUNK_STRIDE = 24  # overlap = 8 words


@register(
    "text_chunk_sliding_windows",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents
        )
        SELECT doc_id,
               CAST(s.i AS BIGINT) AS chunk_id,
               array_to_string(
                   words[s.i * {_CHUNK_STRIDE} + 1 : s.i * {_CHUNK_STRIDE} + {_CHUNK_LEN}],
                   ' ') AS chunk_text,
               CAST(least({_CHUNK_LEN}, len(words) - s.i * {_CHUNK_STRIDE}) AS BIGINT)
                   AS n_tokens
        FROM toks, LATERAL (
            SELECT unnest(range(0, ((len(words) - 1) // {_CHUNK_STRIDE}) + 1)) AS i
        ) s
        ORDER BY doc_id, chunk_id
    """,
    doc=(
        "LLM preprocessing: split every document into overlapping "
        f"{_CHUNK_LEN}-word windows with stride {_CHUNK_STRIDE} (context-"
        "window packing). Pure column ops — split once, sequence+explode "
        "the start offsets, slice per chunk; the explode is the row "
        "multiplier (~n_words/stride per doc) and everything stays in "
        "whole-stage codegen. At 100 TB this is the map-only stage before "
        "tokenization; no shuffle at all until a downstream groupBy."
    ),
    tags=("text", "llm", "chunk"),
)
def text_chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    return (
        t.documents.select("doc_id", words.alias("words"))
        .select(
            "doc_id",
            F.size("words").alias("n_words"),
            "words",
            F.explode(
                F.sequence(
                    F.lit(0), F.floor((F.size("words") - 1) / _CHUNK_STRIDE).cast("int")
                )
            ).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("words"), F.col("chunk_id") * _CHUNK_STRIDE + 1, _CHUNK_LEN),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(_CHUNK_LEN),
                F.col("n_words") - F.col("chunk_id") * _CHUNK_STRIDE,
            ).cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


#: deterministic synthetic PII (the fixture corpus is clean word soup, so
#: the redactor needs its targets injected — same pattern as the dedup
#: corpus injection)
_PII_SUFFIX = (
    "concat(' contact user', doc_id, '@example.com or 555-', "
    "lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' now')"
)
_PII_SUFFIX_DUCK = (
    "concat(' contact user', doc_id, '@example.com or 555-', "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' now')"
)
_EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
_PHONE_RE = "555-[0-9]{4}"


@register(
    "text_pii_redact",
    oracle=f"""
        WITH tainted AS (
            SELECT doc_id, text || {_PII_SUFFIX_DUCK} AS text FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text,
               CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones
        FROM tainted
        ORDER BY doc_id
    """,
    doc=(
        "LLM preprocessing: PII redaction — regexp_replace emails and "
        "phone-shaped tokens with typed placeholders and count what was "
        "scrubbed per document (the audit column). The corpus is clean "
        "synthetic text, so deterministic PII is injected first (doc_id-"
        "derived, reproducible on both engines). Map-only; the regex "
        "runs JVM-side in codegen, no UDF."
    ),
    tags=("text", "llm", "pii"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    tainted = t.documents.select(
        "doc_id", F.expr(f"concat(text, {_PII_SUFFIX})").alias("text")
    )
    return tainted.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("clean_text"),
        F.size(F.expr(f"regexp_extract_all(text, '{_EMAIL_RE}', 0)"))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(text, '{_PHONE_RE}', 0)"))
        .cast("bigint")
        .alias("n_phones"),
    ).orderBy("doc_id")


@register(
    "text_repetition_score",
    oracle="""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        wc AS (
            SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_word_frac,
               CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS distinct_ratio,
               CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) > 0.15
                   AS is_repetitive
        FROM wc
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc=(
        "LLM quality filtering, Gopher-style repetition signals: per "
        "document, the fraction of tokens taken by the single most "
        "frequent word and the distinct-token ratio; documents past the "
        "threshold get flagged for drop. Two-level aggregate (doc+word, "
        "then doc) — both partial-aggregated map-side; integer counts "
        "divide as identical doubles on both engines."
    ),
    tags=("text", "llm", "quality"),
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wc = (
        t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top_frac = F.max("c").cast("double") / F.sum("c").cast("double")
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_words"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            top_frac.alias("top_word_frac"),
            (F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")).alias(
                "distinct_ratio"
            ),
            (top_frac > 0.15).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_top_salient_terms",
    oracle="""
        WITH tf AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        tfc AS (
            SELECT doc_id, term, COUNT(*) AS term_freq
            FROM tf GROUP BY doc_id, term
        ),
        dfc AS (
            SELECT term, COUNT(*) AS doc_freq FROM tfc GROUP BY term
        )
        SELECT doc_id, term, term_freq, doc_freq, rn FROM (
            SELECT t.doc_id, t.term, t.term_freq, d.doc_freq,
                   row_number() OVER (PARTITION BY t.doc_id
                                      ORDER BY t.term_freq DESC,
                                               d.doc_freq ASC, t.term) AS rn
            FROM tfc t JOIN dfc d USING (term)
        ) WHERE rn <= 3
    """,
    doc=(
        "Per-document salient-term extraction (integer-exact TF-IDF "
        "ordering): rank each doc's terms by term frequency desc, then "
        "corpus document frequency asc (rarer wins), keep the top 3. "
        "The document-frequency table is vocabulary-sized, so it is "
        "broadcast — the per-doc side never shuffles for the join; the "
        "two shuffles are the (doc,term) count and the per-doc window. "
        "Keeping the ordering on integer (tf, df) pairs rather than a "
        "float tf*log(N/df) score makes the result bit-reproducible "
        "across engines — the float score is a display concern."
    ),
    tags=("text", "llm", "tfidf"),
)
def text_top_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    t = Tables(spark, sf_dir)
    tfc = (
        t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("term_freq"))
    )
    dfc = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    w = W.partitionBy("doc_id").orderBy(
        F.desc("term_freq"), F.asc("doc_freq"), F.asc("term")
    )
    return (
        tfc.join(F.broadcast(dfc), "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "term_freq", "doc_freq", "rn")
    )


_BM25_TERMS = ("spark", "join", "fast")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_term_sql(i: int) -> str:
    """One query term's BM25 contribution, as SQL text shared verbatim by
    the Spark plan and the DuckDB oracle.

    Every integer operand is cast to DOUBLE *before* any literal touches
    it: both engines parse ``0.5`` as DECIMAL, and their decimal
    scale-propagation rules differ (observed: 1e-8-relative drift, the
    DECIMAL(. ,8) quantum), so the arithmetic must be forced into IEEE
    doubles to be bit-identical. With identical expression trees over
    identical doubles, + - * / are deterministic across engines.
    """
    k1, b = _BM25_K1, _BM25_B
    norm = f"(CAST(tf{i} AS DOUBLE) + {k1} * (0.25 + {b} * CAST(dl AS DOUBLE) / avgdl))"
    idf = f"((CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5))"
    return f"{idf} * (CAST(tf{i} AS DOUBLE) * {k1 + 1}) / {norm}"


_BM25_SCORE_SQL = " + ".join(_bm25_term_sql(i) for i in range(len(_BM25_TERMS)))

#: the full BM25 scoring pipeline as DuckDB CTEs ending in
#: ``scored(doc_id, score)`` — shared by text_bm25_topk and the hybrid
#: RRF fusion oracle (similarity.py)
BM25_SCORED_CTES = f"""
        d AS (
            SELECT doc_id, string_split(text, ' ') AS words,
                   len(string_split(text, ' ')) AS dl
            FROM documents
        ),
        st AS (
            SELECT COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(dl AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                       / COUNT(*) AS avgdl
            FROM d
        ),
        tf AS (
            SELECT doc_id, dl,
                   len(list_filter(words, w -> w = '{_BM25_TERMS[0]}')) AS tf0,
                   len(list_filter(words, w -> w = '{_BM25_TERMS[1]}')) AS tf1,
                   len(list_filter(words, w -> w = '{_BM25_TERMS[2]}')) AS tf2
            FROM d
        ),
        dfreq AS (
            SELECT SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
            FROM tf
        ),
        scored AS (
            SELECT doc_id, {_BM25_SCORE_SQL} AS score
            FROM tf, st, dfreq
        )"""


def bm25_scored(t: Tables) -> DataFrame:
    """(doc_id, score): BM25 of every document against the fixed query —
    the Spark twin of :data:`BM25_SCORED_CTES`. Corpus stats reduce to
    single-row broadcast DFs; scoring is map-only."""
    d = t.documents.select(
        "doc_id",
        F.split("text", " ").alias("words"),
        F.size(F.split("text", " ")).alias("dl"),
    )
    tf = d.select(
        "doc_id",
        "dl",
        *[
            F.expr(f"size(filter(words, w -> w = '{term}'))").alias(f"tf{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    )
    st = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(SUM(CAST(dl AS DECIMAL(38,8))) AS DOUBLE) / COUNT(1)").alias("avgdl"),
    )
    dfreq = tf.agg(
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ]
    )
    return (
        tf.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(dfreq))
        .select("doc_id", F.expr(_BM25_SCORE_SQL).alias("score"))
    )


@register(
    "text_bm25_topk",
    oracle=f"""
        WITH {BM25_SCORED_CTES}
        SELECT doc_id, score,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        FROM scored
        ORDER BY score DESC, doc_id
        LIMIT 20
    """,
    doc=(
        "BM25 lexical retrieval: score every document against a fixed "
        f"{len(_BM25_TERMS)}-term query and return the top 20 — the "
        "keyword-search half of a hybrid retrieval stack (the vector "
        "half is similarity_two_stage_rerank). Corpus stats (N, avgdl "
        "via decimal-exact sum, per-term document frequencies) reduce "
        "to single-row DFs broadcast into a per-row scoring expression; "
        "per-term tf comes from a higher-order filter on the split "
        "words, so the whole scan stays in whole-stage codegen with "
        "zero Python. The idf is the rational Robertson form "
        "((N-df+0.5)/(df+0.5), no log — log differs by ulps across "
        "libm implementations), and the score expression text is "
        "SHARED verbatim between the Spark plan and the oracle with "
        "all integers pre-cast to DOUBLE, so every score is the same "
        "IEEE expression tree over the same doubles — hash-exact, not "
        "approximately equal. Top-20 via TakeOrderedAndProject; rank "
        "is assigned after the limit, so the global window sorts 20 "
        "rows, not the corpus. At 100 TB nothing changes: stats are "
        "one tiny broadcast, scoring is map-only, top-k is "
        "per-partition heaps + driver merge."
    ),
    tags=("text", "llm", "retrieval", "topk"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    topk = bm25_scored(t).orderBy(F.desc("score"), "doc_id").limit(20)
    return topk.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("score"), "doc_id")).cast("int")
    )


# collocation lift: shared verbatim by both engines so the double
# arithmetic (left-assoc products, one division) is bit-identical
_LIFT_SQL = (
    "(CAST(c_xy AS DOUBLE) * CAST(nu AS DOUBLE) * CAST(nu AS DOUBLE))"
    " / (CAST(nb AS DOUBLE) * CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))"
)


@register(
    "text_bigram_lift_topk",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        uni AS (
            SELECT w, COUNT(*) AS c
            FROM (SELECT unnest(t) AS w FROM toks)
            GROUP BY w
        ),
        nu_t AS (SELECT SUM(c) AS nu FROM uni),
        bg AS (
            SELECT w1, w2, COUNT(*) AS c_xy
            FROM (
                SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                                             i -> t[i])) AS w1,
                       unnest(list_transform(range(1, greatest(len(t), 1)),
                                             i -> t[i + 1])) AS w2
                FROM toks
            )
            GROUP BY w1, w2
        ),
        nb_t AS (SELECT SUM(c_xy) AS nb FROM bg),
        scored AS (
            SELECT w1, w2, c_xy, {_LIFT_SQL} AS lift
            FROM bg
            CROSS JOIN nb_t
            CROSS JOIN nu_t
            JOIN (SELECT w AS w1k, c AS cx FROM uni) u1 ON w1 = w1k
            JOIN (SELECT w AS w2k, c AS cy FROM uni) u2 ON w2 = w2k
            WHERE c_xy >= 10
        )
        SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy, lift
        FROM scored
        ORDER BY lift DESC, w1, w2
        LIMIT 30
    """,
    doc=(
        "Collocation extraction via pointwise LIFT — the PMI exponent "
        "p(xy)/(p(x)p(y)) = c_xy*Nu^2/(Nb*cx*cy) — over corpus bigrams. "
        "Monotone in PMI, so the top-k ranking is identical, but the "
        "score is a pure rational of exact integer counts evaluated in "
        "one shared expression (no log), hence bit-reproducible across "
        "engines — the same trick as the rational-idf BM25. Plan: one "
        "token-keyed count, one bigram-keyed count, two broadcast "
        "joins of the unigram side onto the c_xy>=10-pruned bigrams "
        "(the prune keeps the join input tiny at any scale), "
        "TakeOrderedAndProject top-30."
    ),
    tags=("text", "llm", "ngram", "stats"),
)
def text_bigram_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    toks = t.documents.select("doc_id", F.split("text", " ").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nu_t = uni.agg(F.sum("c").alias("nu"))
    bg = (
        toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                    " ELSE array() END"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    nb_t = bg.agg(F.sum("c_xy").alias("nb"))
    pruned = bg.filter(F.col("c_xy") >= 10)
    scored = (
        pruned.crossJoin(F.broadcast(nb_t))
        .crossJoin(F.broadcast(nu_t))
        .join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("cx"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("cy"))),
            "w2",
        )
        .select("w1", "w2", F.col("c_xy").cast("bigint").alias("c_xy"), F.expr(_LIFT_SQL).alias("lift"))
    )
    return scored.orderBy(F.desc("lift"), "w1", "w2").limit(30)


@register(
    "text_avg_token_corpus_freq",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w)
        SELECT t.doc_id,
               CAST(COUNT(*) AS INT) AS n_tokens,
               CAST(SUM(u.c) AS BIGINT) AS sum_freq,
               CAST(SUM(u.c) AS DOUBLE) / COUNT(*) AS avg_corpus_freq
        FROM toks t JOIN uni u USING (w)
        GROUP BY t.doc_id
    """,
    doc=(
        "Unigram-LM document quality proxy: each document scored by the "
        "mean corpus frequency of its tokens — low scores flag rare-"
        "token noise (boilerplate, mojibake), high scores flag stopword "
        "soup; the cheap stand-in for model-based perplexity filtering "
        "in pretraining curation. Exactness: the per-doc accumulator is "
        "an integer SUM of counts (order-independent), with ONE final "
        "double division — no float folding anywhere. Plan: one token "
        "count, then a token-keyed shuffle join back onto the "
        "(doc,token) pairs and a doc-keyed partial agg; head tokens "
        "('the') skew the join key, which AQE skew-split handles — the "
        "vocab side is 1 row per token so no row explosion."
    ),
    tags=("text", "llm", "quality"),
)
def text_avg_token_corpus_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    toks = t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    return (
        toks.join(uni, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum("c").cast("bigint").alias("sum_freq"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias("avg_corpus_freq"),
        )
    )


_VOCAB_K = 100  # tokenizer vocabulary size for the coverage audit


@register(
    "text_vocab_coverage_oov",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        vocab AS (
            SELECT w FROM (
                SELECT w, COUNT(*) AS c FROM toks GROUP BY w
                ORDER BY c DESC, w LIMIT {_VOCAB_K}
            )
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS INT) AS n_tokens,
               CAST(COUNT(CASE WHEN v.w IS NULL THEN 1 END) AS INT) AS n_oov,
               CAST(COUNT(CASE WHEN v.w IS NULL THEN 1 END) AS DOUBLE)
                   / COUNT(*) AS oov_ratio
        FROM toks t LEFT JOIN vocab v ON t.w = v.w
        GROUP BY t.doc_id
    """,
    doc=(
        "Tokenizer-vocabulary coverage audit: per-document out-of-"
        "vocabulary rate against the corpus top-{k} vocab — the check "
        "run before committing a tokenizer, since high-OOV documents "
        "become UNK soup in training. The vocab is a deterministic "
        "top-k (count desc, word tie-break → TakeOrderedAndProject, "
        "never a global sort) and is broadcast for the membership "
        "probe, so the fact side never shuffles for the join; integer "
        "counts + one final division keep it hash-exact. At 100 TB the "
        "vocab is a real tokenizer's fixed table (a few 100k rows) — "
        "same broadcast shape."
    ).format(k=_VOCAB_K),
    tags=("text", "llm", "quality"),
)
def text_vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    toks = t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(_VOCAB_K)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).cast("int").alias("n_oov"),
            (
                F.count(F.when(F.col("in_vocab").isNull(), 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_ratio"),
        )
    )


@register(
    "text_char_trigram_profile",
    oracle="""
        WITH tri AS (
            SELECT lang,
                   unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
                                         i -> substr(text, i, 3))) AS g
            FROM documents
        ),
        counts AS (
            SELECT lang, g, COUNT(*) AS n FROM tri GROUP BY lang, g
        ),
        ranked AS (
            SELECT lang, g, n,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n DESC, g) AS rn
            FROM counts
        )
        SELECT lang, g AS trigram, CAST(n AS BIGINT) AS n, rn AS rank
        FROM ranked WHERE rn <= 20
    """,
    doc=(
        "Character-trigram frequency profile per language — the actual "
        "mechanism behind production language ID (textcat): a language "
        "is recognized by ranking its char n-grams and comparing "
        "profiles. Top-20 per lang via substring explode (sequence + "
        "substr, zero Python) -> (lang, gram) count with map-side "
        "combine -> per-lang row_number. The char explode is ~len(text) "
        "rows per doc, the heaviest fan-out in the text battery — but "
        "the combine collapses it to |langs| x |alphabet^3| before the "
        "shuffle, so the exchanged volume is vocabulary-, not corpus-"
        "sized."
    ),
    tags=("text", "llm", "langid", "ngram"),
)
def text_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    # r12: spread() before the char-grain explode — the single-row-group
    # local scan otherwise runs the whole explode+partial-agg serial
    # (2.22 -> 0.98s same-session A/B, output identical)
    tri = spread(t.documents.select("lang", "text")).select(
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN length(text) >= 3 THEN "
                "transform(sequence(1, length(text) - 2),"
                " i -> substring(text, i, 3))"
                " ELSE array() END"
            )
        ).alias("g"),
    )
    counts = tri.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("n"))
    ranked = counts.withColumn(
        "rn", F.row_number().over(W.partitionBy("lang").orderBy(F.desc("n"), "g"))
    )
    return ranked.filter(F.col("rn") <= 20).select(
        "lang", F.col("g").alias("trigram"), F.col("n").cast("bigint").alias("n"),
        F.col("rn").alias("rank"),
    )


@register(
    "text_heaps_vocab_growth",
    oracle="""
        WITH m AS (SELECT MAX(doc_id) + 1 AS md FROM documents),
        firsts AS (
            SELECT w, MIN(doc_id) AS first_doc
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            GROUP BY w
        ),
        bucketed AS (
            SELECT (first_doc * 10) // md AS decile, COUNT(*) AS new_tokens
            FROM firsts CROSS JOIN m
            GROUP BY 1
        )
        SELECT decile, new_tokens,
               CAST(SUM(new_tokens) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_vocab
        FROM bucketed
    """,
    doc=(
        "Vocabulary-growth (Heaps'-law) curve: cumulative distinct "
        "vocabulary after each corpus decile. Each token is charged to "
        "the decile of its FIRST occurrence (min doc_id per token — one "
        "map-side-combined shuffle on the token key), so cumulative "
        "vocabulary is a running sum over the 10-row decile rollup, "
        "never a per-prefix re-count. Sub-linear growth of this curve "
        "is the standard novelty health check on an ingest corpus; a "
        "suddenly linear segment means near-random text (or an encoding "
        "bug) entered the feed."
    ),
    tags=("text", "llm", "agg"),
)
def text_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    t = Tables(spark, sf_dir)
    md = t.documents.agg((F.max("doc_id") + 1).alias("md"))
    firsts = (
        t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    bucketed = (
        firsts.crossJoin(F.broadcast(md))
        .select(F.expr("(first_doc * 10) div md").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("new_tokens"))
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return bucketed.select(
        "decile",
        "new_tokens",
        F.sum("new_tokens").over(w).cast("bigint").alias("cum_vocab"),
    )


@register(
    "text_inverted_index_postings",
    oracle="""
        WITH tf AS (
            SELECT w AS term, doc_id, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            GROUP BY w, doc_id
        ),
        df AS (
            SELECT term, COUNT(*) AS doc_freq,
                   CAST(SUM(tf) AS BIGINT) AS corpus_freq
            FROM tf GROUP BY term
        ),
        top AS (
            SELECT term, doc_freq, corpus_freq
            FROM df
            ORDER BY doc_freq DESC, term
            LIMIT 30
        )
        SELECT t.term, t.doc_freq, t.corpus_freq,
               CAST(to_json(list(f.doc_id ORDER BY f.doc_id)) AS VARCHAR)
                 AS postings
        FROM top t JOIN tf f ON t.term = f.term
        GROUP BY t.term, t.doc_freq, t.corpus_freq
    """,
    doc=(
        "Inverted-index build for the 30 highest-df terms: (term, doc) "
        "frequency table in one map-side-combined shuffle, document "
        "frequencies on top of it, then sorted posting lists — the "
        "storage layout under every lexical retrieval system "
        "(text_bm25_topk consumes exactly these statistics). "
        "Postings sort within each term's bounded list (array_sort "
        "after collect, never a global sort); restricting to the top-30 "
        "terms bounds the output while still exercising the full "
        "corpus scan. Wire format: the posting list crosses the driver "
        "boundary as a compact to_json string (integer arrays render "
        "identically on both engines) — a raw array column crashes the "
        "driver's pandas canonicalizer (r6 verdict #1/#2); "
        "``inverted_index_postings_arrays`` keeps the typed array as "
        "the library API. At 100 TB the posting array for a stopword-"
        "grade term exceeds single-row limits — the production layout "
        "shards postings by doc_id range, which this plan already "
        "supports (the collect key just becomes (term, doc_id DIV "
        "shard))."
    ),
    tags=("text", "llm", "retrieval"),
)
def text_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return inverted_index_postings_arrays(spark, sf_dir).withColumn(
        "postings", F.to_json("postings")
    )


def inverted_index_postings_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library API: postings as a typed ``array<bigint>`` column (the
    layout downstream retrieval consumes); the registered query wraps it
    in ``to_json`` only to cross the driver wire."""
    t = Tables(spark, sf_dir)
    tf = (
        t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("tf").cast("bigint").alias("corpus_freq"),
    )
    top = df.orderBy(F.desc("doc_freq"), "term").limit(30)
    return (
        tf.join(F.broadcast(top), "term")
        .groupBy("term", "doc_freq", "corpus_freq")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("postings"))
    )


_FH_DIM = 16  # hashed feature dimension

_FH_BUCKET_SPARK = (
    "CAST(CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT) % 16 AS INT)"
)
_FH_SIGN_SPARK = (
    "CASE WHEN CAST(conv(substr(md5(w), 9, 1), 16, 10) AS BIGINT) % 2 = 0 "
    "THEN 1 ELSE -1 END"
)
_FH_BUCKET_DUCK = "CAST(CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 16 AS INT)"
_FH_SIGN_DUCK = (
    "CASE WHEN CAST(('0x' || substr(md5(w), 9, 1)) AS BIGINT) % 2 = 0 "
    "THEN 1 ELSE -1 END"
)


@register(
    "text_feature_hashing",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id < 100
        ),
        hashed AS (
            SELECT doc_id,
                   {_FH_BUCKET_DUCK} AS bucket,
                   {_FH_SIGN_DUCK} AS sgn
            FROM toks
        ),
        cells AS (
            SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS v
            FROM hashed GROUP BY doc_id, bucket
        ),
        vecs AS (
            SELECT doc_id, map_from_entries(list(struct_pack(k := bucket, v := v))) AS m
            FROM cells GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(to_json(list_transform(range(0, {_FH_DIM}),
                            b -> CAST(coalesce(map_extract(m, b)[1], 0) AS BIGINT)))
                    AS VARCHAR) AS features
        FROM vecs
    """,
    doc=(
        "Feature hashing (the 'hashing trick'): every token maps to one "
        "of 16 buckets by an md5 slice with a +/-1 sign bit, giving each "
        "document a fixed-width integer feature vector with NO "
        "vocabulary table — the property that makes it the standard "
        "text featurizer at corpus scale (a vocabulary index would "
        "itself be a 100 TB-era shuffle). One explode + one "
        "(doc, bucket) combine; the dense vector materializes from a "
        "16-entry map, missing buckets zero-filled. Exact integer "
        "counts, bit-identical hash both engines. Wire format: the "
        "feature vector crosses the driver boundary as a to_json "
        "string (r6 verdict #1/#2 — raw array columns crash the "
        "driver's pandas canonicalizer); ``feature_hashing_vectors`` "
        "keeps the typed array as the library API."
    ),
    tags=("text", "llm", "ml"),
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return feature_hashing_vectors(spark, sf_dir).withColumn(
        "features", F.to_json("features")
    )


def feature_hashing_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library API: hashed feature vectors as ``array<bigint>``."""
    t = Tables(spark, sf_dir)
    cells = (
        t.documents.filter(F.col("doc_id") < 100)
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .select(
            "doc_id",
            F.expr(_FH_BUCKET_SPARK).alias("bucket"),
            F.expr(_FH_SIGN_SPARK).alias("sgn"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").cast("bigint").alias("v"))
    )
    return (
        cells.groupBy("doc_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("bucket", "v"))).alias("m"))
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, {_FH_DIM - 1}), "
                "b -> coalesce(element_at(m, b), CAST(0 AS BIGINT)))"
            ).alias("features"),
        )
    )


_BPE_ROUNDS = 3


def _bpe_oracle() -> str:
    """Exact DuckDB twin of the 3-round BPE trainer (r5 verdict #10 —
    this was the last structurally-rows-only text op with deterministic
    output). Each round unrolls as CTEs: pair counts from the current
    symbol tables, the (total DESC, a, b) argmax, then the
    non-overlapping left-to-right rewrite WITHOUT recursion — for
    a != b two adjacent positions can never both match, and for a == b
    the fold's "just-merged token never re-pairs" rule is exactly
    run-parity: within each maximal run of consecutive matches
    (gaps-and-islands rid = i - row_number), positions at even offset
    from the run start merge and the following position is consumed.
    A lag() marks consumed positions; list(... ORDER BY i) rebuilds
    the arrays. Any divergence in pair counting, tie-break, or fold
    semantics breaks the hash."""
    parts, tops, prev = _bpe_cte_parts()
    return (
        "WITH " + ",".join(parts) + "\n" + "\nUNION ALL\n".join(tops)
        + '\nORDER BY "round"'
    )


def _bpe_cte_parts() -> tuple[list[str], list[str], str]:
    """The shared DuckDB CTE chain of the 3-round BPE train.

    Returns (cte_parts, per-round top-merge selects, name of the final
    word-symbol CTE) so both the trainer oracle (which unions the tops)
    and the corpus-encoder oracle (which reads the final symbol arrays
    off ``w3``) replay the IDENTICAL train."""
    parts = ["""
        w0 AS MATERIALIZED (
            SELECT w AS wid, CAST(COUNT(*) AS BIGINT) AS wn,
                   list_transform(range(1, length(w) + 1),
                                  i -> substr(w, i, 1)) AS sym
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY w
        )"""]
    prev = "w0"
    tops = []
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f"""
        pc{r} AS (
            SELECT sym[i] AS a, sym[i + 1] AS b,
                   CAST(SUM(wn) AS BIGINT) AS total
            FROM (SELECT sym, wn, unnest(range(1, len(sym))) AS i
                  FROM {prev} WHERE len(sym) > 1)
            GROUP BY sym[i], sym[i + 1]
        ),
        top{r} AS (
            SELECT a, b, a || b AS m, total FROM pc{r}
            ORDER BY total DESC, a, b LIMIT 1
        ),
        pos{r} AS (
            SELECT q.wid, q.wn, q.i, q.sym[q.i] AS cur, tp.m,
                   (q.i < len(q.sym) AND q.sym[q.i] = tp.a
                    AND q.sym[q.i + 1] = tp.b) AS mt
            FROM (SELECT wid, wn, sym, unnest(range(1, len(sym) + 1)) AS i
                  FROM {prev}) q
            CROSS JOIN top{r} tp
        ),
        runs{r} AS (
            SELECT *, CASE WHEN mt THEN i - row_number()
                   OVER (PARTITION BY wid, mt ORDER BY i) END AS rid
            FROM pos{r}
        ),
        mf{r} AS (
            SELECT *, mt AND ((i - MIN(i) OVER (PARTITION BY wid, rid)) % 2 = 0)
                   AS mg
            FROM runs{r}
        ),
        cf{r} AS (
            SELECT *, COALESCE(lag(mg) OVER (PARTITION BY wid ORDER BY i),
                               FALSE) AS consumed
            FROM mf{r}
        ),
        w{r} AS MATERIALIZED (
            SELECT wid, wn,
                   list(CASE WHEN mg THEN m ELSE cur END ORDER BY i) AS sym
            FROM cf{r} WHERE NOT consumed
            GROUP BY wid, wn
        )""")
        tops.append(
            f'SELECT CAST({r} AS INT) AS "round", a AS "left", b AS "right",'
            f" m AS merged, total AS pair_count FROM top{r}"
        )
        prev = f"w{r}"
    return parts, tops, prev


def _bpe_merge_fold(a: str, b: str):
    """Left-to-right non-overlapping merge of adjacent (a, b) -> a+b via
    a sequential array fold — the just-merged token never re-pairs as
    the left element within the same pass, matching textbook BPE."""
    return F.expr(
        "aggregate(sym, CAST(array() AS array<string>), "
        "(acc, s) -> CASE WHEN size(acc) > 0 "
        f"AND element_at(acc, -1) = '{a}' AND s = '{b}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{a}{b}')) "
        "ELSE concat(acc, array(s)) END)"
    )


@register(
    "text_bpe_train_merges",
    oracle=_bpe_oracle(),  # r6: the full 3-round train unrolled as CTEs
    doc=(
        "BPE vocabulary induction, the tokenizer-training core: start "
        "from the word-frequency table with words as character arrays, "
        "and for 3 rounds (a) count adjacent symbol pairs weighted by "
        "word frequency — one vocabulary-sized explode + map-side-"
        "combined sum, (b) take the arg-max pair with deterministic "
        "(count DESC, pair ASC) tie-break — a 1-row driver fetch of "
        "metadata, the same per-round pattern as k-means centroids and "
        "PageRank rounds, (c) rewrite every word's symbol array with a "
        "left-to-right non-overlapping fold (the just-merged token "
        "never re-pairs in the same pass). Word-frequency grain means "
        "cost scales with VOCABULARY, not corpus: the 100 TB corpus "
        "collapses to its word-count table in one shuffle and every "
        "round after that is vocabulary-sized. Output = the learned "
        "merge table; exact equality with a pure-Python BPE replayed "
        "on the same corpus is pytest-asserted, and since r6 the whole "
        "train also replays as an unrolled DuckDB CTE (pair counts -> "
        "argmax -> parity-rule rewrite) — hash-exact, no longer "
        "rows-only."
    ),
    tags=("text", "llm", "tokenizer", "iterative"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, merges = _bpe_train_words(Tables(spark, sf_dir))
    return spark.createDataFrame(
        merges, "round INT, left STRING, right STRING, merged STRING, pair_count BIGINT"
    )


def _bpe_train_words(t: Tables):
    """Run the 3-round BPE train; return (final word table, merges).

    The word table keeps the original word string ``w`` alongside its
    evolving symbol array so the corpus encoder can join tokenized
    lengths back to the (doc, word) grain; the trainer itself only
    consumes the merge list."""
    words = (
        t.documents.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
        .select(
            "w",
            F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))").alias(
                "sym"
            ),
            "wn",
        )
        .localCheckpoint(eager=True)
    )
    merges = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        # filter BEFORE the transform: Spark's sequence(1, 0) descends
        # rather than going empty, so single-symbol words must not reach
        # the pair generator
        pairs = words.filter(F.expr("size(sym) > 1")).select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(sym) - 1), "
                    "i -> struct(element_at(sym, i) AS a, element_at(sym, i + 1) AS b))"
                )
            ).alias("p"),
            "wn",
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wn").alias("total"))
            .orderBy(F.desc("total"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:  # empty corpus / no multi-symbol words: stop training
            break
        best = top[0]
        merges.append((rnd, best["a"], best["b"], best["a"] + best["b"], int(best["total"])))
        words = words.select(
            "w", _bpe_merge_fold(best["a"], best["b"]).alias("sym"), "wn"
        ).localCheckpoint(eager=True)
    return words, merges


def _bpe_encode_oracle() -> str:
    """DuckDB twin of the corpus encoder: replay the identical 3-round
    train (shared CTE chain), read tokens-per-word off the final symbol
    table, and aggregate back to document grain."""
    parts, _tops, final = _bpe_cte_parts()
    return (
        "WITH " + ",".join(parts) + f""",
        enc AS (SELECT wid, CAST(len(sym) AS BIGINT) AS wtok FROM {final}),
        dw AS (
            SELECT doc_id, n_chars,
                   unnest(string_split(text, ' ')) AS w
            FROM documents
        )
        SELECT dw.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(e.wtok) AS BIGINT) AS n_tokens,
               CAST(ANY_VALUE(dw.n_chars) AS DOUBLE) / CAST(SUM(e.wtok) AS DOUBLE)
                   AS chars_per_token
        FROM dw JOIN enc e ON dw.w = e.wid
        GROUP BY dw.doc_id
        ORDER BY dw.doc_id"""
    )


@register(
    "text_bpe_encode_corpus",
    oracle=_bpe_encode_oracle(),
    doc=(
        "X4/BPE: ENCODE the corpus with the trained tokenizer — the "
        "actual 100 TB pipeline step after text_bpe_train_merges learns "
        "the merge table (r7 verdict #6). Rank-ordered merge application "
        "happens at VOCABULARY grain: train on the word-frequency table "
        "(3 bounded argmax rounds, the k-means/PageRank metadata-"
        "collect pattern), keep each distinct word's final symbol "
        "array, and the per-word token count is just its length. "
        "Tokenizing the corpus is then one explode to (doc, word) plus "
        "an equi-join on the word string — the float-free, "
        "shuffle-minimal shape: the heavy corpus side never re-folds "
        "merges per occurrence, and the join key is the natural "
        "co-partition key at 100 TB. Output per document: word count, "
        "BPE token count, chars-per-token (one per-row division). "
        "Oracle replays the identical train via the shared CTE chain "
        "and encodes off the final symbol table — hash-exact."
    ),
    tags=("text", "llm", "tokenizer"),
)
def text_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words, _merges = _bpe_train_words(t)
    wtok = words.select("w", F.size("sym").cast("bigint").alias("wtok"))
    dw = t.documents.select(
        "doc_id", "n_chars", F.explode(F.split("text", " ")).alias("w")
    )
    return (
        dw.join(wtok, "w")
        .groupBy("doc_id", "n_chars")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("wtok").cast("bigint").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            (F.col("n_chars").cast("double") / F.col("n_tokens").cast("double")).alias(
                "chars_per_token"
            ),
        )
        .orderBy("doc_id")
    )


def _compression_ratios(texts: "pd.Series") -> "pd.Series":
    """Arrow-batched zlib compression ratio (level 6, fixed so results
    are deterministic across runs and machines)."""
    import zlib

    return pd.Series(
        [
            len(zlib.compress(s.encode("utf-8"), 6)) / max(len(s.encode("utf-8")), 1)
            for s in texts
        ],
        dtype="float64",
    )


@register(
    "text_compression_ratio_quality",
    # r7 (r6 verdict #8): zlib DEFLATE has no SQL twin, so the PER-DOC
    # ratios stay a library API (compression_ratio_per_doc) — but the
    # registered query is now a verdict audit in the sketch pattern:
    # exact SQL-twinned aggregates plus deterministic within-bound
    # booleans the oracle asserts literally TRUE. An out-of-bound ratio
    # or a nondeterministic zlib pass hash-mismatches at the driver
    # instead of hiding behind no_oracle.
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               TRUE AS ratios_in_bounds,
               TRUE AS mean_ratio_in_bounds,
               TRUE AS deterministic_across_runs
        FROM documents
    """,
    doc=(
        "Compression-ratio quality signal (the Gopher/RefinedWeb-era "
        "boilerplate detector: highly compressible text is repetitive "
        "text): zlib-compress each document in an Arrow-batched pandas "
        "UDF at a pinned level. The UDF is the legitimate Python-path "
        "case — no JVM zlib surface in Spark SQL — and stays vectorized "
        "per Arrow batch; the scan is map-only with zero shuffles. "
        "Registered form is a verdict audit (exact doc/char totals + "
        "ratio-bound + two-pass determinism booleans, oracle-asserted "
        "TRUE); compression_ratio_per_doc is the per-document library "
        "API, with invariants pinned in tests/test_llm_ops.py."
    ),
    tags=("text", "llm", "quality", "udf"),
)
def text_compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    t = Tables(spark, sf_dir)
    # two DISTINCT UDF objects so Catalyst cannot common-subexpression
    # them away — the determinism boolean needs two genuine zlib passes
    u1 = pandas_udf(_compression_ratios, "double")
    u2 = pandas_udf(lambda s: _compression_ratios(s), "double")
    per = t.documents.select(
        "n_chars", u1("text").alias("r1"), u2("text").alias("r2")
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        ((F.min("r1") > 0.0) & (F.max("r1") <= 1.25)).alias("ratios_in_bounds"),
        ((F.avg("r1") >= 0.2) & (F.avg("r1") <= 1.1)).alias("mean_ratio_in_bounds"),
        (F.max(F.abs(F.col("r1") - F.col("r2"))) == 0.0).alias(
            "deterministic_across_runs"
        ),
    )


def compression_ratio_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library API: per-document zlib compression ratio + the <0.45
    low-information flag (the production quality column)."""
    from pyspark.sql.functions import pandas_udf

    t = Tables(spark, sf_dir)
    ratio_udf = pandas_udf(_compression_ratios, "double")
    return t.documents.select(
        "doc_id",
        "n_chars",
        ratio_udf("text").alias("compression_ratio"),
    ).withColumn("low_information", F.col("compression_ratio") < 0.45)


@register(
    "text_langid_eval_confusion",
    oracle="""
        WITH pred AS (
            SELECT lang AS true_lang,
                   CASE WHEN list_contains(string_split(text, ' '), 'the')
                          OR list_contains(string_split(text, ' '), 'a') THEN 'en'
                        WHEN list_contains(string_split(text, ' '), 'le')
                          OR list_contains(string_split(text, ' '), 'de') THEN 'fr'
                        WHEN list_contains(string_split(text, ' '), 'el')
                          OR list_contains(string_split(text, ' '), 'la') THEN 'es'
                        ELSE 'und' END AS pred_lang
            FROM documents
        ),
        cells AS (
            SELECT true_lang, pred_lang, COUNT(*) AS n
            FROM pred GROUP BY true_lang, pred_lang
        ),
        cls AS (
            SELECT true_lang AS lang,
                   CAST(SUM(CASE WHEN pred_lang = true_lang THEN n ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(n) AS BIGINT) AS support
            FROM cells GROUP BY true_lang
        ),
        predtot AS (
            SELECT pred_lang AS lang, CAST(SUM(n) AS BIGINT) AS n_pred
            FROM cells GROUP BY pred_lang
        )
        SELECT c.lang, c.tp, c.support,
               COALESCE(p.n_pred, 0) AS n_pred,
               CAST(c.tp AS DOUBLE) / CAST(c.support AS DOUBLE) AS recall,
               CASE WHEN COALESCE(p.n_pred, 0) > 0
                    THEN CAST(c.tp AS DOUBLE) / CAST(p.n_pred AS DOUBLE) END AS precision,
               CASE WHEN c.tp > 0
                    THEN CAST(2 * c.tp AS DOUBLE)
                         / CAST(c.support + COALESCE(p.n_pred, 0) AS DOUBLE) END AS f1
        FROM cls c LEFT JOIN predtot p ON c.lang = p.lang
    """,
    doc=(
        "Model evaluation as a query: precision / recall / F1 of the "
        "heuristic language-ID against the labeled lang column, from "
        "one confusion-matrix aggregation (|langs|^2 cells — metadata "
        "at any corpus size). The F1 uses the 2*tp/(support+predicted) "
        "identity, so every ratio is one division of exact integers; "
        "degenerate classes (no predictions / no hits) yield NULL "
        "instead of a fake zero. The eval-as-query shape is how "
        "classifier quality is monitored over a 100 TB corpus without "
        "exporting anything."
    ),
    tags=("text", "llm", "eval"),
)
def text_langid_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    has = lambda w: F.array_contains(words, w)  # noqa: E731
    pred = t.documents.select(
        F.col("lang").alias("true_lang"),
        F.when(has("the") | has("a"), "en")
        .when(has("le") | has("de"), "fr")
        .when(has("el") | has("la"), "es")
        .otherwise("und")
        .alias("pred_lang"),
    )
    cells = pred.groupBy("true_lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))
    cls = cells.groupBy(F.col("true_lang").alias("lang")).agg(
        F.expr(
            "CAST(SUM(CASE WHEN pred_lang = true_lang THEN n ELSE 0 END) AS BIGINT)"
        ).alias("tp"),
        F.sum("n").cast("bigint").alias("support"),
    )
    predtot = cells.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_pred")
    )
    return (
        cls.join(predtot, "lang", "left")
        .select(
            "lang",
            "tp",
            "support",
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.expr("CAST(tp AS DOUBLE) / CAST(support AS DOUBLE)").alias("recall"),
            F.expr(
                "CASE WHEN COALESCE(n_pred, 0) > 0"
                " THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END"
            ).alias("precision"),
            F.expr(
                "CASE WHEN tp > 0 THEN CAST(2 * tp AS DOUBLE)"
                " / CAST(support + COALESCE(n_pred, 0) AS DOUBLE) END"
            ).alias("f1"),
        )
    )


def ngram_novelty_grams(documents: DataFrame) -> DataFrame:
    """The novelty op's inverted-index stage alone: distinct (doc_id,
    gram) word-trigram rows. Exposed (r10) so the scale sweep's dedup
    probe can record the index-row count at 10x/30x without duplicating
    the gram expression; the registered query aggregates exactly this."""
    return documents.select(
        "doc_id",
        F.explode(F.array_distinct(ngrams("text", 3))).alias("gram"),
    )


@register(
    "text_ngram_novelty_score",
    oracle="""
        WITH grams AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2])) AS gram
            FROM documents
        ),
        firsts AS (
            SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
        )
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
        FROM grams g JOIN firsts f ON f.gram = g.gram
        GROUP BY g.doc_id
    """,
    doc=(
        "Per-document n-gram novelty: the fraction of a doc's distinct "
        "word trigrams whose FIRST corpus occurrence (min doc_id — the "
        "ingestion-order proxy) is this document. The memorization/"
        "staleness signal a pretraining curator ranks by: ~1.0 means "
        "genuinely new text, ~0.0 means the doc is assembled from "
        "already-seen phrasing (soft-duplicate tail that survives "
        "exact dedup). Trigrams explode JVM-side and collapse to "
        "(gram, min_doc) with a map-side-combined groupBy — the same "
        "inverted-index shape as dedup_ngram_jaccard_pairs, no "
        "all-pairs anything; the join back is gram-keyed equi. At 100 "
        "TB the gram table shards by hash like any term dictionary."
    ),
    tags=("text", "llm", "ngram", "dedup"),
)
def text_ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 optimization (guide §2.3/§2.4): the original joined the full
    # gram explode against a broadcast (gram -> first_doc) dictionary —
    # a corpus-sized broadcast plus a |grams|-row join carrying every
    # gram row into the doc aggregate. But the join is redundant: a
    # gram g is novel for doc d iff (g, min_doc(g)) == (g, d), and that
    # pair is exactly one row of the firsts aggregate. So n_novel per
    # doc is just COUNT(*) of firsts grouped by first_doc, and n_grams
    # per doc is COUNT(*) of the explode grouped by doc_id — two
    # map-side-combined aggregates joined at DOC grain (bounded rows),
    # no gram-grain join, no corpus-sized broadcast at any scale.
    t = Tables(spark, sf_dir)
    # r12: spread() before the gram explode (single-row-group layout)
    grams = ngram_novelty_grams(spread(t.documents.select("doc_id", "text")))
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    novel = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_grams").cast("double")).alias(
                "novelty"
            ),
        )
    )


#: shared RAKE stopword list (interpolated into BOTH engines' queries)
_RAKE_STOPS = (
    "the a an and or of in on to is are was were for with as by at it "
    "this that be from has have had not but they you we he she its"
).split()
_RAKE_STOPS_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOPS)
_RAKE_TOP = 20
_RAKE_DYN_STOPS = 12  # corpus-adaptive delimiter words (RAKE §1.2.2)
_RAKE_SC = "10000000000"


@register(
    "text_rake_keyword_extraction",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, s['i'] AS pos, s['w'] AS w
            FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(string_split(text, ' ')) + 1),
                           i -> struct_pack(i := i, w := string_split(text, ' ')[i])
                       )) AS s
                FROM documents
            )
        ),
        corpus_stops AS (
            SELECT w FROM words GROUP BY w
            ORDER BY COUNT(*) DESC, w LIMIT {_RAKE_DYN_STOPS}
        ),
        content AS (
            SELECT doc_id, pos, w FROM words
            WHERE w NOT IN ({_RAKE_STOPS_SQL})
              AND w NOT IN (SELECT w FROM corpus_stops)
              AND length(w) >= 3
        ),
        grp AS (
            SELECT doc_id, pos, w,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM content
        ),
        phrases AS (
            SELECT doc_id, g,
                   string_agg(w, ' ' ORDER BY pos) AS phrase,
                   CAST(COUNT(*) AS BIGINT) AS plen
            FROM grp GROUP BY doc_id, g
        ),
        inst AS (
            SELECT gr.doc_id, gr.g, gr.w, p.plen
            FROM grp gr JOIN phrases p USING (doc_id, g)
        ),
        wstats AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(plen) AS BIGINT) AS degree
            FROM inst GROUP BY w
        ),
        scored AS (
            SELECT i.doc_id, i.g,
                   CAST(SUM(CAST(ws.degree AS HUGEINT) * {_RAKE_SC} // ws.freq)
                        AS BIGINT) AS score_scaled
            FROM inst i JOIN wstats ws USING (w) GROUP BY i.doc_id, i.g
        )
        SELECT p.phrase,
               CAST(MAX(p.plen) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(MAX(s.score_scaled) AS DOUBLE) / {_RAKE_SC}.0 AS rake_score
        FROM phrases p JOIN scored s ON s.doc_id = p.doc_id AND s.g = p.g
        GROUP BY p.phrase
        ORDER BY rake_score DESC, phrase
        LIMIT {_RAKE_TOP}
    """,
    doc=(
        "RAKE keyword extraction (Rose et al. 2010), fully "
        "distributed: candidate phrases are maximal stopword-free word "
        "runs found by the gaps-and-islands trick (pos - row_number "
        "per doc); the delimiter set is the static stoplist PLUS the "
        "corpus's own top-12 most frequent words (the frequency-"
        "derived stoplist of RAKE §1.2.2 — self-adapting to any "
        "domain vocabulary, computed as a broadcast anti-join, "
        "deterministic via the (count DESC, word) tie-break "
        "per doc — windows partition by doc_id, bounded by doc "
        "length); word degree (Σ phrase length over occurrences) and "
        "frequency reduce at vocabulary grain; each phrase scores "
        "Σ degree(w)/freq(w) folded EXACTLY as 1e10-scaled integers "
        "(the quotient is bounded by max-phrase-length·1e10, so it "
        "provably fits BIGINT at any corpus size); identical phrases "
        "across docs dedup to one keyword with its occurrence count. "
        "Top-20 is a TakeOrdered — the corpus is never globally "
        "sorted. The keyword-extraction gap in the text family: "
        "top_salient_terms ranks single words, this ranks phrases."
    ),
    tags=("text", "llm", "ngram"),
)
def text_rake_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    words = t.documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    corpus_stops = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(_RAKE_DYN_STOPS)
        .select("w")
    )
    content = words.filter(
        ~F.col("w").isin(*_RAKE_STOPS) & (F.length("w") >= 3)
    ).join(F.broadcast(corpus_stops), "w", "left_anti")
    # r12 (guide §2.4): grp (posexplode + stopword anti-join + the
    # per-doc row_number window) feeds phrases, inst, and through them
    # every downstream join — the before plan ran the Window 5x (10
    # Window nodes, 732 plan lines). One instance-grain materialization
    # computes it once: 2.43 -> 1.70s same-session A/B, output proven
    # identical. Checkpointing phrases too was measured slower (the
    # ObjectHashAggregate recompute is cheaper than its serialization).
    grp = materialize(
        content.withColumn(
            "g",
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
        )
    )
    phrases = grp.groupBy("doc_id", "g").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda x: x["w"]
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("plen"),
    )
    inst = grp.join(phrases.select("doc_id", "g", "plen"), ["doc_id", "g"])
    wstats = inst.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    )
    scored = (
        inst.join(wstats, "w")
        .groupBy("doc_id", "g")
        .agg(
            F.expr(
                f"CAST(SUM(CAST(degree AS DECIMAL(38,0)) * {_RAKE_SC} DIV freq)"
                " AS BIGINT)"
            ).alias("score_scaled")
        )
    )
    return (
        phrases.join(scored, ["doc_id", "g"])
        .groupBy("phrase")
        .agg(
            F.max("plen").cast("bigint").alias("n_words"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            (F.max("score_scaled").cast("double") / float(_RAKE_SC)).alias(
                "rake_score"
            ),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(_RAKE_TOP)
    )


#: Gopher quality-rule thresholds (Rae et al. 2021, Table A1 subset),
#: adapted to the synthetic corpus: the stopword list uses this
#: corpus's function words (the canonical list is {the, be, to, of,
#: and, that, have, with}).
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000
_GOPHER_MIN_MWL, _GOPHER_MAX_MWL = 3.0, 10.0
_GOPHER_STOPWORDS = ("the", "a", "data", "key", "row")
_GOPHER_MIN_STOPWORDS = 2


@register(
    "text_gopher_quality_rules",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents
        ),
        m AS (
            SELECT doc_id,
                   CAST(len(words) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(words, x -> length(x)))
                        AS DOUBLE) / len(words) AS mean_word_len,
                   CAST(len(list_filter(words, x -> x IN
                        {tuple(_GOPHER_STOPWORDS)!r})) AS BIGINT)
                       AS n_stopwords,
                   CAST(len(list_filter(words,
                        x -> regexp_matches(x, '[a-zA-Z]')))
                        AS DOUBLE) / len(words) AS alpha_word_frac
            FROM w
        )
        SELECT doc_id, n_words, mean_word_len, n_stopwords, alpha_word_frac,
               n_words >= {_GOPHER_MIN_WORDS}
                   AND n_words <= {_GOPHER_MAX_WORDS} AS pass_word_count,
               mean_word_len >= {_GOPHER_MIN_MWL}
                   AND mean_word_len <= {_GOPHER_MAX_MWL} AS pass_mean_word_len,
               alpha_word_frac >= 0.8 AS pass_alpha_frac,
               n_stopwords >= {_GOPHER_MIN_STOPWORDS} AS pass_stopwords,
               n_words >= {_GOPHER_MIN_WORDS}
                   AND n_words <= {_GOPHER_MAX_WORDS}
                   AND mean_word_len >= {_GOPHER_MIN_MWL}
                   AND mean_word_len <= {_GOPHER_MAX_MWL}
                   AND alpha_word_frac >= 0.8
                   AND n_stopwords >= {_GOPHER_MIN_STOPWORDS} AS keep
        FROM m
    """,
    doc=(
        "Gopher-style document quality rules (Rae et al. 2021): the "
        "rule battery every LLM pretraining pipeline runs before "
        "anything expensive — word-count bounds [50, 100k], mean word "
        "length [3, 10], fraction of words containing an alphabetic "
        "character >= 0.8, and >= 2 stopwords (list adapted to this "
        "corpus's function words; the symbol-ratio and bullet-line "
        "rules of the full battery are vacuous on single-line "
        "symbol-free synthetic text and omitted rather than asserted "
        "trivially). All metrics are row-local higher-order array "
        "functions — zero shuffle, whole-stage-codegen, linear scan; "
        "the mean-word-length division is the only float op and both "
        "engines divide the same exact integers. Emits per-rule pass "
        "flags AND the conjunctive keep verdict so downstream sampling "
        "can weight by failure mode instead of just dropping."
    ),
    tags=("text", "llm", "quality"),
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("bigint")
    mwl = (
        F.aggregate(
            F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
        ).cast("double")
        / F.size(words)
    )
    n_stop = F.size(
        F.filter(words, lambda w: w.isin(*_GOPHER_STOPWORDS))
    ).cast("bigint")
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double")
        / F.size(words)
    )
    m = t.documents.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        n_stop.alias("n_stopwords"),
        alpha_frac.alias("alpha_word_frac"),
    )
    pass_wc = (F.col("n_words") >= _GOPHER_MIN_WORDS) & (
        F.col("n_words") <= _GOPHER_MAX_WORDS
    )
    pass_mwl = (F.col("mean_word_len") >= _GOPHER_MIN_MWL) & (
        F.col("mean_word_len") <= _GOPHER_MAX_MWL
    )
    pass_alpha = F.col("alpha_word_frac") >= 0.8
    pass_stop = F.col("n_stopwords") >= _GOPHER_MIN_STOPWORDS
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "n_stopwords",
        "alpha_word_frac",
        pass_wc.alias("pass_word_count"),
        pass_mwl.alias("pass_mean_word_len"),
        pass_alpha.alias("pass_alpha_frac"),
        pass_stop.alias("pass_stopwords"),
        (pass_wc & pass_mwl & pass_alpha & pass_stop).alias("keep"),
    )


_KN_D = 0.75  # absolute discount — dyadic, exactly representable
_KN_TOP = 20

#: interpolated Kneser-Ney bigram probability — shared double formula
#: over five exact integer counts (c(u,w), c(u), N1+(u.), N1+(.w), T)
_KN_P = (
    "greatest(CAST(cuw AS DOUBLE) - 0.75, 0.0) / CAST(cu AS DOUBLE)"
    " + (0.75 * CAST(n1u AS DOUBLE) / CAST(cu AS DOUBLE))"
    " * (CAST(n1w AS DOUBLE) / CAST(tt AS DOUBLE))"
)


@register(
    "text_kneser_ney_bigram_lm",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        bg AS (
            SELECT unnest(list_transform(
                       range(1, greatest(len(t), 1)),
                       i -> struct_pack(u := t[i], w := t[i + 1]))) AS s
            FROM toks
        ),
        pairs AS (SELECT s.u AS u, s.w AS w FROM bg WHERE s.w IS NOT NULL),
        cuw AS (
            SELECT u, w, CAST(COUNT(*) AS BIGINT) AS cuw
            FROM pairs GROUP BY u, w
        ),
        cu AS (SELECT u, CAST(SUM(cuw) AS BIGINT) AS cu,
                      CAST(COUNT(*) AS BIGINT) AS n1u
               FROM cuw GROUP BY u),
        cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1w FROM cuw GROUP BY w),
        tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM cuw)
        SELECT c.u, c.w, c.cuw, cu.cu, cu.n1u, cw.n1w,
               {_KN_P} AS p_kn
        FROM cuw c JOIN cu USING (u) JOIN cw USING (w), tt
        ORDER BY p_kn DESC, c.u, c.w
        LIMIT {_KN_TOP}
    """,
    doc=(
        "Interpolated Kneser-Ney bigram language model over the corpus "
        "— THE n-gram smoothing method (the strongest count-based LM, "
        "and the quality-filter scorer of choice before neural "
        "perplexity): P(w|u) = max(c(u,w)-d, 0)/c(u) + d*N1+(u.)/c(u) "
        "* N1+(.w)/|types|, where the continuation probability counts "
        "how many CONTEXTS a word follows rather than how often it "
        "occurs (the insight that fixes 'San Francisco' inflating "
        "P(Francisco)). Discount d = 0.75 is dyadic and every input is "
        "an exact integer count from three cascading aggregates over "
        "the bigram-type table (each strictly smaller), so the shared "
        "formula (_KN_P) is hash-exact — NO ln/exp anywhere, which is "
        "what makes this the one LM this engine can oracle exactly. "
        "Top-20 by probability is a TakeOrdered; at corpus scale the "
        "type tables shard by u/w hash like any n-gram count job."
    ),
    tags=("text", "llm", "ngram"),
)
def text_kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # r12: spread() so the bigram explode parallelizes on the
    # single-row-group local layout (no-op on well-split layouts)
    pairs = spread(t.documents.select("text")).select(
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 2 THEN "
                "transform(sequence(0, size(split(text, ' ')) - 2),"
                " i -> named_struct('u', split(text, ' ')[i],"
                " 'w', split(text, ' ')[i + 1]))"
                " ELSE array() END"
            )
        ).alias("s")
    ).select(F.col("s.u").alias("u"), F.col("s.w").alias("w"))
    # r11 (guide §2.4): the bigram count table feeds FOUR consumers
    # (the final join's left side, cu, cw, tt) — the before plan showed
    # four scans each re-running the explode + (u, w) shuffle. One
    # checkpointed type-count table computes the bigram space once.
    cuw = materialize(
        pairs.groupBy("u", "w").agg(
            F.count(F.lit(1)).cast("bigint").alias("cuw")
        )
    )
    cu = cuw.groupBy("u").agg(
        F.sum("cuw").cast("bigint").alias("cu"),
        F.count(F.lit(1)).cast("bigint").alias("n1u"),
    )
    cw = cuw.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n1w"))
    tt = cuw.agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
    return (
        cuw.join(cu, "u")
        .join(cw, "w")
        .crossJoin(F.broadcast(tt))
        .select("u", "w", "cuw", "cu", "n1u", "n1w", F.expr(_KN_P).alias("p_kn"))
        .orderBy(F.desc("p_kn"), "u", "w")
        .limit(_KN_TOP)
    )


_BURST_TOP = 25
_BURST_MIN_DOCS = 20  # a word must appear in >= this many docs to rank


@register(
    "text_token_burstiness",
    oracle=f"""
        WITH counts AS (
            SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            GROUP BY doc_id, w
        ),
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        s AS (
            SELECT w,
                   CAST(COUNT(*) AS BIGINT) AS df,
                   CAST(SUM(c) AS BIGINT) AS tf,
                   CAST(SUM(c * c) AS BIGINT) AS tf2
            FROM counts GROUP BY w
        )
        SELECT w AS word, df, tf,
               ((CAST(n_docs AS DOUBLE) * CAST(tf2 AS DOUBLE)
                 - CAST(tf AS DOUBLE) * CAST(tf AS DOUBLE))
                / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1.0)))
               / (CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS fano_factor
        FROM s, nd
        WHERE df >= {_BURST_MIN_DOCS}
        ORDER BY fano_factor DESC, w
        LIMIT {_BURST_TOP}
    """,
    doc=(
        "Token burstiness via the Fano factor (variance-to-mean ratio "
        "of per-document counts, zeros included): content words CLUMP "
        "— once a document mentions a topic word it repeats it — "
        "while function words spread Poisson-like (Fano ~ 1); the "
        "statistic behind burstiness-aware retrieval weighting and a "
        "cheap topical-vs-boilerplate detector for corpus audits. "
        "Per-(doc, word) counts reduce map-side; per-word df, tf and "
        "sum-of-squares are exact integers (zero-count docs enter the "
        "moments through the closed form n*sum(c^2) - tf^2 without "
        "being materialized — the variance expansion handles the "
        "sparse zeros analytically); the Fano ratio is one shared "
        "double expression per surviving word, top-25 by TakeOrdered. "
        "Min-df {0} gate keeps one-doc flukes out of the ranking."
        .format(_BURST_MIN_DOCS)
    ),
    tags=("text", "llm", "stats"),
)
def text_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    counts = (
        t.documents.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    nd = t.documents.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    s = counts.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("tf"),
        F.expr("CAST(SUM(c * c) AS BIGINT)").alias("tf2"),
    )
    fano = (
        "((CAST(n_docs AS DOUBLE) * CAST(tf2 AS DOUBLE)"
        " - CAST(tf AS DOUBLE) * CAST(tf AS DOUBLE))"
        " / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1.0)))"
        " / (CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    )
    return (
        s.filter(F.col("df") >= _BURST_MIN_DOCS)
        .crossJoin(F.broadcast(nd))
        .select(F.col("w").alias("word"), "df", "tf", F.expr(fano).alias("fano_factor"))
        .orderBy(F.desc("fano_factor"), "word")
        .limit(_BURST_TOP)
    )


#: per-word Bhattacharyya term, quantized to 1e-6 by floor so the sum
#: is an exact BIGINT (sum order free) — the quantized form IS the spec
_BC_TERM = "CAST(floor(1000000.0 * sqrt(CAST(cp AS DOUBLE) * CAST(cq AS DOUBLE))) AS BIGINT)"


@register(
    "text_bhattacharyya_source_overlap",
    oracle=f"""
        WITH words AS (
            SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        src AS (
            SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cp
            FROM words GROUP BY source, w
        ),
        corpus AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS cq FROM words GROUP BY w
        ),
        norms AS (
            SELECT source, CAST(SUM(cp) AS BIGINT) AS np FROM src GROUP BY source
        ),
        total AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq FROM words),
        terms AS (
            SELECT s.source, CAST(SUM({_BC_TERM}) AS BIGINT) AS bc_int
            FROM src s JOIN corpus USING (w)
            GROUP BY s.source
        )
        SELECT t.source, n.np AS n_tokens,
               CAST(t.bc_int AS DOUBLE)
                   / (1000000.0 * sqrt(CAST(n.np AS DOUBLE) * CAST(tot.nq AS DOUBLE)))
                   AS bhattacharyya_coef
        FROM terms t JOIN norms n USING (source), total tot
    """,
    doc=(
        "Bhattacharyya coefficient between each source's word "
        "distribution and the corpus-wide distribution: BC = sum_w "
        "sqrt(p_w * q_w) in [0, 1] — the distribution-overlap audit "
        "that flags an off-topic or degenerate source BEFORE it "
        "poisons a training mixture (the sqrt-based sibling of the "
        "Hellinger drift op: H^2 = 1 - BC). The per-word term is "
        "quantized to 1e-6 by floor(1e6 * sqrt(cp*cq)) so the "
        "accumulated sum is an exact BIGINT — order-free, hence "
        "hash-exact without any ordered-fold machinery — and the "
        "quantized definition is stated as the operator's spec (error "
        "<= 1e-6 per word). Word counts reduce map-side; the "
        "source-vocab x corpus-vocab equi-join is the inverted-index "
        "shape; one broadcast of the 20-row norm table."
    ),
    tags=("text", "llm", "stats", "quality"),
)
def text_bhattacharyya_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = t.documents.select("source", F.explode(F.split("text", " ")).alias("w"))
    src = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cp")
    )
    corpus = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("cq"))
    norms = src.groupBy("source").agg(F.sum("cp").cast("bigint").alias("np"))
    total = words.agg(F.count(F.lit(1)).cast("bigint").alias("nq"))
    terms = (
        src.join(corpus, "w")
        .groupBy("source")
        .agg(F.expr(f"CAST(SUM({_BC_TERM}) AS BIGINT)").alias("bc_int"))
    )
    return (
        terms.join(F.broadcast(norms), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            F.col("np").alias("n_tokens"),
            F.expr(
                "CAST(bc_int AS DOUBLE)"
                " / (1000000.0 * sqrt(CAST(np AS DOUBLE) * CAST(nq AS DOUBLE)))"
            ).alias("bhattacharyya_coef"),
        )
    )


@register(
    "text_lexical_diversity_ttr",
    oracle="""
        WITH wc AS (
            SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            GROUP BY doc_id, w
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
               CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
        FROM wc
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc=(
        "X4: per-document lexical diversity — type-token ratio and "
        "hapax-legomenon ratio, the two cheapest repetition/template "
        "detectors a quality pipeline runs before the zlib ratio "
        "(templated spam has low TTR; fresh prose has a high hapax "
        "share). explode -> (doc, word) hash agg with map-side "
        "combine -> per-doc fold; all counts exact BIGINTs, the two "
        "ratios shared single divisions. The (doc, word) table shards "
        "by hash at corpus scale — never a per-doc collect."
    ),
    tags=("text", "llm"),
)
def text_lexical_diversity_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wc = (
        t.documents.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)").alias("ttr"),
            F.expr("CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)").alias(
                "hapax_ratio"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "text_word_length_histogram",
    oracle="""
        WITH wl AS (
            SELECT CAST(length(w) AS BIGINT) AS wlen,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_words
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY length(w)
        )
        SELECT wlen, n, n_distinct_words,
               CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share
        FROM wl
        ORDER BY wlen
    """,
    doc=(
        "X4: corpus word-length histogram with per-length distinct "
        "vocabulary — the tokenizer-diagnostics profile (a byte-pair "
        "vocabulary budget is planned off exactly this distribution, "
        "and a sudden mass at extreme lengths is a crawl-junk signal). "
        "explode -> single hash agg keyed by length (map-side "
        "combinable); the share denominator is a window over the "
        "~30-row histogram itself — metadata-scale, like the survival "
        "curve's 31-row grid. Counts exact; one shared division."
    ),
    tags=("text", "llm", "histogram"),
)
def text_word_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    wl = (
        t.documents.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy(F.length("w").cast("bigint").alias("wlen"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("w").cast("bigint").alias("n_distinct_words"),
        )
    )
    return (
        wl.withColumn("_tot", F.sum("n").over(W.partitionBy()).cast("bigint"))
        .select(
            "wlen",
            "n",
            "n_distinct_words",
            F.expr("CAST(n AS DOUBLE) / CAST(_tot AS DOUBLE)").alias("share"),
        )
        .orderBy("wlen")
    )


@register(
    "text_frequency_spectrum_good_turing",
    oracle="""
        WITH wc AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY w
        ),
        spec AS (
            SELECT CASE WHEN c <= 10 THEN c ELSE 11 END AS freq_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(c) AS BIGINT) AS n_tokens
            FROM wc
            GROUP BY CASE WHEN c <= 10 THEN c ELSE 11 END
        )
        SELECT freq_bucket, n_types, n_tokens,
               CAST(n_tokens AS DOUBLE)
                   / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_share
        FROM spec
        ORDER BY freq_bucket
    """,
    doc=(
        "X4: word frequency-of-frequencies spectrum (types occurring "
        "exactly k times, k = 1..10 plus an 11+ tail bucket) — the "
        "Good-Turing input table: N_1/N estimates the unseen-mass "
        "probability, and the N_k curve is what every count-based LM "
        "smoother (including the Kneser-Ney variant already in the "
        "battery) is fit against; it is also the corpus-growth "
        "diagnostic behind Heaps'-law monitoring. Two cascading hash "
        "aggregates, each strictly smaller (corpus -> vocabulary -> "
        "<= 11 rows); the share window runs over the 11-row spectrum "
        "itself. All counts exact BIGINTs; one shared division."
    ),
    tags=("text", "llm", "histogram"),
)
def text_frequency_spectrum_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    wc = (
        t.documents.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    spec = wc.groupBy(
        F.when(F.col("c") <= 10, F.col("c")).otherwise(F.lit(11)).alias("freq_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    return (
        spec.withColumn(
            "_tot", F.sum("n_tokens").over(W.partitionBy()).cast("bigint")
        )
        .select(
            "freq_bucket",
            "n_types",
            "n_tokens",
            F.expr("CAST(n_tokens AS DOUBLE) / CAST(_tot AS DOUBLE)").alias(
                "token_share"
            ),
        )
        .orderBy("freq_bucket")
    )


# ---------------------------------------------------------------------------
# Round-7 additions (SURVEY §2.17): Zipf rank-frequency profile and the
# cross-language vocabulary-overlap matrix.
# ---------------------------------------------------------------------------


@register(
    "text_zipf_rank_frequency",
    oracle="""
        WITH wc AS (
            SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY w
        ),
        top AS (
            SELECT word, freq,
                   row_number() OVER (ORDER BY freq DESC, word) AS rank
            FROM wc
            ORDER BY freq DESC, word
            LIMIT 30
        )
        SELECT rank, word, freq,
               CAST(rank * freq AS BIGINT) AS rank_x_freq,
               CAST(freq AS DOUBLE)
                   / CAST(lead(freq) OVER (ORDER BY rank) AS DOUBLE)
                 AS ratio_to_next
        FROM top
        ORDER BY rank
    """,
    doc=(
        "X4x: Zipf rank-frequency profile of the corpus vocabulary — "
        "the top-30 words with rank, frequency, the rank x frequency "
        "product (constant under an ideal Zipf law, the eyeball "
        "diagnostic), and the frequency ratio to the next rank. One "
        "map-side-combined word count, a TakeOrdered top-30, then "
        "30-row metadata windows; exact integers plus one shared "
        "division (ln-free — the classical log-log slope needs ln, so "
        "the profile emits the raw curve instead). Deterministic "
        "(freq DESC, word) tiebreak."
    ),
    tags=("text", "llm", "topk"),
)
def text_zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    wc = (
        t.documents.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    top = (
        wc.orderBy(F.desc("freq"), "word")
        .limit(30)
        .select(
            "word",
            "freq",
            F.row_number().over(W.orderBy(F.desc("freq"), "word")).alias("rank"),
        )
    )
    return top.select(
        "rank",
        "word",
        "freq",
        (F.col("rank") * F.col("freq")).cast("bigint").alias("rank_x_freq"),
        (
            F.col("freq").cast("double")
            / F.lead("freq").over(W.orderBy("rank")).cast("double")
        ).alias("ratio_to_next"),
    ).orderBy("rank")


@register(
    "text_vocab_overlap_langs",
    oracle="""
        WITH lv AS (
            SELECT DISTINCT lang, w AS word
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
                  FROM documents)
        ),
        sizes AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab FROM lv GROUP BY lang
        ),
        inter AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM lv a JOIN lv b ON a.word = b.word AND a.lang < b.lang
            GROUP BY a.lang, b.lang
        )
        SELECT i.lang_a, i.lang_b, sa.vocab AS vocab_a, sb.vocab AS vocab_b,
               i.n_shared,
               CAST(i.n_shared AS DOUBLE)
                   / CAST(sa.vocab + sb.vocab - i.n_shared AS DOUBLE)
                 AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.lang = i.lang_a
        JOIN sizes sb ON sb.lang = i.lang_b
        ORDER BY lang_a, lang_b
    """,
    doc=(
        "X4y: cross-language vocabulary-overlap matrix — exact Jaccard "
        "between each language pair's distinct word sets: the signal "
        "that catches mislabeled-language and code-switched documents "
        "before language-targeted filtering (a high en/fr overlap "
        "means the langid column lies). The per-lang vocabulary is one "
        "distinct fold; pair intersections come from the INVERTED "
        "equi-join on word (never a lang x lang cross of word sets) — "
        "the same candidates-from-shared-tokens shape as the dedup "
        "tier, linear in posting sizes at 100 TB. Counts exact, "
        "Jaccard one shared inclusion-exclusion division."
    ),
    tags=("text", "llm", "dq"),
)
def text_vocab_overlap_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    lv = t.documents.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).distinct()
    sizes = lv.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    a = lv.select(F.col("lang").alias("lang_a"), "word")
    b = lv.select(F.col("lang").alias("lang_b"), "word")
    inter = (
        a.join(b, "word")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("vocab").alias("vocab_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("vocab").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            F.expr(
                "CAST(n_shared AS DOUBLE)"
                " / CAST(vocab_a + vocab_b - n_shared AS DOUBLE)"
            ).alias("jaccard"),
        )
        .orderBy("lang_a", "lang_b")
    )


@register(
    "text_code_like_score",
    oracle="""
        WITH m AS (
            SELECT doc_id, n_chars,
                   CAST(length(text)
                        - length(regexp_replace(text, '[{}();=<>\\[\\]]', '', 'g'))
                        AS BIGINT) AS n_code_chars,
                   CAST(length(text)
                        - length(regexp_replace(text, '[0-9]', '', 'g'))
                        AS BIGINT) AS n_digits,
                   CAST(length(text) - length(replace(text, ' ', ''))
                        AS BIGINT) AS n_spaces,
                   CAST(length(text) AS BIGINT) AS n
            FROM documents
        )
        SELECT doc_id, n_code_chars, n_digits,
               CAST(n_code_chars AS DOUBLE) / CAST(n AS DOUBLE) AS code_char_ratio,
               CAST(n_digits AS DOUBLE) / CAST(n AS DOUBLE) AS digit_ratio,
               CAST(n_spaces AS DOUBLE) / CAST(n AS DOUBLE) AS space_ratio,
               CAST(n_code_chars AS DOUBLE) / CAST(n AS DOUBLE) > 0.05
                 AS code_like
        FROM m
        ORDER BY doc_id
    """,
    doc=(
        "X4z: code-vs-prose heuristic per document — the ratio of "
        "code-syntax characters ({}();=<> and brackets), digits, and "
        "spaces to total length, with a code-like flag at the 5%% "
        "syntax-char threshold: the cheap router that separates "
        "natural-language from source-code documents before language-"
        "specific quality filters (prose mis-scored by a code-trained "
        "filter, and vice versa, is a classic curation bug). Pure "
        "codegen column expressions — counts via regexp_replace "
        "length deltas, identical POSIX classes on both engines; "
        "map-only, zero shuffles."
    ),
    tags=("text", "llm", "quality"),
)
def text_code_like_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    m = t.documents.select(
        "doc_id",
        F.expr(
            "CAST(length(text)"
            " - length(regexp_replace(text, '[{}();=<>\\\\[\\\\]]', ''))"
            " AS BIGINT)"
        ).alias("n_code_chars"),
        F.expr(
            "CAST(length(text) - length(regexp_replace(text, '[0-9]', ''))"
            " AS BIGINT)"
        ).alias("n_digits"),
        F.expr(
            "CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)"
        ).alias("n_spaces"),
        F.expr("CAST(length(text) AS BIGINT)").alias("n"),
    )
    return m.select(
        "doc_id",
        "n_code_chars",
        "n_digits",
        F.expr("CAST(n_code_chars AS DOUBLE) / CAST(n AS DOUBLE)").alias(
            "code_char_ratio"
        ),
        F.expr("CAST(n_digits AS DOUBLE) / CAST(n AS DOUBLE)").alias("digit_ratio"),
        F.expr("CAST(n_spaces AS DOUBLE) / CAST(n AS DOUBLE)").alias("space_ratio"),
        F.expr("CAST(n_code_chars AS DOUBLE) / CAST(n AS DOUBLE) > 0.05").alias(
            "code_like"
        ),
    ).orderBy("doc_id")


@register(
    "text_sentence_length_stats",
    oracle="""
        WITH m AS (
            SELECT doc_id,
                   CAST(length(text) - length(replace(text, '.', '')) + 1
                        AS BIGINT) AS n_sentences,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS BIGINT) AS n_words
            FROM documents
        )
        SELECT doc_id, n_sentences, n_words,
               CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
                 AS words_per_sentence,
               CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
                 BETWEEN 3.0 AND 80.0 AS sentence_length_sane
        FROM m
        ORDER BY doc_id
    """,
    doc=(
        "X4aa: sentence-length profile per document — sentence count "
        "(period-delimited), word count, and words-per-sentence with "
        "a sanity band (3..80): the readability-grain quality rule "
        "that catches run-on boilerplate (one 5000-word 'sentence') "
        "and fragment spam (every word its own 'sentence'), both of "
        "which pass length filters while being garbage — the Gopher "
        "rule family's missing grain. Counts are replace-length "
        "deltas (pure codegen, identical on both engines); the ratio "
        "and its band verdict are one shared expression. Map-only."
    ),
    tags=("text", "llm", "quality"),
)
def text_sentence_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    m = t.documents.select(
        "doc_id",
        F.expr(
            "CAST(length(text) - length(replace(text, '.', '')) + 1 AS BIGINT)"
        ).alias("n_sentences"),
        F.expr(
            "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"
        ).alias("n_words"),
    )
    ratio = "CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)"
    return m.select(
        "doc_id",
        "n_sentences",
        "n_words",
        F.expr(ratio).alias("words_per_sentence"),
        F.expr(f"{ratio} BETWEEN 3.0 AND 80.0").alias("sentence_length_sane"),
    ).orderBy("doc_id")


@register(
    "text_length_profile_by_lang",
    oracle="""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               quantile_cont(n_chars, 0.25) AS q1_chars,
               quantile_cont(n_chars, 0.5) AS median_chars,
               quantile_cont(n_chars, 0.75) AS q3_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    doc=(
        "X4ab: document-length five-number profile per language — the "
        "distribution every per-language quality threshold must be "
        "calibrated against (a 50-char cutoff that is noise for "
        "English removes half of Chinese, where characters carry "
        "words): min / quartiles / max / total chars per lang in ONE "
        "hash aggregate. n_chars is integral so the quarter-fraction "
        "quantile interpolation is bit-identical cross-engine (the "
        "Bowley contract); everything else is exact BIGINT."
    ),
    tags=("text", "llm", "quality", "quantile"),
)
def text_length_profile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.documents.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.expr("percentile(n_chars, 0.25)").alias("q1_chars"),
            F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
            F.expr("percentile(n_chars, 0.75)").alias("q3_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "text_token_coverage_curve",
    oracle="""
        WITH vocab AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY w
        ),
        ranked AS (
            SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rn
            FROM vocab
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
               CAST(SUM(cnt) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN rn <= 100 THEN cnt ELSE 0 END) AS BIGINT)
                   AS top100_tokens,
               CAST(SUM(CASE WHEN rn <= 1000 THEN cnt ELSE 0 END) AS BIGINT)
                   AS top1000_tokens,
               CAST(SUM(CASE WHEN rn <= 10000 THEN cnt ELSE 0 END) AS BIGINT)
                   AS top10000_tokens,
               CAST(SUM(CASE WHEN rn <= 100 THEN cnt ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(cnt) AS DOUBLE) AS coverage_100,
               CAST(SUM(CASE WHEN rn <= 1000 THEN cnt ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(cnt) AS DOUBLE) AS coverage_1000,
               CAST(SUM(CASE WHEN rn <= 10000 THEN cnt ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(cnt) AS DOUBLE) AS coverage_10000
        FROM ranked
    """,
    doc=(
        "X4ad: token coverage curve — what fraction of all corpus "
        "tokens the top-100 / top-1k / top-10k vocabulary words cover: "
        "the vocabulary-size budget question a tokenizer design "
        "answers before BPE training (complements Heaps' growth and "
        "the per-doc OOV rate, which measure the other two axes). The "
        "corpus collapses to its word-count table in one shuffle; the "
        "frequency rank uses the bucket-offset global row number on "
        "the NEGATED count (no vocabulary-grain single-partition "
        "sort), deterministic (cnt DESC, word) tie-break; one "
        "conditional aggregate emits the whole curve."
    ),
    tags=("text", "llm", "tokenizer"),
)
def text_token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_row_number

    t = Tables(spark, sf_dir)
    vocab = (
        t.documents.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    ranked = bucketed_row_number(
        vocab, F.expr("-(cnt DIV 64)"), [F.desc("cnt"), "w"], out="rn"
    )
    cov = lambda k: (  # noqa: E731
        F.sum(F.when(F.col("rn") <= k, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias(f"top{k}_tokens")
    )
    out = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum("cnt").cast("bigint").alias("total_tokens"),
        cov(100),
        cov(1000),
        cov(10000),
    )
    return out.select(
        "vocab_size",
        "total_tokens",
        "top100_tokens",
        "top1000_tokens",
        "top10000_tokens",
        (F.col("top100_tokens").cast("double") / F.col("total_tokens").cast("double")).alias("coverage_100"),
        (F.col("top1000_tokens").cast("double") / F.col("total_tokens").cast("double")).alias("coverage_1000"),
        (F.col("top10000_tokens").cast("double") / F.col("total_tokens").cast("double")).alias("coverage_10000"),
    )


def _bpe_fertility_oracle() -> str:
    parts, _tops, final = _bpe_cte_parts()
    return (
        "WITH " + ",".join(parts) + f""",
        enc AS (SELECT wid, CAST(len(sym) AS BIGINT) AS wtok FROM {final}),
        dw AS (
            SELECT lang, n_chars,
                   unnest(string_split(text, ' ')) AS w
            FROM documents
        )
        SELECT dw.lang,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(e.wtok) AS BIGINT) AS n_tokens,
               CAST(SUM(e.wtok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS fertility
        FROM dw JOIN enc e ON dw.w = e.wid
        GROUP BY dw.lang
        ORDER BY dw.lang"""
    )


@register(
    "text_bpe_fertility_by_lang",
    oracle=_bpe_fertility_oracle(),
    doc=(
        "X4ae: tokenizer fertility by language — BPE tokens per word "
        "for each lang under the trained merge table: THE fairness "
        "metric for a multilingual tokenizer (a lang with fertility "
        "2x pays 2x the context budget per word; the number quoted "
        "when deciding per-lang vocab allocations). Rides the same "
        "vocabulary-grain train + (doc, word) equi-join as "
        "text_bpe_encode_corpus, aggregated at language grain; the "
        "oracle replays the identical train via the shared CTE chain."
    ),
    tags=("text", "llm", "tokenizer", "eval"),
)
def text_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words, _merges = _bpe_train_words(t)
    wtok = words.select("w", F.size("sym").cast("bigint").alias("wtok"))
    dw = t.documents.select("lang", F.explode(F.split("text", " ")).alias("w"))
    return (
        dw.join(wtok, "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("wtok").cast("bigint").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("n_words").cast("double")).alias(
                "fertility"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Round-8 addition (SURVEY §2.18 X4af): Chao1 vocabulary-richness
# estimate — the "how many words exist that we have NOT crawled yet"
# companion of the Good-Turing spectrum and Heaps'-law tiers.
# ---------------------------------------------------------------------------


@register(
    "text_chao1_vocab_richness",
    oracle="""
        WITH wc AS (
            SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            GROUP BY lang, w
        ),
        s AS (
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS s_obs,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                   CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
            FROM wc GROUP BY lang
        )
        SELECT lang, s_obs, n_tokens, f1, f2,
               CAST(s_obs AS DOUBLE)
                 + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
                   / (2.0 * CAST(f2 + 1 AS DOUBLE)) AS chao1_richness,
               CAST(f1 AS DOUBLE) / CAST(s_obs AS DOUBLE) AS hapax_type_share,
               1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 AS turing_coverage
        FROM s
        ORDER BY lang
    """,
    doc=(
        "X4af: Chao1 species-richness estimate of the per-language "
        "vocabulary — S_chao1 = S_obs + f1*(f1-1) / (2*(f2+1)) from "
        "the singleton/doubleton counts (bias-corrected form, defined "
        "even at f2 = 0), plus the hapax type share and the Good-"
        "Turing sample coverage 1 - f1/N. This is the crawl-planning "
        "number: how much vocabulary the corpus is still MISSING per "
        "language, and how much probability mass the unseen tail "
        "holds — the same f1/f2 statistics the Good-Turing spectrum "
        "and Kneser-Ney tiers consume, rolled to a per-language "
        "verdict. Two cascading hash aggregates (corpus -> (lang, "
        "word) -> lang), all counts exact BIGINTs, three shared "
        "closed-form doubles."
    ),
    tags=("text", "llm"),
)
def text_chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    wc = (
        t.documents.select(
            "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    s = wc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.expr("CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("f1"),
        F.expr("CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)").alias("f2"),
    )
    return s.select(
        "lang",
        "s_obs",
        "n_tokens",
        "f1",
        "f2",
        F.expr(
            "CAST(s_obs AS DOUBLE) + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)"
            " / (2.0 * CAST(f2 + 1 AS DOUBLE))"
        ).alias("chao1_richness"),
        F.expr("CAST(f1 AS DOUBLE) / CAST(s_obs AS DOUBLE)").alias(
            "hapax_type_share"
        ),
        F.expr(
            "1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
        ).alias("turing_coverage"),
    ).orderBy("lang")


@register(
    "text_readability_fk_grade",
    oracle="""
        WITH en AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                   CAST(CASE WHEN length(text)
                               - length(replace(replace(replace(text,
                                   '.', ''), '!', ''), '?', '')) > 0
                             THEN length(text)
                               - length(replace(replace(replace(text,
                                   '.', ''), '!', ''), '?', ''))
                             ELSE 1 END AS BIGINT) AS n_sentences,
                   CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
                        AS BIGINT) AS n_syllable_groups
            FROM documents WHERE lang = 'en'
        )
        SELECT doc_id, n_words, n_sentences, n_syllable_groups,
               0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 + 11.8 * (CAST(n_syllable_groups AS DOUBLE)
                           / CAST(n_words AS DOUBLE))
                 - 15.59 AS fk_grade,
               CASE WHEN 0.39 * (CAST(n_words AS DOUBLE)
                                 / CAST(n_sentences AS DOUBLE))
                         + 11.8 * (CAST(n_syllable_groups AS DOUBLE)
                                   / CAST(n_words AS DOUBLE))
                         - 15.59 < 9.0
                    THEN 'accessible' ELSE 'advanced' END AS band
        FROM en
        ORDER BY doc_id
    """,
    doc=(
        "X4ag: Flesch-Kincaid grade-level readability over the English "
        "slice — 0.39*(words/sentences) + 11.8*(syllables/words) - "
        "15.59, the curriculum/quality signal that complements the "
        "Gopher rules (they gate garbage; FK grades DIFFICULTY, which "
        "curriculum-ordered training consumes directly). Syllables use "
        "the standard vowel-group proxy (contiguous [aeiouy]+ runs — "
        "a deterministic regexp count identical under RE2 and Java "
        "regex), sentences the [.!?] terminator count with a floor of "
        "one (the sentence-stats convention). Counts are exact "
        "BIGINTs; the grade is one shared closed-form double, the "
        "band an exact threshold on the same expression. Map-only "
        "per-doc grain, language-gated at scan time."
    ),
    tags=("text", "llm", "quality"),
)
def text_readability_fk_grade(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    en = t.documents.filter(F.col("lang") == "en").select(
        "doc_id",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_words"),
        F.expr(
            "CAST(CASE WHEN length(text)"
            " - length(replace(replace(replace(text, '.', ''), '!', ''),"
            " '?', '')) > 0"
            " THEN length(text)"
            " - length(replace(replace(replace(text, '.', ''), '!', ''),"
            " '?', ''))"
            " ELSE 1 END AS BIGINT)"
        ).alias("n_sentences"),
        F.expr(
            "CAST(size(regexp_extract_all(text, '[aeiouyAEIOUY]+', 0))"
            " AS BIGINT)"
        ).alias("n_syllable_groups"),
    )
    grade = (
        "0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))"
        " + 11.8 * (CAST(n_syllable_groups AS DOUBLE) / CAST(n_words AS DOUBLE))"
        " - 15.59"
    )
    return en.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllable_groups",
        F.expr(grade).alias("fk_grade"),
        F.expr(
            f"CASE WHEN {grade} < 9.0 THEN 'accessible' ELSE 'advanced' END"
        ).alias("band"),
    ).orderBy("doc_id")


# --- X4ai: BPE round-trip decode + detokenizer fidelity audit (r9) ---------


def _bpe_decode_oracle() -> str:
    """DuckDB twin of the decode round trip: replay the identical
    3-round train (shared CTE chain), assign dense token ids over the
    bounded symbol vocabulary, encode every vocabulary word to ids,
    decode the ids back through the vocabulary, and score corpus-level
    reconstruction fidelity over the whitespace-mutated audit corpus."""
    parts, _tops, final = _bpe_cte_parts()
    return (
        "WITH " + ",".join(parts) + f""",
        vocab AS (
            SELECT s, CAST(row_number() OVER (ORDER BY s) AS BIGINT) AS id
            FROM (SELECT DISTINCT unnest(sym) AS s FROM {final})
        ),
        wpos AS (
            SELECT wid, sym, unnest(range(1, len(sym) + 1)) AS i FROM {final}
        ),
        wsym AS (SELECT wid, i, sym[i] AS s FROM wpos),
        enc AS (
            SELECT w.wid, w.i, v.id FROM wsym w JOIN vocab v ON v.s = w.s
        ),
        dec AS (
            SELECT e.wid, e.i, v.s FROM enc e JOIN vocab v ON v.id = e.id
        ),
        wrec AS (
            SELECT wid, string_agg(s, '' ORDER BY i) AS w_rec,
                   CAST(COUNT(*) AS BIGINT) AS wtok
            FROM dec GROUP BY wid
        ),
        vaudit AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab_words,
                   CAST(SUM(CASE WHEN w_rec = wid THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_vocab_words_exact,
                   CAST(MAX(id) AS BIGINT) AS n_token_ids
            FROM wrec CROSS JOIN (SELECT MAX(id) AS id FROM vocab)
        ),
        docs2 AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN replace(text, ' ', '  ')
                        ELSE text END AS text2
            FROM documents
        ),
        dwp AS (
            SELECT doc_id, text2, words,
                   unnest(range(1, len(words) + 1)) AS wpos
            FROM (SELECT doc_id, text2,
                         regexp_extract_all(text2, '[^ ]+') AS words
                  FROM docs2)
        ),
        dw AS (SELECT doc_id, text2, wpos, words[wpos] AS w FROM dwp),
        drec AS (
            SELECT dw.doc_id,
                   ANY_VALUE(dw.text2) AS text2,
                   string_agg(wr.w_rec, ' ' ORDER BY dw.wpos) AS rec,
                   CAST(SUM(wr.wtok) AS BIGINT) AS n_tokens
            FROM dw JOIN wrec wr ON wr.wid = dw.w
            GROUP BY dw.doc_id
        ),
        daudit AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN rec = text2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_docs_exact,
                   CAST(SUM(CASE WHEN rec = trim(regexp_replace(text2, ' +', ' ', 'g'))
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_ws_normalized,
                   CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_docs_mutated,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total
            FROM drec
        )
        SELECT n_docs, n_docs_exact, n_docs_ws_normalized, n_docs_mutated,
               n_tokens_total, n_vocab_words, n_vocab_words_exact, n_token_ids
        FROM daudit CROSS JOIN vaudit"""
    )


@register(
    "text_bpe_decode_roundtrip_audit",
    oracle=_bpe_decode_oracle(),
    doc=(
        "X4ai: BPE DECODE round trip + detokenizer fidelity audit — "
        "the inverse of text_bpe_encode_corpus, closing the tokenizer "
        "loop (r8 verdict #6): train (shared 3-round chain), assign "
        "dense token ids over the symbol vocabulary (row_number over a "
        "BOUNDED grid — distinct characters + <=3 merged tokens, the "
        "10-decile/31-day-grid contract), encode every vocabulary word "
        "to id sequences, decode the ids back, and score "
        "reconstruction at both grains: vocabulary (every word must "
        "reconstruct byte-exactly from its ids — the id-table "
        "integrity pin) and corpus (documents rebuilt word-by-word "
        "and compared exact vs whitespace-normalized — the standard "
        "detokenizer fidelity report). The audit corpus deliberately "
        "injects irregular whitespace (doc_id % 7 == 0 gets every "
        "space doubled), so the two fidelity counts genuinely differ: "
        "split-on-whitespace tokenization is LOSSY for spacing, which "
        "is exactly what this QA step exists to quantify before "
        "anyone trains on detokenized text. All joins are "
        "vocabulary-grain equi-joins; the corpus side is one "
        "posexplode + equi-join on the word string, the same "
        "co-partition shape as the encoder. Oracle replays the "
        "identical train via the shared merge CTE chain — hash-exact."
    ),
    tags=("text", "llm", "tokenizer"),
)
def text_bpe_decode_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    words, _merges = _bpe_train_words(t)
    # the vocab is a BOUNDED grid (distinct characters + <=3 merged
    # tokens, ~30 rows at any corpus scale) referenced five times below
    # (encode join, decode join, id ceiling); checkpoint it once so the
    # plan reads it as a materialized scan instead of re-deriving the
    # global row_number from the word table per reference
    vocab = (
        words.select(F.explode("sym").alias("s"))
        .distinct()
        .select(
            "s",
            F.row_number().over(W.orderBy("s")).cast("bigint").alias("id"),
        )
        .localCheckpoint(eager=True)
    )
    wsym = words.select(
        F.col("w").alias("wid"), F.posexplode("sym").alias("i", "s")
    )
    enc = wsym.join(vocab, "s").select("wid", "i", "id")
    dec = enc.join(vocab.withColumnRenamed("s", "s_dec"), "id").select(
        "wid", "i", "s_dec"
    )
    wrec = dec.groupBy("wid").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(i, s_dec))),"
            " x -> x.s_dec), '')"
        ).alias("w_rec"),
        F.count(F.lit(1)).cast("bigint").alias("wtok"),
    )
    vaudit = wrec.crossJoin(vocab.agg(F.max("id").alias("max_id"))).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab_words"),
        F.sum(F.when(F.col("w_rec") == F.col("wid"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_vocab_words_exact"),
        F.max("max_id").cast("bigint").alias("n_token_ids"),
    )
    docs2 = t.documents.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.expr("replace(text, ' ', '  ')")
        )
        .otherwise(F.col("text"))
        .alias("text2"),
    )
    dw = docs2.select(
        "doc_id",
        "text2",
        F.posexplode(F.expr("regexp_extract_all(text2, '[^ ]+', 0)")).alias(
            "wpos", "w"
        ),
    )
    drec = (
        dw.join(wrec, dw["w"] == wrec["wid"])
        .groupBy("doc_id")
        .agg(
            F.first("text2").alias("text2"),
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(wpos, w_rec))),"
                " x -> x.w_rec), ' ')"
            ).alias("rec"),
            F.sum("wtok").cast("bigint").alias("n_tokens"),
        )
    )
    daudit = drec.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("rec") == F.col("text2"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_exact"),
        F.sum(
            F.when(
                F.col("rec")
                == F.expr("trim(regexp_replace(text2, ' +', ' '))"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_docs_ws_normalized"),
        F.sum(F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_mutated"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens_total"),
    )
    return daudit.crossJoin(vaudit).select(
        "n_docs",
        "n_docs_exact",
        "n_docs_ws_normalized",
        "n_docs_mutated",
        "n_tokens_total",
        "n_vocab_words",
        "n_vocab_words_exact",
        "n_token_ids",
    )


# --- X4aj: trained-quality-classifier scoring pass (r9) ---------------------

#: "trained" linear-model weights as a literal table — 64 hashed-unigram
#: bucket weights (fixed-point 1e-6 units) plus numeric-feature
#: coefficients over the Gopher-rule features. The values are a frozen
#: deterministic artifact (what a fastText-style quality classifier
#: exports after training); both the Spark query and the DuckDB oracle
#: read the SAME literal, so the score replays exactly.
_QC_BUCKETS = 64
_QC_W = tuple(((j * 2654435761 + 40503) % 2000001) - 1000000 for j in range(_QC_BUCKETS))
_QC_C_WORD = 1500        # per word, 1e-6 units
_QC_C_STOP = 250000      # per stopword occurrence
_QC_C_CHAR = -800        # per character of word text
_QC_C_ALPHA = 120000     # per word containing an alphabetic char
_QC_BIAS = -13_000_000
_QC_SCALE = 1_000_000.0


def _quality_classifier_oracle() -> str:
    from ..functions.xxh64_sql import rec_hash_ctes

    w_list = ", ".join(str(w) for w in _QC_W)
    stop = tuple(_GOPHER_STOPWORDS)
    return f"""
        WITH RECURSIVE
        dw AS MATERIALIZED (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        wq AS (SELECT DISTINCT w FROM dw),
        qc_src AS (SELECT w AS k, 0 AS tag, 42::HUGEINT AS seed, w AS s FROM wq),
        {rec_hash_ctes('qc')},
        wwt AS MATERIALIZED (
            SELECT o.k AS w,
                   ([{w_list}])[CAST(((o.hsig % {_QC_BUCKETS})
                        + {_QC_BUCKETS}) % {_QC_BUCKETS} AS INT) + 1] AS wt
            FROM qc_out o
        ),
        uni AS (
            SELECT dw.doc_id, CAST(SUM(ww.wt) AS BIGINT) AS unigram_fp
            FROM dw JOIN wwt ww ON ww.w = dw.w
            GROUP BY dw.doc_id
        ),
        feats AS (
            SELECT doc_id,
                   CAST(len(words) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(words, x -> length(x)))
                        AS BIGINT) AS n_chars_words,
                   CAST(len(list_filter(words, x -> x IN {stop!r}))
                        AS BIGINT) AS n_stopwords,
                   CAST(len(list_filter(words,
                        x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
                       AS n_alpha_words
            FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        )
        SELECT f.doc_id,
               f.n_words,
               u.unigram_fp,
               CAST({_QC_C_WORD} * f.n_words + {_QC_C_STOP} * f.n_stopwords
                    + {_QC_C_CHAR} * f.n_chars_words
                    + {_QC_C_ALPHA} * f.n_alpha_words
                    + {_QC_BIAS} AS BIGINT) AS feature_fp,
               CAST(u.unigram_fp + {_QC_C_WORD} * f.n_words
                    + {_QC_C_STOP} * f.n_stopwords
                    + {_QC_C_CHAR} * f.n_chars_words
                    + {_QC_C_ALPHA} * f.n_alpha_words
                    + {_QC_BIAS} AS DOUBLE) / {_QC_SCALE!r} AS score,
               (u.unigram_fp + {_QC_C_WORD} * f.n_words
                    + {_QC_C_STOP} * f.n_stopwords
                    + {_QC_C_CHAR} * f.n_chars_words
                    + {_QC_C_ALPHA} * f.n_alpha_words
                    + {_QC_BIAS}) >= 0 AS keep
        FROM feats f JOIN uni u ON u.doc_id = f.doc_id
        ORDER BY f.doc_id
    """


@register(
    "text_quality_classifier_score",
    oracle=_quality_classifier_oracle(),
    doc=(
        "X4aj: trained-quality-classifier scoring pass (r8 verdict "
        "optional #8) — the fastText-style linear scorer every "
        "production curation stack runs AFTER the cheap Gopher rules: "
        "score(doc) = sum of hashed-unigram bucket weights + "
        "numeric-feature terms (word count, stopword count, character "
        "mass, alphabetic-word count) + bias, with the weight table a "
        "FROZEN LITERAL in 1e-6 fixed-point units, so the whole score "
        "is one exact integer sum and the only float op is the final "
        "shared division. Hashing is xxhash64(word) pmod 64 — the "
        "feature-hashing trick at its classic 2^k bucket size — and "
        "the weight lookup is element_at on a 64-element literal "
        "array: pure whole-stage-codegen, NO join for the weights. "
        "Plan shape at 100 TB: one explode to (doc, word), map-side "
        "bucket+lookup, one partial-aggregated groupBy(doc) — the "
        "same single-shuffle profile as word counting; the numeric "
        "features are row-local array functions on the document scan. "
        "Oracle replays the hash through the recursive-CTE XXH64 twin "
        "over DISTINCT words and the same literal weight list — "
        "hash-exact, keep verdict and all."
    ),
    tags=("text", "llm", "quality"),
)
def text_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w_arr = "array(" + ", ".join(f"{w}L" for w in _QC_W) + ")"
    uni = (
        t.documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        .select(
            "doc_id",
            F.expr(
                f"element_at({w_arr}, CAST(pmod(xxhash64(w), {_QC_BUCKETS})"
                " AS INT) + 1)"
            ).alias("wt"),
        )
        .groupBy("doc_id")
        .agg(F.sum("wt").cast("bigint").alias("unigram_fp"))
    )
    words = F.split(F.col("text"), " ")
    feats = t.documents.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(words, lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("n_chars_words"),
        F.size(F.filter(words, lambda w: w.isin(*_GOPHER_STOPWORDS)))
        .cast("bigint")
        .alias("n_stopwords"),
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
        .cast("bigint")
        .alias("n_alpha_words"),
    )
    feature_fp = (
        F.lit(_QC_C_WORD) * F.col("n_words")
        + F.lit(_QC_C_STOP) * F.col("n_stopwords")
        + F.lit(_QC_C_CHAR) * F.col("n_chars_words")
        + F.lit(_QC_C_ALPHA) * F.col("n_alpha_words")
        + F.lit(_QC_BIAS)
    ).cast("bigint")
    total = F.col("unigram_fp") + F.col("feature_fp")
    return (
        feats.join(uni, "doc_id")
        .withColumn("feature_fp", feature_fp)
        .select(
            "doc_id",
            "n_words",
            "unigram_fp",
            "feature_fp",
            (total.cast("double") / F.lit(_QC_SCALE)).alias("score"),
            (total >= 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --- X4ak: per-document LM quality score (KN perplexity proxy, r9) ----------

_KN_DOC_THRESHOLD = "0.0345e0"  # mean-probability band edge, e0-pinned


@register(
    "text_kn_doc_quality_score",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        bgp AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(t), 1)),
                       i -> struct_pack(pos := i, u := t[i], w := t[i + 1])))
                       AS s
            FROM toks
        ),
        inst AS (
            SELECT doc_id, s.pos AS pos, s.u AS u, s.w AS w
            FROM bgp WHERE s.w IS NOT NULL
        ),
        cuw AS (
            SELECT u, w, CAST(COUNT(*) AS BIGINT) AS cuw
            FROM inst GROUP BY u, w
        ),
        cu AS (SELECT u, CAST(SUM(cuw) AS BIGINT) AS cu,
                      CAST(COUNT(*) AS BIGINT) AS n1u
               FROM cuw GROUP BY u),
        cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1w FROM cuw GROUP BY w),
        tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM cuw),
        probs AS (
            SELECT c.u, c.w, {_KN_P} AS p_kn
            FROM cuw c JOIN cu USING (u) JOIN cw USING (w), tt
        ),
        scored AS (
            SELECT i.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   list_reduce(list_prepend(0.0, list(p.p_kn ORDER BY i.pos)),
                               (a, x) -> a + x) AS sum_p
            FROM inst i JOIN probs p ON p.u = i.u AND p.w = i.w
            GROUP BY i.doc_id
        )
        SELECT doc_id, n_bigrams, sum_p,
               sum_p / CAST(n_bigrams AS DOUBLE) AS mean_p,
               sum_p / CAST(n_bigrams AS DOUBLE)
                   >= CAST({_KN_DOC_THRESHOLD} AS DOUBLE) AS fluent
        FROM scored
        ORDER BY doc_id
    """,
    doc=(
        "X4ak: per-document language-model quality score — the "
        "perplexity-proxy filter every curation stack runs, expressed "
        "WITHOUT ln/exp (the engine-divergent functions the oracle "
        "contract bans): score(doc) = mean interpolated Kneser-Ney "
        "bigram probability of the document under the corpus LM. Low "
        "mean probability = improbable word sequences = the gibberish "
        "/ boilerplate signal; the fluent verdict cuts at an e0-pinned "
        "literal threshold. The probability table is the SAME "
        "vocabulary-grain cascade as text_kneser_ney_bigram_lm (every "
        "input an exact integer count, d = 0.75 dyadic); the corpus "
        "side is one explode to positioned bigram instances and one "
        "equi-join on the bigram type — the co-partition shape — and "
        "the per-document sum folds in PINNED position order "
        "(array_sort + aggregate in Spark, ordered list_reduce in "
        "DuckDB), so every score is hash-exact. Only docs with at "
        "least one bigram emit."
    ),
    tags=("text", "llm", "quality", "ngram"),
)
def text_kn_doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    inst = t.documents.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 2 THEN "
                "transform(sequence(1, size(split(text, ' ')) - 1),"
                " i -> named_struct('pos', i, 'u', split(text, ' ')[i - 1],"
                " 'w', split(text, ' ')[i]))"
                " ELSE array() END"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.pos").alias("pos"),
        F.col("s.u").alias("u"),
        F.col("s.w").alias("w"),
    )
    cuw = inst.groupBy("u", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cuw")
    )
    cu = cuw.groupBy("u").agg(
        F.sum("cuw").cast("bigint").alias("cu"),
        F.count(F.lit(1)).cast("bigint").alias("n1u"),
    )
    cw = cuw.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n1w"))
    tt = cuw.agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
    probs = (
        cuw.join(cu, "u")
        .join(cw, "w")
        .crossJoin(F.broadcast(tt))
        .select("u", "w", F.expr(_KN_P).alias("p_kn"))
    )
    scored = (
        inst.join(probs, ["u", "w"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(pos, p_kn))),"
                " x -> x.p_kn), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            ).alias("sum_p"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "sum_p",
        F.expr("sum_p / CAST(n_bigrams AS DOUBLE)").alias("mean_p"),
        F.expr(
            f"sum_p / CAST(n_bigrams AS DOUBLE)"
            f" >= CAST({_KN_DOC_THRESHOLD} AS DOUBLE)"
        ).alias("fluent"),
    ).orderBy("doc_id")


# --- X4al: trigram-profile language-ID vote (r9) ----------------------------

_LANGID_TOPK = 100


@register(
    "text_langid_trigram_vote",
    oracle=f"""
        WITH tri AS (
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
                                         i -> substr(text, i, 3))) AS g
            FROM documents
        ),
        counts AS (
            SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS n
            FROM tri GROUP BY lang, g
        ),
        profile AS (
            SELECT lang AS plang, g,
                   CAST({_LANGID_TOPK} + 1 - row_number() OVER (
                       PARTITION BY lang ORDER BY n DESC, g) AS BIGINT) AS w
            FROM counts
            QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, g)
                <= {_LANGID_TOPK}
        ),
        dt AS (SELECT DISTINCT doc_id, lang, g FROM tri),
        scores AS (
            SELECT dt.doc_id, dt.lang, p.plang,
                   CAST(SUM(p.w) AS BIGINT) AS score
            FROM dt JOIN profile p ON p.g = dt.g
            GROUP BY dt.doc_id, dt.lang, p.plang
        ),
        picked AS (
            SELECT doc_id, lang, plang AS predicted_lang,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, plang) AS rn
            FROM scores
        ),
        verdicts AS (
            SELECT d.doc_id, d.lang AS labeled_lang,
                   COALESCE(p.predicted_lang, 'und') AS predicted_lang
            FROM documents d
            LEFT JOIN (SELECT * FROM picked WHERE rn = 1) p
              ON p.doc_id = d.doc_id
        )
        SELECT labeled_lang, predicted_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM verdicts
        GROUP BY labeled_lang, predicted_lang
        ORDER BY labeled_lang, predicted_lang
    """,
    doc=(
        "X4al: trigram-profile language-ID vote — the production "
        "upgrade the stopword-cascade op's own docstring points at "
        "(Cavnar-Trenkle textcat): build the top-100 character-trigram "
        "profile per language with rank weights 101-rank, score every "
        "document's DISTINCT trigram types against every profile as "
        "one integer sum, pick the arg-max language (score DESC, "
        "language ASC — a deterministic tie-break, since synthetic "
        "same-vocabulary corpora genuinely tie), and emit the "
        "CONFUSION MATRIX between the labeled and predicted language "
        "— the audit that tells you whether the heuristic is safe to "
        "gate on before anyone filters a corpus with it. Plan shape: "
        "the char explode collapses to (lang, gram) counts before the "
        "shuffle (vocabulary-sized exchange), the 5x100 profile "
        "broadcasts, and the per-doc vote is one groupBy + arg-max. "
        "All-integer scoring — hash-exact."
    ),
    tags=("text", "llm", "langid", "ngram"),
)
def text_langid_trigram_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    tri = t.documents.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN length(text) >= 3 THEN "
                "transform(sequence(1, length(text) - 2),"
                " i -> substring(text, i, 3))"
                " ELSE array() END"
            )
        ).alias("g"),
    )
    counts = tri.groupBy("lang", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wr = W.partitionBy("lang").orderBy(F.desc("n"), "g")
    profile = (
        counts.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= _LANGID_TOPK)
        .select(
            F.col("lang").alias("plang"),
            "g",
            (F.lit(_LANGID_TOPK + 1) - F.col("rn")).cast("bigint").alias("w"),
        )
    )
    dt = tri.select("doc_id", "lang", "g").distinct()
    scores = (
        dt.join(F.broadcast(profile), "g")
        .groupBy("doc_id", "lang", "plang")
        .agg(F.sum("w").cast("bigint").alias("score"))
    )
    picked = scores.groupBy("doc_id", "lang").agg(
        F.expr("min_by(plang, struct(-score, plang))").alias("predicted_lang")
    )
    verdicts = (
        t.documents.select("doc_id", F.col("lang").alias("labeled_lang"))
        .join(
            picked.select("doc_id", "predicted_lang"), "doc_id", "left"
        )
        .select(
            "labeled_lang",
            F.coalesce("predicted_lang", F.lit("und")).alias("predicted_lang"),
        )
    )
    return (
        verdicts.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("labeled_lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# Round-10: UTF-8 / mojibake encoding-corruption audit (X4am)
# ---------------------------------------------------------------------------
#
# The Common-Crawl cleaning step before any text op: find documents
# whose bytes carry encoding damage — U+FFFD replacement chars (a
# decoder already gave up once), double-encoded UTF-8 (the 'Ã©'
# signature: C3 83 C2 xx — UTF-8 bytes re-read as Latin-1 and
# re-encoded), CP1252 smart-punctuation mojibake ('â€™': C3 A2 E2 82
# AC ...), and OUTRIGHT invalid UTF-8 (lone continuation bytes,
# overlong C0/C1 leads, F5-FF, truncated multi-byte sequences). The
# audit corpus deterministically injects one damage class per
# doc_id % 5 (class 0 stays clean) so every detector fires
# non-vacuously; the detectors then work from PAYLOAD BYTES ONLY.
#
# Validity uses UTF-8's SELF-SYNCHRONIZING property: whether byte j is
# an error is decided by a 4-byte window (itself + 3 predecessors) —
# a continuation byte is claimed iff a valid lead of sufficient arity
# sits 1..3 back with only continuations between; an ASCII/lead byte
# errors iff a sequence was still pending. Per-position integer
# predicates + one SUM: order-independent, no sequential fold.
# (Deliberately NOT a list_reduce DFA: DuckDB 1.0.0's list_reduce
# returns wrong values on multi-row vectors for this shape — verified
# by running the identical expression on the full table vs a 4-row
# slice — so the fold formulation is unusable as an oracle.)

_ENC_LIMIT = 400

#: injected damage per class (hex): 1 = U+FFFD, 2 = double-encoded é
#: (C3 83 C2 A9), 3 = CP1252 smart-quote mojibake 'â€™', 4 = invalid
#: (lone continuation 80, overlong C0 AF, truncated 4-byte lead F0 9F)
_ENC_SUFFIX_CASE = (
    "CASE CAST(doc_id % 5 AS INT) WHEN 1 THEN 'EFBFBD'"
    " WHEN 2 THEN 'C383C2A9'"
    " WHEN 3 THEN 'C3A2E282ACE284A2'"
    " WHEN 4 THEN '80C0AFF09F' ELSE '' END"
)

#: byte-class predicate templates over a byte expression {e}
_ENC_CONT = "({e} >= 128 AND {e} < 192)"
_ENC_LEAD = "({e} >= 194 AND {e} <= 244)"        # any valid lead
_ENC_LEAD3P = "({e} >= 224 AND {e} <= 244)"      # arity >= 2
_ENC_LEAD4 = "({e} >= 240 AND {e} <= 244)"       # arity 3

#: 3-byte signatures: (name, b0, b1, b2)
_ENC_SIGS = (
    ("n_replacement", 239, 191, 189),     # EF BF BD = U+FFFD
    ("n_double_encoded", 195, 131, 194),  # C3 83 C2 = Ã + C2 lead
    ("n_cp1252_mojibake", 195, 162, 226), # C3 A2 E2 = â + € lead
)


def _enc_pend(j: str, b1: str, b2: str, b3: str) -> str:
    """Sequence-pending-at-{j} predicate: a valid lead 1..3 back with
    only continuations between and arity not yet satisfied. Shared
    TEXT for both engines; {b1}..{b3} are the byte expressions at
    j-1..j-3 (clamped — the j-range guards mask junk values)."""
    return (
        f"(({j}) >= 2 AND {_ENC_LEAD.format(e=b1)})"
        f" OR (({j}) >= 3 AND {_ENC_CONT.format(e=b1)}"
        f" AND {_ENC_LEAD3P.format(e=b2)})"
        f" OR (({j}) >= 4 AND {_ENC_CONT.format(e=b1)}"
        f" AND {_ENC_CONT.format(e=b2)} AND {_ENC_LEAD4.format(e=b3)})"
    )


def _enc_err(b0: str, pend: str) -> str:
    """Per-byte error indicator: always-invalid bytes; unclaimed
    continuations; ASCII/lead bytes that interrupt a pending
    sequence. Equivalent to the sequential UTF-8 DFA error count
    (errors are local events under self-synchronization)."""
    return (
        f"CASE WHEN {b0} = 192 OR {b0} = 193 OR {b0} >= 245 THEN 1"
        f" WHEN {b0} >= 128 AND {b0} < 192 THEN"
        f" CASE WHEN {pend} THEN 0 ELSE 1 END"
        f" ELSE CASE WHEN {pend} THEN 1 ELSE 0 END END"
    )


def _enc_oracle() -> str:
    b = lambda k: (  # noqa: E731 — byte at 1-based clamped position k
        f"CAST(('0x' || substr(hx, CAST(greatest(2*({k}) - 1, 1) AS INT), 2))"
        " AS INT)"
    )
    err = _enc_err(b("j"), _enc_pend("j", b("j-1"), b("j-2"), b("j-3")))
    nb = "CAST(length(hx) / 2 AS BIGINT)"
    end_pend = _enc_pend(
        f"{nb} + 1", b(f"{nb}"), b(f"{nb} - 1"), b(f"{nb} - 2")
    )
    sig = lambda b0, b1, b2: (  # noqa: E731
        f"CAST(COALESCE(list_sum(list_transform(range(1, {nb} + 1),"
        f" j -> CASE WHEN j + 2 <= {nb}"
        f" AND {b('j')} = {b0} AND {b('j+1')} = {b1} AND {b('j+2')} = {b2}"
        " THEN 1 ELSE 0 END)), 0) AS BIGINT)"
    )
    return f"""
        WITH payloads AS (
            SELECT doc_id, CAST(doc_id % 5 AS BIGINT) AS corruption_class,
                   hex(encode(text) || unhex({_ENC_SUFFIX_CASE})) AS hx
            FROM documents WHERE doc_id < {_ENC_LIMIT}
        ),
        scanned AS (
            SELECT doc_id, corruption_class, {nb} AS n_bytes,
                   {", ".join(
                       sig(b0, b1, b2) + " AS " + name
                       for name, b0, b1, b2 in _ENC_SIGS
                   )},
                   CAST(COALESCE(list_sum(list_transform(
                            range(1, {nb} + 1), j -> {err})), 0)
                        + CASE WHEN {end_pend} THEN 1 ELSE 0 END
                        AS BIGINT) AS n_invalid_utf8
            FROM payloads
        )
        SELECT doc_id, corruption_class, n_bytes,
               n_replacement, n_double_encoded, n_cp1252_mojibake,
               n_invalid_utf8,
               (n_replacement = 0 AND n_double_encoded = 0
                AND n_cp1252_mojibake = 0 AND n_invalid_utf8 = 0)
                   AS is_clean
        FROM scanned ORDER BY doc_id
    """


@register(
    "text_encoding_corruption_audit",
    oracle=_enc_oracle(),
    doc=(
        "X4am: UTF-8 / mojibake encoding-corruption audit — the "
        "Common-Crawl byte-hygiene gate: per document, counts of "
        "U+FFFD replacement chars, double-encoded-UTF-8 signatures "
        "(C3 83 C2), CP1252 smart-punctuation mojibake (C3 A2 E2), "
        "and a REAL UTF-8 validity check: because UTF-8 is "
        "self-synchronizing, each byte's validity is decided by a "
        "4-byte window (a continuation is claimed iff a valid lead of "
        "sufficient arity sits 1-3 back across continuations only; an "
        "ASCII/lead byte errors iff a sequence was pending) — "
        "per-position integer predicates + one SUM, order-independent "
        "by construction, equivalent to the sequential DFA error "
        "count. Catches lone continuations, overlong C0/C1, F5-FF, "
        "and truncated multi-byte tails (incl. at end-of-string). The "
        "audit corpus injects one damage class per doc_id % 5 so "
        "every detector fires non-vacuously; detection reads payload "
        "bytes only (hex-pair integer predicates — no decoder, no "
        "UDF). Row-local map-only plan: at 100 TB the bytes never "
        "cross a shuffle. Classes 1-3 are VALID UTF-8 that decodes to "
        "garbage (the insidious kind); class 4 is structurally "
        "invalid — the report separates them exactly."
    ),
    tags=("text", "llm", "quality", "dq"),
)
def text_encoding_corruption_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    payloads = t.documents.filter(F.col("doc_id") < _ENC_LIMIT).selectExpr(
        "doc_id",
        "CAST(doc_id % 5 AS BIGINT) AS corruption_class",
        f"hex(concat(CAST(text AS BINARY), unhex({_ENC_SUFFIX_CASE}))) AS hx",
    )
    b = lambda k: (  # noqa: E731
        f"CAST(conv(substr(hx, greatest(2*({k}) - 1, 1), 2), 16, 10) AS INT)"
    )
    err = _enc_err(b("j"), _enc_pend("j", b("j-1"), b("j-2"), b("j-3")))
    nb = "CAST(length(hx) / 2 AS INT)"
    end_pend = _enc_pend(
        f"{nb} + 1", b(f"{nb}"), b(f"{nb} - 1"), b(f"{nb} - 2")
    )
    sig_counts = [
        f"CAST(aggregate(transform(sequence(1, {nb}),"
        f" j -> CASE WHEN j + 2 <= {nb}"
        f" AND {b('j')} = {b0} AND {b('j+1')} = {b1} AND {b('j+2')} = {b2}"
        f" THEN 1 ELSE 0 END), 0, (a, x) -> a + x) AS BIGINT) AS {name}"
        for name, b0, b1, b2 in _ENC_SIGS
    ]
    invalid = (
        f"CAST(aggregate(transform(sequence(1, {nb}), j -> {err}),"
        f" 0, (a, x) -> a + x)"
        f" + CASE WHEN {end_pend} THEN 1 ELSE 0 END AS BIGINT)"
        " AS n_invalid_utf8"
    )
    scanned = payloads.selectExpr(
        "doc_id",
        "corruption_class",
        f"{nb.replace('AS INT', 'AS BIGINT')} AS n_bytes",
        *sig_counts,
        invalid,
    )
    return scanned.selectExpr(
        "doc_id",
        "corruption_class",
        "n_bytes",
        "n_replacement",
        "n_double_encoded",
        "n_cp1252_mojibake",
        "n_invalid_utf8",
        "n_replacement = 0 AND n_double_encoded = 0"
        " AND n_cp1252_mojibake = 0 AND n_invalid_utf8 = 0 AS is_clean",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Round-10: SentencePiece-style unigram-LM tokenizer via Viterbi hard-EM
# (X4an) — the subword-vocabulary alternative to BPE
# ---------------------------------------------------------------------------
#
# SentencePiece's unigram model trains by EM over a candidate-piece
# inventory; the exact-arithmetic variant implemented here is the
# documented HARD-EM (Viterbi-EM) form: the E-step keeps only the best
# segmentation per word, the M-step re-estimates piece scores from
# Viterbi usage, and unused pieces prune away (single characters are
# retained as the coverage fallback, per the SentencePiece contract).
# Scores stay INTEGERS end to end: a segmentation's objective is
# -(n_pieces << 40) + sum(piece scores) — fewest pieces first, then
# highest total score, the ln-free dominance order — so both engines
# agree bit-for-bit and no float ever folds. Words are bounded at 8
# chars / pieces at 4 (asserted grid), so the Viterbi DP and the
# backtrack unroll as FIXED layered columns (the k-means/BPE unrolled-
# rounds pattern; no recursion, no list_reduce — see the encoding
# audit's DuckDB vector-bug note). Everything after the one corpus
# scan runs at vocabulary grain (31 distinct words in the fixture —
# metadata at any SF, the same contract as the BPE trainer).

_UNI_MAXLEN = 8        # max word length (fixture max; guarded by wl)
_UNI_MAXPIECE = 4      # max piece length
_UNI_PENALTY = -(1 << 40)   # per-piece cost: fewest-pieces dominates
_UNI_UNAVAIL = -(1 << 60)   # candidate unusable at this (j, k)


def _uni_sc_cols() -> str:
    """The 32 pivoted (end-position j, piece-length k) score columns —
    shared SQL text; NULL when the slot is empty or the piece scored
    NULL this round."""
    return ", ".join(
        f"MAX(CASE WHEN j = {j} AND k = {k} THEN sc END) AS sc_{j}_{k}"
        for j in range(1, _UNI_MAXLEN + 1)
        for k in range(1, min(_UNI_MAXPIECE, j) + 1)
    )


def _uni_dp_layers() -> list[tuple[str, str]]:
    """Viterbi DP + backtrack as layered column expressions (name,
    expr) — IDENTICAL text applied by Spark selectExpr chaining and by
    DuckDB nested subqueries. Requires columns: w, wl, sc_{j}_{k}."""
    layers: list[tuple[str, str]] = [("b0", "CAST(0 AS BIGINT)")]
    cand = lambda j, k: (  # noqa: E731
        f"CASE WHEN sc_{j}_{k} IS NOT NULL"
        f" THEN b{j - k} + CAST({_UNI_PENALTY} AS BIGINT) + sc_{j}_{k}"
        f" ELSE CAST({_UNI_UNAVAIL} AS BIGINT) END"
    )
    for j in range(1, _UNI_MAXLEN + 1):
        ks = range(1, min(_UNI_MAXPIECE, j) + 1)
        cands = [cand(j, k) for k in ks]
        best = f"GREATEST({', '.join(cands)})" if len(cands) > 1 else cands[0]
        layers.append(
            (f"b{j}", f"CASE WHEN {j} > wl THEN b{j - 1} ELSE {best} END")
        )
    for j in range(1, _UNI_MAXLEN + 1):
        ks = range(1, min(_UNI_MAXPIECE, j) + 1)
        arms = " ".join(
            f"WHEN b{j} = ({cand(j, k)}) THEN {k}" for k in ks
        )
        layers.append(
            (
                f"f{j}",
                f"CASE WHEN {j} > wl THEN NULL ELSE CASE {arms} END END",
            )
        )
    layers.append(("pos0", "wl"))
    karm = " ".join(
        f"WHEN {j} THEN f{j}" for j in range(1, _UNI_MAXLEN + 1)
    )
    for t in range(1, _UNI_MAXLEN + 1):
        layers += [
            (
                f"k{t}",
                f"CASE WHEN pos{t - 1} > 0"
                f" THEN CASE pos{t - 1} {karm} END END",
            ),
            (
                f"p{t}",
                f"CASE WHEN pos{t - 1} > 0"
                f" THEN substr(w, pos{t - 1} - k{t} + 1, k{t}) END",
            ),
            (
                f"pos{t}",
                f"CASE WHEN pos{t - 1} > 0 THEN pos{t - 1} - k{t}"
                " ELSE 0 END",
            ),
        ]
    return layers


def _uni_oracle() -> str:
    layers = _uni_dp_layers()
    piece_cols = ", ".join(f"p{t}" for t in range(1, _UNI_MAXLEN + 1))

    def viterbi(scored: str, tag: str) -> str:
        """CTE chain: pivot {scored} (w, wn, wl, j, k, sc) wide, run the
        layered DP, explode Viterbi pieces -> usage{tag}."""
        q = f"(SELECT w, wn, wl, {_uni_sc_cols()} FROM {scored}" \
            " GROUP BY w, wn, wl)"
        for name, expr in layers:
            q = f"(SELECT *, {expr} AS {name} FROM {q})"
        return (
            f"seg{tag} AS (SELECT w, wn, {piece_cols} FROM {q}),\n"
            f"        usage{tag} AS MATERIALIZED (\n"
            f"            SELECT piece, CAST(SUM(wn) AS BIGINT) AS usage\n"
            f"            FROM (SELECT wn, unnest(list_filter([{piece_cols}],"
            " x -> x IS NOT NULL)) AS piece"
            f" FROM seg{tag})\n"
            "            GROUP BY piece)"
        )

    return f"""
        WITH words AS MATERIALIZED (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS wn,
                   CAST(length(w) AS INT) AS wl
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)
            GROUP BY w
        ),
        slots AS MATERIALIZED (
            SELECT w, wn, wl, CAST(j AS INT) AS j, CAST(k AS INT) AS k,
                   substr(w, CAST(j - k + 1 AS INT), CAST(k AS INT)) AS piece
            FROM words, range(1, {_UNI_MAXLEN} + 1) r1(j),
                 range(1, {_UNI_MAXPIECE} + 1) r2(k)
            WHERE j <= wl AND k <= j
        ),
        counts AS MATERIALIZED (
            SELECT piece, CAST(SUM(wn) AS BIGINT) AS substr_count
            FROM slots GROUP BY piece
        ),
        sc0 AS (
            SELECT s.w, s.wn, s.wl, s.j, s.k, c.substr_count AS sc
            FROM slots s JOIN counts c ON c.piece = s.piece
        ),
        {viterbi("sc0", "1")},
        sc1 AS (
            SELECT s.w, s.wn, s.wl, s.j, s.k,
                   CASE WHEN u.usage IS NOT NULL THEN u.usage
                        WHEN s.k = 1 THEN CAST(0 AS BIGINT) END AS sc
            FROM slots s LEFT JOIN usage1 u ON u.piece = s.piece
        ),
        {viterbi("sc1", "2")}
        SELECT c.piece,
               CAST(length(c.piece) AS BIGINT) AS piece_len,
               c.substr_count,
               CAST(COALESCE(u1.usage, 0) AS BIGINT) AS usage_r1,
               CAST(COALESCE(u2.usage, 0) AS BIGINT) AS usage_r2,
               COALESCE(u2.usage, 0) > 0 AS survived
        FROM counts c
        LEFT JOIN usage1 u1 ON u1.piece = c.piece
        LEFT JOIN usage2 u2 ON u2.piece = c.piece
        ORDER BY c.piece
    """


@register(
    "text_unigram_lm_tokenizer",
    oracle=_uni_oracle(),
    doc=(
        "X4an: SentencePiece-style unigram-LM subword tokenizer via "
        "Viterbi hard-EM — the alternative vocabulary-induction family "
        "to BPE (merge-based vs score-based). Candidate inventory = "
        "every 1-4-char substring of the corpus word table with its "
        "frequency-weighted substring count; E-step = per-word Viterbi "
        "segmentation under the integer dominance objective "
        "-(n_pieces << 40) + sum(scores) (fewest pieces, then highest "
        "score — the ln-free order, ties broken by smallest piece at "
        "each DP cell); M-step = piece usage re-estimation; round 2 "
        "re-segments under usage scores with unused pieces pruned and "
        "single chars retained at score 0 (the coverage fallback). "
        "The 8-position DP and backtrack unroll as fixed layered "
        "columns evaluated from ONE shared expression list in both "
        "engines — no recursion, no floats, no list_reduce. Scale "
        "shape: one corpus scan to the word-frequency table, then "
        "everything runs at vocabulary grain (the BPE-trainer "
        "contract); output is the piece inventory with per-round "
        "usage and the survival verdict."
    ),
    tags=("text", "llm", "tokenizer"),
)
def text_unigram_lm_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = (
        t.documents.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wn"))
        .withColumn("wl", F.length("w").cast("int"))
        .localCheckpoint(eager=True)  # one corpus scan for both rounds
    )
    slots = (
        words.select(
            "w",
            "wn",
            "wl",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, wl), j ->"
                    f" transform(sequence(1, least({_UNI_MAXPIECE}, j)),"
                    " k -> struct(j AS j, k AS k))))"
                )
            ).alias("jk"),
        )
        .selectExpr(
            "w", "wn", "wl",
            "CAST(jk.j AS INT) AS j", "CAST(jk.k AS INT) AS k",
            "substr(w, jk.j - jk.k + 1, jk.k) AS piece",
        )
    )
    counts = slots.groupBy("piece").agg(
        F.sum("wn").cast("bigint").alias("substr_count")
    )
    layers = _uni_dp_layers()
    piece_cols = [f"p{t_}" for t_ in range(1, _UNI_MAXLEN + 1)]

    def viterbi(scored: DataFrame) -> DataFrame:
        wide = scored.groupBy("w", "wn", "wl").agg(
            *[
                F.expr(e).alias(e.split(" AS ")[-1])
                for e in _uni_sc_cols().split(", ")
            ]
        )
        for name, expr in layers:
            wide = wide.selectExpr("*", f"{expr} AS {name}")
        seg = wide.select("w", "wn", *piece_cols)
        return (
            seg.select(
                "wn",
                F.explode(
                    F.expr(
                        f"filter(array({', '.join(piece_cols)}),"
                        " x -> x IS NOT NULL)"
                    )
                ).alias("piece"),
            )
            .groupBy("piece")
            .agg(F.sum("wn").cast("bigint").alias("usage"))
        )

    sc0 = slots.join(counts, "piece").select(
        "w", "wn", "wl", "j", "k", F.col("substr_count").alias("sc")
    )
    usage1 = viterbi(sc0).localCheckpoint(eager=True)
    sc1 = slots.join(usage1, "piece", "left").select(
        "w",
        "wn",
        "wl",
        "j",
        "k",
        F.expr(
            "CASE WHEN usage IS NOT NULL THEN usage"
            " WHEN k = 1 THEN CAST(0 AS BIGINT) END"
        ).alias("sc"),
    )
    usage2 = viterbi(sc1)
    return (
        counts.join(
            usage1.withColumnRenamed("usage", "u1"), "piece", "left"
        )
        .join(usage2.withColumnRenamed("usage", "u2"), "piece", "left")
        .select(
            "piece",
            F.length("piece").cast("bigint").alias("piece_len"),
            "substr_count",
            F.coalesce("u1", F.lit(0)).cast("bigint").alias("usage_r1"),
            F.coalesce("u2", F.lit(0)).cast("bigint").alias("usage_r2"),
            (F.coalesce("u2", F.lit(0)) > 0).alias("survived"),
        )
        .orderBy("piece")
    )


# ---------------------------------------------------------------------------
#
# X4ao/X4ap: generation-eval metrics. A post-training pipeline scores
# model outputs against references at corpus scale; the two classical
# lexical metrics are SQuAD token-F1 (bag-of-tokens overlap) and
# ROUGE-L (LCS-based). No model runs here, so the "prediction" corpus
# is a deterministic doc_id-keyed mutation of the reference (drop one
# token in 17, corrupt one in 13) — every metric component is then
# exactly predictable and non-vacuous in both directions (docs short
# enough to escape both mutations score a perfect 1.0).

#: shared mutation rule (Spark and DuckDB read the same integers):
#: docs with doc_id % 11 = 7 form the CLEAN CONTROL GROUP (prediction
#: == reference, the perfect-score class every eval harness needs to
#: see); elsewhere position pos (0-based) of doc doc_id is DROPPED
#: when (pos + doc_id) % 17 = 3, else CORRUPTED (suffix 'x') when
#: (pos + doc_id) % 13 = 5.
_EVAL_DROP = "((pos + doc_id) % 17 = 3 AND doc_id % 11 <> 7)"
_EVAL_CORRUPT = "((pos + doc_id) % 13 = 5 AND doc_id % 11 <> 7)"


@register(
    "text_eval_token_f1",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   unnest(range(0, len(string_split(text, ' ')))) AS pos
            FROM documents
        ),
        pred AS (
            SELECT doc_id,
                   CASE WHEN {_EVAL_CORRUPT} THEN w || 'x' ELSE w END AS w
            FROM toks WHERE NOT ({_EVAL_DROP})
        ),
        rc AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        pc AS (SELECT doc_id, w, COUNT(*) AS c FROM pred GROUP BY 1, 2),
        ov AS (
            SELECT rc.doc_id, SUM(LEAST(rc.c, pc.c)) AS ov
            FROM rc JOIN pc ON rc.doc_id = pc.doc_id AND rc.w = pc.w
            GROUP BY 1
        ),
        nr AS (SELECT doc_id, COUNT(*) AS n_ref FROM toks GROUP BY 1),
        np AS (SELECT doc_id, COUNT(*) AS n_pred FROM pred GROUP BY 1)
        SELECT nr.doc_id,
               CAST(n_ref AS BIGINT) AS n_ref,
               CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
               CAST(COALESCE(ov, 0) AS BIGINT) AS overlap,
               CAST(COALESCE(ov, 0) AS DOUBLE)
                   / CAST(nullif(COALESCE(n_pred, 0), 0) AS DOUBLE)
                   AS token_precision,
               CAST(COALESCE(ov, 0) AS DOUBLE) / CAST(n_ref AS DOUBLE)
                   AS token_recall,
               CAST(2 * COALESCE(ov, 0) AS DOUBLE)
                   / CAST(n_ref + COALESCE(n_pred, 0) AS DOUBLE)
                   AS token_f1,
               COALESCE(ov, 0) = n_ref AND COALESCE(n_pred, 0) = n_ref
                   AS bag_exact
        FROM nr
        LEFT JOIN np ON nr.doc_id = np.doc_id
        LEFT JOIN ov ON nr.doc_id = ov.doc_id
        ORDER BY nr.doc_id
    """,
    doc=(
        "X4ao: SQuAD-style token F1 — THE lexical eval metric of "
        "reading-comprehension and generation benchmarks: bag-of-"
        "tokens multiset overlap (per token value, min of the two "
        "occurrence counts), then precision = ov/|pred|, recall = "
        "ov/|ref|, F1 = 2ov/(|ref|+|pred|). Every accumulator is an "
        "integer COUNT/SUM; each output ratio is ONE double division "
        "of exact integers — bit-identical in both engines (the "
        "repo-wide single-division discipline). The prediction corpus "
        "is the deterministic drop-1-in-17 / corrupt-1-in-13 mutation, "
        "so short docs legitimately reach f1 = 1.0 and bag_exact = "
        "TRUE while long docs spread over (0, 1) — both detector "
        "directions non-vacuous. Plan: one posexplode, two (doc, "
        "token) hash-aggs, one composite-key equi-join for the "
        "overlap, then three doc-grain joins — every shuffle is an "
        "equi-key, head-token skew bounded because the join key "
        "includes doc_id (no corpus-wide hot token key). At 100 TB "
        "this is the word-count plan shape with a second count beside "
        "it."
    ),
    tags=("text", "llm", "eval"),
)
def text_eval_token_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    pred = toks.filter(f"NOT ({_EVAL_DROP})").selectExpr(
        "doc_id",
        f"CASE WHEN {_EVAL_CORRUPT} THEN concat(w, 'x') ELSE w END AS w",
    )
    rc = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c_ref"))
    pc = pred.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c_pred"))
    ov = (
        rc.join(pc, ["doc_id", "w"])
        .groupBy("doc_id")
        .agg(F.sum(F.least("c_ref", "c_pred")).alias("ov"))
    )
    nr = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ref"))
    np_ = pred.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_pred"))
    return (
        nr.join(np_, "doc_id", "left")
        .join(ov, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(n_ref AS BIGINT) AS n_ref",
            "CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred",
            "CAST(COALESCE(ov, 0) AS BIGINT) AS overlap",
            "CAST(COALESCE(ov, 0) AS DOUBLE)"
            " / CAST(nullif(COALESCE(n_pred, 0), 0) AS DOUBLE)"
            " AS token_precision",
            "CAST(COALESCE(ov, 0) AS DOUBLE) / CAST(n_ref AS DOUBLE)"
            " AS token_recall",
            "CAST(2 * COALESCE(ov, 0) AS DOUBLE)"
            " / CAST(n_ref + COALESCE(n_pred, 0) AS DOUBLE) AS token_f1",
            "COALESCE(ov, 0) = n_ref AND COALESCE(n_pred, 0) = n_ref"
            " AS bag_exact",
        )
        .orderBy("doc_id")
    )


#: ROUGE-L prefix bound: LCS DP over the first 12 ref / 12 surviving
#: pred tokens (the unigram tokenizer's bounded-grid contract — the DP
#: unrolls as FIXED layered columns, no recursion, no list_reduce)
_ROUGE_K = 12


def _rouge_dp_layers() -> list[list[tuple[str, str]]]:
    """LCS DP cells c_i_j (i = pred prefix, j = ref prefix), layered by
    ANTI-DIAGONAL so no cell depends on its own layer: c_i_j reads
    c_{i-1}_j and c_i_{j-1} (diagonal d-1) and c_{i-1}_{j-1} (d-2).
    Pure SQL text shared verbatim by the Spark plan and the oracle."""
    k = _ROUGE_K
    layers = []
    for d in range(2, 2 * k + 1):
        cells = []
        for i in range(1, k + 1):
            j = d - i
            if not 1 <= j <= k:
                continue
            above = f"c_{i - 1}_{j}" if i > 1 else "0"
            left = f"c_{i}_{j - 1}" if j > 1 else "0"
            diag = f"c_{i - 1}_{j - 1}" if i > 1 and j > 1 else "0"
            match = f"CASE WHEN p_{i} = r_{j} THEN 1 ELSE 0 END"
            cells.append(
                (f"c_{i}_{j}", f"greatest({above}, {left}, {diag} + {match})")
            )
        layers.append(cells)
    return layers


def _rouge_out_cols() -> list[str]:
    k = _ROUGE_K
    return [
        "doc_id",
        "CAST(m AS BIGINT) AS ref_prefix_len",
        "CAST(n AS BIGINT) AS pred_prefix_len",
        f"CAST(c_{k}_{k} AS BIGINT) AS lcs_len",
        f"CAST(c_{k}_{k} AS DOUBLE) / CAST(nullif(n, 0) AS DOUBLE)"
        " AS rouge_l_precision",
        f"CAST(c_{k}_{k} AS DOUBLE) / CAST(m AS DOUBLE) AS rouge_l_recall",
        f"CAST(2 * c_{k}_{k} AS DOUBLE) / CAST(m + n AS DOUBLE)"
        " AS rouge_l_f1",
    ]


def _rouge_oracle() -> str:
    k = _ROUGE_K
    mut = (
        "list_filter(list_transform(range(0, len(string_split(text, ' '))),"
        " pos -> CASE WHEN (pos + doc_id) % 17 = 3 AND doc_id % 11 <> 7 THEN NULL"
        " WHEN (pos + doc_id) % 13 = 5 AND doc_id % 11 <> 7"
        " THEN string_split(text, ' ')[pos + 1] || 'x'"
        " ELSE string_split(text, ' ')[pos + 1] END),"
        " x -> x IS NOT NULL)"
    )
    base_cols = (
        ["doc_id", "len(rl) AS m", "len(pl) AS n"]
        + [f"rl[{j}] AS r_{j}" for j in range(1, k + 1)]
        + [f"pl[{i}] AS p_{i}" for i in range(1, k + 1)]
    )
    ctes = [
        "base AS (SELECT doc_id,"
        f" string_split(text, ' ')[1:{k}] AS rl,"
        f" ({mut})[1:{k}] AS pl FROM documents)",
        "l0 AS (SELECT " + ", ".join(base_cols) + " FROM base)",
    ]
    prev = "l0"
    for nlayer, cells in enumerate(_rouge_dp_layers(), start=1):
        ctes.append(
            f"l{nlayer} AS (SELECT *, "
            + ", ".join(f"{sql} AS {name}" for name, sql in cells)
            + f" FROM {prev})"
        )
        prev = f"l{nlayer}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT "
        + ", ".join(_rouge_out_cols())
        + f" FROM {prev} ORDER BY doc_id"
    )


@register(
    "text_eval_rouge_l_prefix",
    oracle=_rouge_oracle(),
    doc=(
        "X4ap: ROUGE-L over bounded prefixes — the LCS-based summary-"
        "eval metric beside token-F1's bag overlap: order MATTERS "
        "(a shuffled prediction keeps its F1 but loses ROUGE-L). The "
        "12x12 LCS dynamic program unrolls as fixed layered columns "
        "by ANTI-DIAGONAL (23 layers; no within-layer dependency, no "
        "recursion, no list_reduce — the unigram-Viterbi bounded-grid "
        "contract), with every cell expression's SQL text shared "
        "verbatim between the Spark plan and the DuckDB oracle. NULL "
        "padding past each sequence's true length can never match, so "
        "c_12_12 is exactly LCS(ref prefix, pred prefix). Counters "
        "are integers; the three ROUGE ratios are single divisions. "
        "Prediction = the shared drop-1-in-17 / corrupt-1-in-13 "
        "mutation. Map-only, zero shuffle, whole-stage codegen — at "
        "100 TB the DP is 144 integer exprs per row, embarrassingly "
        "parallel."
    ),
    tags=("text", "llm", "eval"),
)
def text_eval_rouge_l_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _ROUGE_K
    t = Tables(spark, sf_dir)
    mut = (
        "filter(transform(split(text, ' '),"
        " (w, pos) -> CASE WHEN (pos + doc_id) % 17 = 3 AND doc_id % 11 <> 7 THEN NULL"
        " WHEN (pos + doc_id) % 13 = 5 AND doc_id % 11 <> 7 THEN concat(w, 'x')"
        " ELSE w END), x -> x IS NOT NULL)"
    )
    df = t.documents.selectExpr(
        "doc_id",
        f"slice(split(text, ' '), 1, {k}) AS rl",
        f"slice({mut}, 1, {k}) AS pl",
    ).selectExpr(
        "doc_id",
        "size(rl) AS m",
        "size(pl) AS n",
        *[f"try_element_at(rl, {j}) AS r_{j}" for j in range(1, k + 1)],
        *[f"try_element_at(pl, {i}) AS p_{i}" for i in range(1, k + 1)],
    )
    for cells in _rouge_dp_layers():
        df = df.selectExpr("*", *[f"{sql} AS {name}" for name, sql in cells])
    return df.selectExpr(*_rouge_out_cols()).orderBy("doc_id")


# ---------------------------------------------------------------------------
#
# X4aq: HTML boilerplate strip — the first real cleaning step of every
# web-crawl pipeline (C4 / trafilatura territory): drop script blocks
# and known boilerplate containers, strip tags, normalize whitespace.
# The synthesis wraps each document in deterministic HTML (title +
# body, a <script> on doc_id % 3 = 0, a nav <div> on doc_id % 4 = 1),
# and BOTH engines run the full strip pipeline independently with
# their own regex engines (Java regex vs RE2 — the patterns below are
# chosen from the dialect-safe common subset: no \\s, no lazy
# quantifiers, no backrefs). round_trip_ok then pins the pipeline's
# exactness: the cleaned text must equal title + body verbatim.

_HTML_SYNTH = (
    "concat('<html><head><title>doc ', CAST(doc_id AS STRING), '</title>',"
    " CASE WHEN doc_id % 3 = 0 THEN '<script>var a=1;var b=2;</script>'"
    " ELSE '' END,"
    " '</head><body><p><b>', text, '</b></p>',"
    " CASE WHEN doc_id % 4 = 1 THEN '<div class=\"nav\">home | about</div>'"
    " ELSE '' END,"
    " '</body></html>')"
)
#: the strip pipeline (applied in order; shared dialect-safe patterns)
_HTML_PAT_SCRIPT = "<script>[^<]*</script>"
_HTML_PAT_NAV = '<div class="nav">[^<]*</div>'
_HTML_PAT_TAG = "<[^>]*>"


@register(
    "text_html_boilerplate_strip",
    oracle=f"""
        WITH raw AS (
            SELECT doc_id, text,
                   '<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
                   || '</title>'
                   || CASE WHEN doc_id % 3 = 0
                           THEN '<script>var a=1;var b=2;</script>'
                           ELSE '' END
                   || '</head><body><p><b>' || text || '</b></p>'
                   || CASE WHEN doc_id % 4 = 1
                           THEN '<div class="nav">home | about</div>'
                           ELSE '' END
                   || '</body></html>' AS html
            FROM documents
        ),
        stripped AS (
            SELECT doc_id, text, html,
                   trim(regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(html, '{_HTML_PAT_SCRIPT}', '', 'g'),
                       '{_HTML_PAT_NAV.replace("'", "''")}', '', 'g'),
                       '{_HTML_PAT_TAG}', ' ', 'g'),
                       ' +', ' ', 'g')) AS clean
            FROM raw
        )
        SELECT doc_id,
               CAST(length(html) AS BIGINT) AS raw_len,
               CAST(len(regexp_extract_all(html, '{_HTML_PAT_TAG}'))
                    AS BIGINT) AS n_tags,
               CAST(len(regexp_extract_all(html, '{_HTML_PAT_SCRIPT}'))
                    AS BIGINT) AS n_scripts,
               CAST(len(regexp_extract_all(html,
                    '{_HTML_PAT_NAV.replace("'", "''")}'))
                    AS BIGINT) AS n_nav_blocks,
               CAST(length(clean) AS BIGINT) AS clean_len,
               CAST(length(clean) AS DOUBLE) / CAST(length(html) AS DOUBLE)
                   AS retained_ratio,
               clean = 'doc ' || CAST(doc_id AS VARCHAR) || ' ' || text
                   AS round_trip_ok
        FROM stripped ORDER BY doc_id
    """,
    doc=(
        "X4aq: HTML boilerplate strip — the Common-Crawl-to-text "
        "cleaning pass: remove <script> blocks and the known nav "
        "boilerplate container FIRST (pattern-targeted removal, the "
        "part tag-stripping alone cannot do), then strip all tags to "
        "spaces and collapse runs. Both engines execute the whole "
        "four-stage regex pipeline themselves (Java regex vs RE2; "
        "patterns restricted to the dialect-safe common subset — "
        "character classes and greedy +, no \\\\s, no lazy "
        "quantifiers), and round_trip_ok pins byte-exactness: cleaned "
        "output must equal 'doc N ' + the original body for every "
        "row. Tag/script/nav counts are integer regexp counts; "
        "retained_ratio is one double division. Map-only, zero "
        "shuffle, whole-stage codegen."
    ),
    tags=("text", "llm", "quality"),
)
def text_html_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    raw = t.documents.selectExpr("doc_id", "text", f"{_HTML_SYNTH} AS html")
    nav_sq = _HTML_PAT_NAV.replace('"', '\\"')
    stripped = raw.selectExpr(
        "doc_id",
        "text",
        "html",
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"regexp_replace(html, '{_HTML_PAT_SCRIPT}', ''),"
        f" \"{nav_sq}\", ''),"
        f" '{_HTML_PAT_TAG}', ' '),"
        " ' +', ' ')) AS clean",
    )
    return stripped.selectExpr(
        "doc_id",
        "CAST(length(html) AS BIGINT) AS raw_len",
        f"CAST(size(regexp_extract_all(html, '{_HTML_PAT_TAG}', 0))"
        " AS BIGINT) AS n_tags",
        f"CAST(size(regexp_extract_all(html, '{_HTML_PAT_SCRIPT}', 0))"
        " AS BIGINT) AS n_scripts",
        f'CAST(size(regexp_extract_all(html, "{nav_sq}", 0))'
        " AS BIGINT) AS n_nav_blocks",
        "CAST(length(clean) AS BIGINT) AS clean_len",
        "CAST(length(clean) AS DOUBLE) / CAST(length(html) AS DOUBLE)"
        " AS retained_ratio",
        "clean = concat('doc ', CAST(doc_id AS STRING), ' ', text)"
        " AS round_trip_ok",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
#
# X4ar: Soundex blocking-key robustness audit. Entity resolution at
# scale never compares all pairs — it BLOCKS on a phonetic key and
# compares within blocks, so the question that decides recall is:
# which corruption classes does the key survive? American Soundex
# (NARA variant, h/w rule included) is implemented as ONE shared
# translate + regexp chain (no backreferences — RE2-safe run collapse
# per digit), validated against the twelve classical test vectors
# (Robert/Rupert R163, Ashcraft A261, Tymczak T522, Pfister P236,
# Honeyman H555, Washington W252, ... in tests/test_llm_ops.py).

_SDX_LETTERS = "ABCDEFGIJKLMNOPQRSTUVXYZ"  # H, W removed pre-coding
_SDX_DIGITS = "012301202245501262301202"


def soundex_sql(col: str, duck: bool = False) -> str:
    """American Soundex of ``col`` as a SQL expression (both engines).

    The h/w rule falls out of REMOVING h/w before coding (same codes
    across h/w then collapse as a run); vowels code to 0 and survive
    until after the collapse (breaking runs), exactly per NARA."""
    g = ", 'g'" if duck else ""
    cs = (
        f"translate(regexp_replace(upper({col}), '[HW]', ''{g}),"
        f" '{_SDX_LETTERS}', '{_SDX_DIGITS}')"
    )
    for d in "123456":
        cs = f"regexp_replace({cs}, '{d}+', '{d}'{g})"
    first = f"substr(upper({col}), 1, 1)"
    tail = f"CASE WHEN {first} IN ('H','W') THEN {cs} ELSE substr({cs}, 2) END"
    return f"concat({first}, substr(concat(replace({tail}, '0', ''), '000'), 1, 3))"


#: corruption classes (deterministic; soundex-invariance varies by
#: DESIGN: vowel_pad provably invariant, tail_cut partial, head_swap
#: mostly fatal — the audit exists to measure exactly that)
_SDX_VARIANTS = (
    ("vowel_pad", "concat(w, 'e')"),
    ("tail_cut", "substr(w, 1, CAST(greatest(length(w) - 2, 1) AS INT))"),
    ("head_swap", "concat(substr(w, 2, 1), substr(w, 1, 1), substr(w, 3))"),
)


@register(
    "text_soundex_blocking",
    oracle=f"""
        WITH words AS (
            SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w FROM part
        ),
        pairs AS (
            SELECT w,
                   unnest({[c for c, _ in _SDX_VARIANTS]!r}) AS corruption,
                   unnest([{", ".join(e for _, e in _SDX_VARIANTS)}]) AS v
            FROM words
        )
        SELECT corruption,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(CASE WHEN {soundex_sql("w", duck=True)}
                              = {soundex_sql("v", duck=True)}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_same_block,
               CAST(SUM(CASE WHEN {soundex_sql("w", duck=True)}
                              = {soundex_sql("v", duck=True)}
                        THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS blocking_recall
        FROM pairs GROUP BY corruption ORDER BY corruption
    """,
    doc=(
        "X4ar: Soundex blocking-key robustness audit — the question "
        "that sizes an entity-resolution pipeline's recall: for each "
        "deterministic corruption class (trailing vowel pad, 2-char "
        "tail cut, leading transposition), what fraction of corrupted "
        "names still lands in its clean name's phonetic block? NARA "
        "American Soundex (h/w rule included) as one shared translate "
        "+ per-digit regexp run-collapse chain — no backreferences, "
        "so the same pattern set runs on Java regex and RE2; twelve "
        "classical vectors pinned in tests. vowel_pad must read 1.0 "
        "(soundex provably ignores trailing vowels), head_swap near 0 "
        "(the first letter IS the key's weak point) — the audit's "
        "value is making that operating envelope a measured number. "
        "Word inventory is the bounded p_name color vocabulary; "
        "everything after the one distinct-word agg is "
        "vocabulary-grain. Integer counts, one division per class."
    ),
    tags=("text", "llm", "dedup"),
)
def text_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = (
        t.part.select(F.explode(F.split("p_name", " ")).alias("w")).distinct()
    )
    stack_args = ", ".join(f"'{c}', {e}" for c, e in _SDX_VARIANTS)
    pairs = words.selectExpr(
        "w", f"stack({len(_SDX_VARIANTS)}, {stack_args}) AS (corruption, v)"
    )
    same = f"CASE WHEN {soundex_sql('w')} = {soundex_sql('v')} THEN 1 ELSE 0 END"
    return (
        pairs.groupBy("corruption")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.expr(f"CAST(SUM({same}) AS BIGINT)").alias("n_same_block"),
            F.expr(
                f"CAST(SUM({same}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
            ).alias("blocking_recall"),
        )
        .orderBy("corruption")
    )
