"""Deterministic sampling / splitting operators for training-data
pipelines.

A 100 TB corpus cannot be split with ``rand()`` — the assignment must
be a pure function of the row key so it is reproducible across runs,
engines, and repartitionings, and so late-arriving rows land in the
same split. The standard trick is a stable hash of the key modulo N:

  * ``sampling_hash_split``      — 90/5/5 train/val/test over documents
  * ``sampling_stratified_hash`` — per-label 20% sample over embeddings
  * ``sampling_fixed_k_per_group`` — exactly-k uniform sample per key
    (order by hash = a distributed, deterministic reservoir)

All three hash with md5 (identical bytes on every engine) rather than
xxhash64/hash (Spark-specific), so each query is exactly
oracle-verifiable in DuckDB. Everything is JVM-side expression work +
one hash aggregate or window — no Python, no collect, no rand().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io import Tables
from ..registry import register
from ._helpers import spread

#: Spark-side stable bucket in [0, 100): md5 of the key's decimal string,
#: first 14 hex digits (56 bits — exact in BIGINT), mod 100.
_H_SPARK = "CAST(conv(substr(md5(CAST({key} AS STRING)), 1, 14), 16, 10) AS BIGINT) % 100"
#: DuckDB twin (verified bit-identical for the bigint key domain).
_H_DUCK = "CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 14)) AS BIGINT) % 100"

_SPLIT_SPARK = (
    "CASE WHEN " + _H_SPARK.format(key="doc_id") + " < 90 THEN 'train' "
    "WHEN " + _H_SPARK.format(key="doc_id") + " < 95 THEN 'val' "
    "ELSE 'test' END"
)
_SPLIT_DUCK = (
    "CASE WHEN " + _H_DUCK.format(key="doc_id") + " < 90 THEN 'train' "
    "WHEN " + _H_DUCK.format(key="doc_id") + " < 95 THEN 'val' "
    "ELSE 'test' END"
)


@register(
    "sampling_hash_split",
    oracle=f"""
        SELECT {_SPLIT_DUCK} AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY {_SPLIT_DUCK}
    """,
    doc=(
        "Reproducible 90/5/5 train/val/test split: assignment is a pure "
        "function of doc_id (md5 mod 100), so it is stable across runs, "
        "partitionings, and engines — no rand(), no shuffle beyond the "
        "3-row summary agg."
    ),
    tags=("sampling", "llm"),
)
def sampling_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.documents.groupBy(F.expr(_SPLIT_SPARK).alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "sampling_stratified_hash",
    oracle=f"""
        SELECT label,
               COUNT(*) AS n_total,
               COUNT(CASE WHEN {_H_DUCK.format(key="vec_id")} < 20 THEN 1 END)
                   AS n_sampled
        FROM embeddings
        GROUP BY label
    """,
    doc=(
        "Stratified deterministic ~20% sample per label (the class-"
        "balanced eval-set draw): keep rows whose key-hash bucket < 20. "
        "Single scan, one hash agg; per-stratum rates concentrate to 20% "
        "at scale with no per-group pass."
    ),
    tags=("sampling", "llm"),
)
def sampling_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    keep = F.expr(_H_SPARK.format(key="vec_id")) < 20
    return t.embeddings.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(keep, 1)).alias("n_sampled"),
    )


@register(
    "sampling_fixed_k_per_group",
    oracle=f"""
        SELECT lang, doc_id, rn FROM (
            SELECT lang, doc_id,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY {_H_DUCK.format(key="doc_id")},
                                               doc_id) AS rn
            FROM documents
        ) WHERE rn <= 50
    """,
    doc=(
        "Exactly-k uniform sample per group: rank by key-hash inside "
        "each lang and keep the first 50 — a deterministic, distributed "
        "reservoir (one shuffle on the group key; the rank-filter prunes "
        "before any downstream work)."
    ),
    tags=("sampling", "window", "llm"),
)
def sampling_fixed_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("lang").orderBy(F.expr(_H_SPARK.format(key="doc_id")), F.col("doc_id"))
    return (
        t.documents.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
    )


@register(
    "sampling_lang_balanced_mixture",
    oracle="""
        WITH h AS (
            SELECT doc_id, lang, n_chars,
                   md5(CAST(doc_id AS VARCHAR)) AS hk
            FROM documents
        ),
        tot AS (SELECT lang, SUM(n_chars) AS chars FROM h GROUP BY lang),
        tgt AS (SELECT MIN(chars) AS budget FROM tot),
        c AS (
            SELECT doc_id, lang, n_chars,
                   SUM(n_chars) OVER (PARTITION BY lang ORDER BY hk, doc_id) AS cum
            FROM h
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM c, tgt
        WHERE cum - n_chars < budget
        GROUP BY lang
    """,
    doc=(
        "Data-mixture rebalancing under a token budget: equalize the "
        "per-language char mass by taking, per language, documents in "
        "deterministic hash-priority order until the smallest language's "
        "total is reached (greedy knapsack via a running-sum window). "
        "The budget is a 1-row broadcast scalar; the only shuffles are "
        "the per-lang window and the tiny summary agg. Replaces rand()-"
        "based downsampling with a reproducible, engine-independent "
        "mixture — the shape used to hit target source proportions when "
        "assembling a training corpus."
    ),
    tags=("sampling", "llm", "mixture"),
)
def sampling_lang_balanced_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    h = t.documents.select(
        "doc_id", "lang", "n_chars", F.md5(F.col("doc_id").cast("string")).alias("hk")
    )
    budget = (
        h.groupBy("lang")
        .agg(F.sum("n_chars").alias("chars"))
        .agg(F.min("chars").alias("budget"))
    )
    w = W.partitionBy("lang").orderBy("hk", "doc_id")
    c = h.withColumn("cum", F.sum("n_chars").over(w))
    return (
        c.crossJoin(F.broadcast(budget))
        .filter(F.col("cum") - F.col("n_chars") < F.col("budget"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


#: acceptance modulus for weighted sampling — power of 2, > max n_chars
_W_MOD = 4096

_WH_SPARK = f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 17, 14), 16, 10) AS BIGINT) % {_W_MOD}"
_WH_DUCK = f"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 14)) AS BIGINT) % {_W_MOD}"


@register(
    "sampling_length_weighted",
    oracle=f"""
        SELECT lang,
               COUNT(*) AS n_docs,
               COUNT(CASE WHEN {_WH_DUCK} < LEAST(n_chars, {_W_MOD} - 1)
                          THEN 1 END) AS n_kept,
               CAST(SUM(CASE WHEN {_WH_DUCK} < LEAST(n_chars, {_W_MOD} - 1)
                             THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        FROM documents
        GROUP BY lang
    """,
    doc=(
        "Length-weighted Bernoulli sampling: accept each doc with "
        f"probability n_chars/{_W_MOD} via an EXACT integer test — a "
        "second, disjoint md5 slice (chars 17-30; independent of the "
        "split hash's chars 1-14) against the clamped length. Token-"
        "proportional document sampling is how a doc-level sample "
        "approximates a token-uniform sample; integer acceptance keeps "
        "it reproducible on any engine, unlike rand() < p or float "
        "u^(1/w) priority keys (libm-dependent). Map-side filter + "
        "tiny per-lang summary — no shuffle of the corpus."
    ),
    tags=("sampling", "llm"),
)
def sampling_length_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    keep = F.expr(_WH_SPARK) < F.least(F.col("n_chars"), F.lit(_W_MOD - 1))
    return t.documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).cast("bigint").alias("kept_chars"),
    )


@register(
    "sampling_temperature_mixture",
    oracle="""
        WITH c AS (
            SELECT source, COUNT(*) AS n FROM documents GROUP BY source
        ),
        s AS (
            SELECT source,
                   CAST(n AS BIGINT) AS n_docs,
                   CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share,
                   sqrt(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)) AS sq
            FROM c
        ),
        d AS (
            SELECT list_reduce(list(sq ORDER BY source), (a, b) -> a + b)
                       AS denom
            FROM s
        )
        SELECT source, n_docs, share,
               sq / denom AS temp_weight,
               (sq / denom) / share AS boost
        FROM s, d
    """,
    doc=(
        "Temperature-based source-mixture reweighting (T = 2, i.e. "
        "weight ∝ share^(1/2)) — the GPT-3/PaLM-style recipe that "
        "upsamples small high-quality sources and downsamples the "
        "dominant crawl. Exponent 1/2 is sqrt, the one power IEEE "
        "requires correctly rounded, so per-source terms are "
        "bit-exact; the 20-term normalizer is an order-pinned fold "
        "(collect_list sorted by source, sequential aggregate == "
        "DuckDB's ordered list_reduce), not an unordered float SUM. "
        "One count shuffle on source; the mixture table is "
        "source-cardinality-sized (metadata scale at any SF). boost "
        "is each source's resampling factor for the data loader."
    ),
    tags=("sampling", "llm", "agg"),
)
def sampling_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    c = t.documents.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    s = c.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.expr(
            "CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)"
        ).alias("share"),
        F.expr(
            "sqrt(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE))"
        ).alias("sq"),
    )
    # the normalizer is an order-pinned fold of a frameless window
    # collect_list — same plan branch, so documents is scanned exactly
    # once (no separate aggregate + join-back)
    s = s.withColumn(
        "pairs", F.collect_list(F.struct("source", "sq")).over(W.partitionBy())
    ).withColumn(
        "denom",
        F.expr(
            "aggregate(transform(array_sort(pairs), p -> p.sq), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        ),
    )
    return s.select(
        "source",
        "n_docs",
        "share",
        F.expr("sq / denom").alias("temp_weight"),
        F.expr("(sq / denom) / share").alias("boost"),
    )


_BOOT_B = 16  # bootstrap replicates

#: 16-bit Poisson(1) inverse-CDF thresholds: floor(cdf_k * 2^16) for
#: k = 0..5 (Python-precomputed). Draws are 4-hex-char (16-bit) slices
#: of TWO md5 digests per row — digest 'a' carries replicates 1-8,
#: digest 'b' carries 9-16 — instead of one full md5 per (row,
#: replicate): md5 dominates the per-row cost, so 16 -> 2 calls cuts
#: the hot loop ~5x while slice independence (md5 diffusion) keeps the
#: replicates statistically independent for bootstrap purposes.
_POIS_T16 = (24109, 48218, 60273, 64291, 65296, 65497)

_BH16 = (
    "substr(md5(CAST(o_orderkey AS {st}) || ':' || "
    "CASE WHEN b <= 8 THEN 'a' ELSE 'b' END), ((b - 1) % 8) * 4 + 1, 4)"
)
_BH_DUCK = "CAST(('0x' || " + _BH16.format(st="VARCHAR") + ") AS BIGINT)"


def _pois_case16(h: str) -> str:
    branches = " ".join(
        f"WHEN ({h}) < {t} THEN {k}" for k, t in enumerate(_POIS_T16)
    )
    return f"CASE {branches} ELSE {len(_POIS_T16)} END"


@register(
    "sampling_poisson_bootstrap",
    oracle=f"""
        WITH reps AS (
            SELECT o_orderkey, o_totalprice, b,
                   {_pois_case16(_BH_DUCK)} AS w
            FROM orders
            CROSS JOIN (SELECT unnest(range(1, {_BOOT_B + 1})) AS b) bs
        )
        SELECT CAST(b AS BIGINT) AS replicate,
               CAST(SUM(w) AS BIGINT) AS n_sampled,
               CAST(CAST(SUM(CAST((CAST(w AS DOUBLE) * o_totalprice)
                                  AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                   / CAST(SUM(w) AS DOUBLE) AS boot_mean
        FROM reps
        GROUP BY b
    """,
    doc=(
        "Poisson bootstrap: 16 deterministic replicate estimates of "
        "mean order value, the standard way to bootstrap a confidence "
        "interval on a distributed table WITHOUT B resampling passes "
        "(Chamandy et al.'s web-scale formulation). Each row's "
        "replicate multiplicity is Poisson(1), drawn by comparing a "
        "16-bit md5 slice against fixed integer inverse-CDF "
        "thresholds — exact on every engine, unlike rand(); two md5 "
        "digests per row carry all 16 replicate draws (see _BH16). The "
        "explode-by-16 happens map-side and partial aggregation "
        "collapses it to B groups per partition before the shuffle, so "
        "the exchanged data is B rows per task regardless of fact "
        "size; weighted sums accumulate in DECIMAL for order-"
        "independence, with one final double division per replicate. "
        "The spread of boot_mean across replicates IS the standard "
        "error estimate a dashboard would report."
    ),
    tags=("sampling", "stats", "agg"),
)
def sampling_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No explode at all: the 16 replicate draws become 32 conditional
    # aggregates over ONE pass of the fact (2 md5 digests per row, each
    # draw a 16-bit slice), and the 16 output rows come from stack()
    # over the 1-row wide aggregate. vs the explode-by-B form this
    # removes the Bx row blowup through the partial-aggregate hash map
    # entirely — the exchanged state is 2B numbers per task no matter
    # the fact size (bench: 3.8s -> 2.5s at sf0.1; bit-identical
    # output, same oracle).
    t = Tables(spark, sf_dir)

    def w_expr(b: int) -> str:
        half = "ha" if b <= 8 else "hb"
        pos = ((b - 1) % 8) * 4 + 1
        h = f"CAST(conv(substr({half}, {pos}, 4), 16, 10) AS BIGINT)"
        branches = " ".join(
            f"WHEN ({h}) < {t} THEN {k}" for k, t in enumerate(_POIS_T16)
        )
        return f"CASE {branches} ELSE {len(_POIS_T16)} END"

    # r12: spread() before the per-row hash battery — the one-row-group
    # local scan otherwise runs all 2xmd5 + 32 conditional sums serial
    base = spread(t.orders.select("o_orderkey", "o_totalprice")).selectExpr(
        "o_totalprice",
        "md5(CAST(o_orderkey AS STRING) || ':' || 'a') AS ha",
        "md5(CAST(o_orderkey AS STRING) || ':' || 'b') AS hb",
    )
    aggs = []
    for b in range(1, _BOOT_B + 1):
        w = w_expr(b)
        aggs.append(F.expr(f"CAST(SUM({w}) AS BIGINT)").alias(f"n{b}"))
        aggs.append(
            F.expr(
                f"CAST(SUM(CAST((CAST(({w}) AS DOUBLE) * o_totalprice)"
                f" AS DECIMAL(38,8))) AS DOUBLE)"
            ).alias(f"s{b}")
        )
    wide = base.agg(*aggs)
    stack = ", ".join(f"CAST({b} AS BIGINT), n{b}, s{b}" for b in range(1, _BOOT_B + 1))
    return (
        wide.selectExpr(f"stack({_BOOT_B}, {stack}) AS (replicate, n_sampled, s)")
        # empty input: the wide agg still yields one row of NULL sums and
        # stack would fabricate 16 NULL replicates — zero input must mean
        # zero replicates (the grouped form's semantics)
        .filter("n_sampled IS NOT NULL")
        .selectExpr(
            "replicate", "n_sampled", "s / CAST(n_sampled AS DOUBLE) AS boot_mean"
        )
    )


_SH_SPARK = "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 3, 14), 16, 10) AS BIGINT)"
_SH_DUCK = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 14)) AS BIGINT)"


@register(
    "sampling_shuffle_positions",
    oracle=f"""
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY {_SH_DUCK}, doc_id) AS shuffle_pos
        FROM documents
    """,
    doc=(
        "Reproducible global corpus shuffle: every document gets a "
        "deterministic training-order position by ranking an md5 key — "
        "the property a training run needs so a restart, a different "
        "cluster, or a re-shard sees the SAME example order (rand() "
        "shuffles can't replay). Spark side avoids the single-partition "
        "global window: the hash's top bits form 256 order-aligned "
        "buckets, per-bucket counts roll into prefix offsets (one "
        "metadata-scale window), and buckets rank locally in parallel — "
        "the same two-pass construction as "
        "relational_global_row_number_scalable, but over a UNIFORM hash "
        "key, so bucket sizes are balanced by construction at any "
        "corpus size. Oracle = the literal global ROW_NUMBER."
    ),
    tags=("sampling", "llm", "window"),
)
def sampling_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # 2^48 divisor -> top 8 bits of the 56-bit slice = 256 ordered buckets
    b = t.documents.select(
        "doc_id", F.expr(_SH_SPARK).alias("h")
    ).withColumn("bkt", F.expr("h DIV 281474976710656"))
    counts = b.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    offs = counts.select(
        "bkt",
        F.coalesce(
            F.sum("n").over(
                W.partitionBy().orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("off"),
    )
    return (
        b.join(F.broadcast(offs), "bkt")
        .withColumn(
            "local", F.row_number().over(W.partitionBy("bkt").orderBy("h", "doc_id"))
        )
        .select(
            "doc_id",
            (F.col("off") + F.col("local")).cast("bigint").alias("shuffle_pos"),
        )
    )


@register(
    "sampling_horvitz_thompson_total",
    oracle=f"""
        WITH flags AS (
            SELECT lang, n_chars,
                   CASE WHEN {_WH_DUCK} < LEAST(n_chars, {_W_MOD} - 1)
                        THEN 1 ELSE 0 END AS kept,
                   CASE WHEN n_chars >= {_W_MOD} - 1 THEN 1 ELSE 0 END AS clamped
            FROM documents
        ),
        sums AS (
            SELECT lang,
                   CAST(SUM(n_chars) AS BIGINT) AS true_chars,
                   CAST(SUM(kept) AS BIGINT) AS n_kept,
                   CAST(SUM(CASE WHEN kept = 1 AND clamped = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS kept_unclamped,
                   CAST(SUM(CASE WHEN kept = 1 AND clamped = 1 THEN n_chars ELSE 0 END)
                        AS BIGINT) AS clamped_chars
            FROM flags GROUP BY lang
        )
        SELECT lang, true_chars, n_kept,
               CAST({_W_MOD} AS DOUBLE) * CAST(kept_unclamped AS DOUBLE)
                 + CAST({_W_MOD} AS DOUBLE) / CAST({_W_MOD} - 1 AS DOUBLE)
                   * CAST(clamped_chars AS DOUBLE) AS ht_estimate,
               (CAST({_W_MOD} AS DOUBLE) * CAST(kept_unclamped AS DOUBLE)
                 + CAST({_W_MOD} AS DOUBLE) / CAST({_W_MOD} - 1 AS DOUBLE)
                   * CAST(clamped_chars AS DOUBLE)
                 - CAST(true_chars AS DOUBLE)) / CAST(true_chars AS DOUBLE)
                 AS rel_error
        FROM sums
    """,
    doc=(
        "Horvitz-Thompson estimation over the length-weighted sample: "
        "each kept document contributes n_chars / p_i with inclusion "
        "probability p_i = min(n_chars, M-1)/M — which collapses to "
        "exactly M corpus characters per unclamped kept doc (the PPS "
        "sampling identity), so the per-language character mass is "
        "estimated from the sample WITHOUT rescanning the corpus. The "
        "entire estimator reduces to two integer counts per language "
        "plus one shared closed form; rel_error against the true total "
        "makes the query self-auditing. This is the estimator a "
        "sampled dashboard runs when the full 100 TB scan is too "
        "expensive per refresh."
    ),
    tags=("sampling", "stats", "llm"),
)
def sampling_horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    kept = (F.expr(_WH_SPARK) < F.least(F.col("n_chars"), F.lit(_W_MOD - 1))).cast(
        "int"
    )
    clamped = (F.col("n_chars") >= _W_MOD - 1).cast("int")
    sums = (
        t.documents.select("lang", "n_chars", kept.alias("kept"), clamped.alias("clamped"))
        .groupBy("lang")
        .agg(
            F.sum("n_chars").cast("bigint").alias("true_chars"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.expr(
                "CAST(SUM(CASE WHEN kept = 1 AND clamped = 0 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("kept_unclamped"),
            F.expr(
                "CAST(SUM(CASE WHEN kept = 1 AND clamped = 1 THEN n_chars ELSE 0 END) AS BIGINT)"
            ).alias("clamped_chars"),
        )
    )
    m = _W_MOD
    est = (
        f"CAST({m} AS DOUBLE) * CAST(kept_unclamped AS DOUBLE)"
        f" + CAST({m} AS DOUBLE) / CAST({m} - 1 AS DOUBLE) * CAST(clamped_chars AS DOUBLE)"
    )
    return sums.select(
        "lang",
        "true_chars",
        "n_kept",
        F.expr(est).alias("ht_estimate"),
        F.expr(
            f"({est} - CAST(true_chars AS DOUBLE)) / CAST(true_chars AS DOUBLE)"
        ).alias("rel_error"),
    )


@register(
    "sampling_balanced_class_undersample",
    oracle="""
        WITH counts AS (
            SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
        ),
        k AS (SELECT MIN(n) AS k_min FROM counts),
        ranked AS (
            SELECT vec_id, label,
                   row_number() OVER (
                       PARTITION BY label
                       ORDER BY CAST(('0x' || substr(md5('bal:' || CAST(vec_id AS VARCHAR)), 1, 14)) AS BIGINT),
                                vec_id) AS rn
            FROM embeddings
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(SUM(vec_id) AS BIGINT) AS sampled_id_sum
        FROM ranked CROSS JOIN k
        WHERE rn <= k_min
        GROUP BY label
    """,
    doc=(
        "Balanced-class undersampling: every label keeps exactly "
        "min-class-size examples, chosen by md5 rank so the draw is "
        "reproducible on any engine and any partitioning (rand() "
        "orderings are neither). The per-label rank is one window "
        "shuffle on the label key; k_min is a broadcast scalar. The "
        "output summarizes per-label counts + an id checksum so the "
        "oracle verifies the EXACT membership, not just the sizes. "
        "This is the class-rebalancing step before training a "
        "classifier on skewed labels."
    ),
    tags=("sampling", "ml", "llm"),
)
def sampling_balanced_class_undersample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    k = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")).agg(
        F.min("n").alias("k_min")
    )
    h = "CAST(conv(substr(md5('bal:' || CAST(vec_id AS STRING)), 1, 14), 16, 10) AS BIGINT)"
    ranked = emb.select(
        "vec_id",
        "label",
        F.row_number()
        .over(W.partitionBy("label").orderBy(F.expr(h), "vec_id"))
        .alias("rn"),
    )
    return (
        ranked.crossJoin(F.broadcast(k))
        .filter(F.col("rn") <= F.col("k_min"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("vec_id").cast("bigint").alias("sampled_id_sum"),
        )
    )


_NEYMAN_BUDGET = 1000


@register(
    "sampling_neyman_allocation",
    oracle=f"""
        WITH sums AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS s1,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8)) * value) AS VARCHAR) AS DOUBLE) AS s2
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        ),
        w AS (
            SELECT event_type, CAST(n AS BIGINT) AS n,
                   nd * sqrt(s2 / nd - (s1 / nd) * (s1 / nd)) AS weight
            FROM sums
        ),
        tot AS (
            SELECT list_reduce(list(weight ORDER BY event_type), (a, b) -> a + b)
                     AS total_w
            FROM w
        ),
        exact AS (
            SELECT event_type, n, weight,
                   {_NEYMAN_BUDGET} * weight / total_w AS exact_alloc
            FROM w, tot
        ),
        floored AS (
            SELECT event_type, n, weight, exact_alloc,
                   CAST(floor(exact_alloc) AS BIGINT) AS base_alloc,
                   exact_alloc - floor(exact_alloc) AS frac
            FROM exact
        ),
        leftover AS (
            SELECT CAST({_NEYMAN_BUDGET} - SUM(base_alloc) AS BIGINT) AS k FROM floored
        )
        SELECT event_type, n, exact_alloc,
               CAST(base_alloc
                    + CASE WHEN row_number() OVER (ORDER BY frac DESC, event_type) <= k
                           THEN 1 ELSE 0 END AS BIGINT) AS allocation
        FROM floored, leftover
    """,
    doc=(
        f"Neyman optimal allocation of a {_NEYMAN_BUDGET}-unit sampling "
        "budget across event-type strata: allocation proportional to "
        "N_h * S_h (stratum size x exact std from decimal power sums), "
        "normalized by an ORDER-PINNED fold (an unordered float SUM of "
        "the weights would not reproduce), integerized by largest-"
        "remainder rounding — so the allocations sum to the budget "
        "EXACTLY (asserted in the oracle by construction). This is how "
        "a 100 TB audit decides how many rows to pull per stratum for "
        "a fixed labeling budget; the downstream draw is the existing "
        "md5-rank machinery."
    ),
    tags=("sampling", "stats"),
)
def sampling_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as Win

    t = Tables(spark, sf_dir)
    sums = (
        t.events.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.lit(1)).cast("double").alias("nd"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(38,8))) AS DOUBLE)").alias("s1"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(38,8)) * value) AS DOUBLE)"
            ).alias("s2"),
        )
    )
    w = sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.expr("nd * sqrt(s2 / nd - (s1 / nd) * (s1 / nd))").alias("weight"),
    )
    tot = w.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(event_type, weight))),"
            " s -> s.weight), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("total_w")
    )
    floored = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n",
            F.expr(f"{_NEYMAN_BUDGET} * weight / total_w").alias("exact_alloc"),
        )
        .select(
            "event_type",
            "n",
            "exact_alloc",
            F.expr("CAST(floor(exact_alloc) AS BIGINT)").alias("base_alloc"),
            F.expr("exact_alloc - floor(exact_alloc)").alias("frac"),
        )
    )
    leftover = floored.agg(
        F.expr(f"CAST({_NEYMAN_BUDGET} - SUM(base_alloc) AS BIGINT)").alias("k")
    )
    rn = F.row_number().over(Win.orderBy(F.desc("frac"), "event_type"))
    return (
        floored.crossJoin(F.broadcast(leftover))
        .withColumn("rn", rn)
        .select(
            "event_type",
            "n",
            "exact_alloc",
            F.expr(
                "CAST(base_alloc + CASE WHEN rn <= k THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("allocation"),
        )
    )


@register(
    "sampling_curriculum_quality_shards",
    oracle="""
        WITH scored AS (
            SELECT doc_id, source,
                   CAST(len(text) - len(replace(text, ' ', '')) + 1 AS BIGINT)
                     AS n_words
            FROM documents
        )
        SELECT doc_id, source, n_words,
               ntile(8) OVER (ORDER BY n_words DESC, doc_id) AS shard
        FROM scored
    """,
    doc=(
        "Curriculum sharding for training-data ordering: score each "
        "document (integer word count — the stand-in for any "
        "deterministic quality score), rank the corpus best-first, and "
        "cut it into 8 equal shards so a training run can consume "
        "easy/high-quality shards first. Exact ANSI NTILE(8) semantics "
        "WITHOUT a single-partition sort: the bucket-offset global row "
        "number (operators/scalable.py, negated-score band buckets) + "
        "the closed-form ntile_from_rn assignment — the corpus never "
        "serializes onto one partition, which is the entire difference "
        "between this and ORDER BY at 100 TB."
    ),
    tags=("sampling", "llm", "curriculum"),
)
def sampling_curriculum_quality_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_row_number, ntile_from_rn

    t = Tables(spark, sf_dir)
    scored = t.documents.select(
        "doc_id",
        "source",
        F.expr(
            "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"
        ).alias("n_words"),
    ).localCheckpoint(eager=False)  # reused by the rank pass + count
    n = scored.agg(F.count(F.lit(1)).alias("n"))
    return (
        bucketed_row_number(
            scored,
            (-F.col("n_words")).cast("bigint"),
            [F.desc("n_words"), "doc_id"],
            out="rn",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "source",
            "n_words",
            ntile_from_rn("rn", "n", 8).alias("shard"),
        )
    )


@register(
    "sampling_importance_downweight_duplicates",
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text, source FROM documents
            UNION ALL
            SELECT -doc_id - 1, text, source
            FROM documents WHERE doc_id % 10 = 0
        ),
        clusters AS (
            SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS k
            FROM corpus GROUP BY md5(text)
        ),
        weighted AS (
            SELECT c.source, cl.h, cl.k,
                   10000000000 // cl.k AS w_scaled
            FROM corpus c JOIN clusters cl ON md5(c.text) = cl.h
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_texts,
               CAST(CAST(SUM(CAST(w_scaled AS HUGEINT)) AS VARCHAR) AS DOUBLE)
                   / 10000000000.0 AS n_effective,
               1.0 - (CAST(CAST(SUM(CAST(w_scaled AS HUGEINT)) AS VARCHAR) AS DOUBLE)
                      / 10000000000.0) / CAST(COUNT(*) AS DOUBLE) AS dup_mass
        FROM weighted GROUP BY source
    """,
    doc=(
        "Soft dedup by importance down-weighting: instead of dropping "
        "exact duplicates, every doc in a k-sized duplicate cluster "
        "gets weight 1/k, so each distinct text contributes exactly "
        "one unit of mass to the training mixture (the 'docs repeated "
        "k times are k times over-weighted' correction). Clusters are "
        "GLOBAL md5(text) groups, so a text duplicated across sources "
        "splits its credit between them — per source that yields raw "
        "docs, distinct texts, the effective (weighted) corpus size "
        "Σ 1/k, and the duplicated-mass share. The weight fold is "
        "exact: per-doc 1e10-scaled integer truncation of 1/k (a "
        "float Σ 1/k would be accumulation-order-dependent), summed "
        "in int128. Runs on the duplicate-injected corpus the exact-"
        "dedup family uses (the synthetic corpus has no byte dups "
        "below sf0.1 — weights would pass vacuously). Plan: one "
        "hash-groupBy to clusters, one hash-keyed join back — the X1 "
        "shape twice, nothing all-pairs."
    ),
    tags=("sampling", "llm", "dedup"),
)
def sampling_importance_downweight_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import duplicated_corpus

    t = Tables(spark, sf_dir)
    corpus = duplicated_corpus(t).select(
        "source", F.md5("text").alias("h")
    )
    clusters = corpus.groupBy("h").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    weighted = corpus.join(clusters, "h").select(
        "source", "h", F.expr("10000000000 DIV k").alias("w_scaled")
    )
    return weighted.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("h").cast("bigint").alias("n_distinct_texts"),
        F.expr(
            "CAST(SUM(CAST(w_scaled AS DECIMAL(38,0))) AS DOUBLE) / 10000000000.0"
        ).alias("n_effective"),
        F.expr(
            "1.0 - (CAST(SUM(CAST(w_scaled AS DECIMAL(38,0))) AS DOUBLE)"
            " / 10000000000.0) / CAST(COUNT(*) AS DOUBLE)"
        ).alias("dup_mass"),
    )


_SYS_INTERVAL = 17  # take every 17th row of the hash-shuffled order

#: 14-hex-digit md5 prefix as BIGINT — the portable pseudo-shuffle key
#: (same constant family as _H_SPARK/_H_DUCK, unreduced by % 100)
_HK_SPARK = "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 14), 16, 10) AS BIGINT)"
_HK_DUCK = "CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 14)) AS BIGINT)"


@register(
    "sampling_systematic_interval",
    oracle=f"""
        WITH keyed AS (
            SELECT o_orderkey, o_totalprice, {_HK_DUCK} AS hk
            FROM orders
        ),
        ranked AS (
            SELECT o_orderkey, o_totalprice,
                   row_number() OVER (ORDER BY hk, o_orderkey) AS rn
            FROM keyed
        )
        SELECT o_orderkey, o_totalprice,
               CAST(rn AS BIGINT) AS sample_rank
        FROM ranked
        WHERE rn % {_SYS_INTERVAL} = 1
    """,
    doc=(
        "Systematic (every-k-th) sampling over a deterministic hash "
        "shuffle: rank rows by the md5-prefix key (a reproducible "
        "stand-in for random order — the _H_SPARK/_H_DUCK family), "
        f"keep ranks = 1 mod {_SYS_INTERVAL}. Unlike the Bernoulli "
        "hash split, systematic sampling guarantees the EXACT "
        "stride, so the sample size is n/k +- 1 by construction — "
        "what an auditor wants from an inspection sample. The global "
        "rank comes from the scalable.py bucket-offset construction "
        "(hash-bucket the key's top bits), so no single-partition "
        "sort touches the fact table; the oracle is the single-"
        "window form, hash-verified equivalent."
    ),
    tags=("sampling", "window"),
)
def sampling_systematic_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_row_number

    t = Tables(spark, sf_dir)
    keyed = t.orders.select(
        "o_orderkey", "o_totalprice", F.expr(_HK_SPARK).alias("hk")
    )
    # monotone bucket of the leading sort key: its top bits
    ranked = bucketed_row_number(
        keyed,
        F.expr("hk DIV 1099511627776"),  # 2^40: ~2^16 buckets over 56-bit keys
        ["hk", "o_orderkey"],
        out="rn",
    )
    return ranked.filter(F.col("rn") % _SYS_INTERVAL == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.col("rn").cast("bigint").alias("sample_rank"),
    )


_PPS_K = 20  # target draws per pass

#: document-keyed variant of the _HK pseudo-shuffle key
_HKD_SPARK = "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 14), 16, 10) AS BIGINT)"
_HKD_DUCK = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)"


@register(
    "sampling_pps_systematic",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, n_chars, {_HKD_DUCK} AS hk FROM documents
        ),
        cum AS (
            SELECT doc_id, n_chars, hk,
                   SUM(n_chars) OVER (ORDER BY hk, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_w,
                   SUM(n_chars) OVER () AS w_tot
            FROM keyed
        ),
        marked AS (
            SELECT doc_id, n_chars, cum_w,
                   w_tot // {_PPS_K} AS stride,
                   (w_tot // {_PPS_K}) // 2 AS start_u,
                   (cum_w - ((w_tot // {_PPS_K}) // 2) + (w_tot // {_PPS_K}))
                     // (w_tot // {_PPS_K})
                   - (cum_w - n_chars - ((w_tot // {_PPS_K}) // 2)
                      + (w_tot // {_PPS_K}))
                     // (w_tot // {_PPS_K}) AS n_hits
            FROM cum
        )
        SELECT doc_id, CAST(n_chars AS BIGINT) AS size_w,
               CAST(cum_w AS BIGINT) AS cum_w,
               CAST(n_hits AS BIGINT) AS n_hits
        FROM marked WHERE n_hits >= 1
    """,
    doc=(
        "X7f probability-proportional-to-size systematic sampling "
        f"(r4): {_PPS_K} deterministic draws where a document's "
        "inclusion count is proportional to its byte size — the "
        "sampler behind size-weighted corpus audits (big docs checked "
        "more often, every size stratum still reachable). Cumulative "
        "size over the md5 pseudo-shuffle order comes from the "
        "scalable.py bucket-offset running sum (no single-partition "
        "sort at fact grain); a doc is drawn once per stride threshold "
        "inside its (cum-w, cum+w] interval — pure integer floor "
        "division, shifted (+stride) so no negative operand ever "
        "reaches the engines' differing negative-division semantics. "
        "Oracle = the single-window form; docs longer than the stride "
        "carry n_hits > 1, the textbook PPS multiplicity."
    ),
    tags=("sampling", "window", "llm"),
)
def sampling_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_running_sum

    t = Tables(spark, sf_dir)
    keyed = t.documents.select("doc_id", "n_chars", F.expr(_HKD_SPARK).alias("hk"))
    cum = bucketed_running_sum(
        keyed,
        F.expr("hk DIV 1099511627776"),  # 2^40 top-bit buckets
        ["hk", "doc_id"],
        "n_chars",
        out="cum_w",
    )
    total = t.documents.agg(F.sum("n_chars").alias("w_tot"))
    marked = cum.crossJoin(F.broadcast(total)).selectExpr(
        "doc_id",
        "n_chars",
        "cum_w",
        f"w_tot DIV {_PPS_K} AS stride",
        f"(w_tot DIV {_PPS_K}) DIV 2 AS start_u",
    ).selectExpr(
        "doc_id",
        "n_chars",
        "cum_w",
        "(cum_w - start_u + stride) DIV stride"
        " - (cum_w - n_chars - start_u + stride) DIV stride AS n_hits",
    )
    return marked.filter(F.col("n_hits") >= 1).select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("size_w"),
        F.col("cum_w").cast("bigint").alias("cum_w"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
    )


# --- X7g: k-center greedy diversity coreset (r5) ----------------------------

_KCENTER_K = 8


def _kc_d2_sql(a: str, b: str, dims: int = 64) -> str:
    """0.0-seeded ascending squared-L2 fold — Spark's F.aggregate twin."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {dims + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (acc, x) -> acc + x)"
    )


def _kcenter_oracle() -> str:
    """Unrolled greedy farthest-point CTEs: pick 0 = lowest vec_id, then
    each round keeps a running min-distance column and takes the argmax
    (ties -> lowest vec_id) — the same incremental recurrence the Spark
    loop executes with order-pinned folds."""
    steps = []
    for r in range(1, _KCENTER_K):
        steps.append(f"""
        m{r} AS (
            SELECT e.vec_id, e.v,
                   LEAST(e.md, {_kc_d2_sql("e.v", "p.cv")}) AS md
            FROM m{r - 1} e CROSS JOIN p{r - 1} p
            WHERE e.vec_id <> p.vec_id
        ),
        p{r} AS (
            SELECT vec_id, v AS cv, md FROM m{r}
            QUALIFY row_number() OVER (ORDER BY md DESC, vec_id) = 1
        )""")
    picks = "\n            UNION ALL\n".join(
        f"            SELECT {r} AS pick, vec_id, "
        + ("CAST(NULL AS DOUBLE) AS min_d2" if r == 0 else "md AS min_d2")
        + f" FROM p{r}"
        for r in range(_KCENTER_K)
    )
    return f"""
        WITH emb AS MATERIALIZED (
            SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
            FROM embeddings
        ),
        p0 AS (
            SELECT vec_id, v AS cv FROM emb
            QUALIFY row_number() OVER (ORDER BY vec_id) = 1
        ),
        m0 AS (
            SELECT vec_id, v, CAST('infinity' AS DOUBLE) AS md FROM emb
        ),
        {",".join(steps)}
        SELECT CAST(pick AS INT) AS pick, vec_id, min_d2 FROM (
{picks}
        ) ORDER BY pick
    """


@register(
    "sampling_kcenter_greedy_coreset",
    oracle=_kcenter_oracle(),
    doc=(
        "X7g: k-center greedy (farthest-point) coreset of the embedding "
        "corpus — the classic 2-approximation diversity sampler used to "
        "pick maximally-spread training exemplars (and seed k-means++ "
        "style initializations). Pick 0 = lowest vec_id; each of the "
        f"{_KCENTER_K - 1} following rounds selects the vector with the "
        "LARGEST distance to its nearest already-picked center (ties -> "
        "lowest vec_id). Every round is one map-only pass: the picked "
        "centers are bounded metadata inlined as a literal array, the "
        "min-distance is a sequential fold (ascending dims, LEAST "
        "across centers — both order-pinned), and the argmax is an "
        "orderBy(desc(md), vec_id).limit(1) — a TakeOrdered of ONE row "
        "per round, never a fact-grain sort. At 100 TB the identical "
        "loop runs on a hash-sampled slice, exactly like IVF training. "
        "The oracle unrolls the greedy recurrence as incremental "
        "min-distance CTEs and hash-matches picks AND distances."
    ),
    tags=("sampling", "llm", "similarity", "iterative"),
)
def sampling_kcenter_greedy_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _as_double

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))

    schema = "pick int, vec_id bigint, min_d2 double"
    seed_rows = emb.orderBy("vec_id").limit(1).collect()
    if not seed_rows:  # empty corpus -> empty coreset, same schema
        return spark.createDataFrame([], schema)
    first = seed_rows[0]
    picks: list[tuple[int, int, float | None]] = [(0, first["vec_id"], None)]
    centers = [(first["vec_id"], list(first["v"]))]
    for r in range(1, _KCENTER_K):
        cells = F.array(
            *[
                F.struct(
                    F.lit(vid).alias("vid"),
                    F.array(*[F.lit(float(x)) for x in vec]).alias("cv"),
                )
                for vid, vec in centers
            ]
        )
        d2 = lambda cell: F.aggregate(  # noqa: E731 — local fold builder
            F.zip_with(F.col("v"), cell["cv"], lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        md = F.aggregate(
            cells, F.lit(float("inf")), lambda acc, cell: F.least(acc, d2(cell))
        )
        top_rows = (
            emb.filter(~F.col("vec_id").isin([vid for vid, _ in centers]))
            .select("vec_id", "v", md.alias("md"))
            .orderBy(F.desc("md"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not top_rows:  # corpus smaller than k -> stop early
            break
        top = top_rows[0]
        picks.append((r, top["vec_id"], float(top["md"])))
        centers.append((top["vec_id"], list(top["v"])))
    return spark.createDataFrame(picks, schema).orderBy("pick")


# --- X7h: exact stratified train/val/test split (r5) ------------------------


def _split_oracle() -> str:
    from ..functions.xxh64_sql import hash_long_chain_subquery

    hashed = hash_long_chain_subquery(
        "documents", ["doc_id", "lang"], ["doc_id"], out="h"
    )
    return f"""
        WITH h AS (SELECT doc_id, lang, h FROM {hashed} q),
        r AS (
            SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY lang) AS n
            FROM h
        )
        SELECT doc_id, lang, CAST(rk AS BIGINT) AS rank_in_stratum,
               CASE WHEN rk <= (8 * n) // 10 THEN 'train'
                    WHEN rk <= (9 * n) // 10 THEN 'val'
                    ELSE 'test' END AS split
        FROM r ORDER BY lang, rank_in_stratum
    """


@register(
    "sampling_train_val_test_exact",
    oracle=_split_oracle(),
    doc=(
        "X7h: exact per-stratum 80/10/10 train/val/test split of the "
        "document corpus — EXACT floor counts per language (train gets "
        "floor(0.8n) docs, val the next floor(0.9n)-floor(0.8n), pure "
        "integer arithmetic, no probabilistic drift), with membership "
        "decided by rank in xxhash64(doc_id) order so the split is "
        "deterministic, reproducible, and uncorrelated with any data "
        "column. The per-stratum rank is computed WITHOUT a per-lang "
        "global sort: docs bucket by the top bits of the hash "
        "(monotone in the sort key), counts per (lang, bucket) roll "
        "into broadcast offsets, and the only row_number runs inside "
        "(lang, bucket) partitions — the bucket-offset pattern from "
        "operators/scalable.py, so a 4-language 100 TB corpus never "
        "funnels a stratum through one task. Oracle replays the hash "
        "via the XXH64 limb twin and a plain per-lang window."
    ),
    tags=("sampling", "llm"),
)
def sampling_train_val_test_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    t = Tables(spark, sf_dir)
    d = t.documents.select("doc_id", "lang", F.xxhash64("doc_id").alias("h"))
    # bucket-offset per-stratum rank: bucket = top 6 bits of the signed
    # hash (arithmetic shift -> monotone), offsets per (lang, bucket)
    b = d.withColumn("__bkt", F.expr("shiftright(h, 58)"))
    counts = b.groupBy("lang", "__bkt").agg(F.count(F.lit(1)).alias("__n"))
    woff = (
        W.partitionBy("lang")
        .orderBy("__bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = counts.select(
        "lang", "__bkt", F.coalesce(F.sum("__n").over(woff), F.lit(0)).alias("__off")
    )
    totals = counts.groupBy("lang").agg(F.sum("__n").alias("n"))
    local = F.row_number().over(W.partitionBy("lang", "__bkt").orderBy("h", "doc_id"))
    ranked = (
        b.join(F.broadcast(offs), ["lang", "__bkt"])
        .withColumn("rank_in_stratum", (F.col("__off") + local).cast("bigint"))
        .join(F.broadcast(totals), "lang")
    )
    return ranked.select(
        "doc_id",
        "lang",
        "rank_in_stratum",
        F.expr(
            "CASE WHEN rank_in_stratum <= (8 * n) DIV 10 THEN 'train' "
            "WHEN rank_in_stratum <= (9 * n) DIV 10 THEN 'val' "
            "ELSE 'test' END"
        ).alias("split"),
    ).orderBy("lang", "rank_in_stratum")


@register(
    "pipeline_preference_pairs",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                       AS score
            FROM documents
        ),
        best AS (
            SELECT lang, doc_id, score,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY score DESC, doc_id) AS r,
                   COUNT(*) OVER (PARTITION BY lang) AS n
            FROM scored
        ),
        worst AS (
            SELECT lang, doc_id, score,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY score ASC, doc_id DESC) AS r
            FROM scored
        )
        SELECT b.lang, CAST(b.r AS BIGINT) AS pair_rank,
               b.doc_id AS chosen_doc_id, w.doc_id AS rejected_doc_id,
               b.score AS chosen_score, w.score AS rejected_score,
               b.score - w.score AS margin
        FROM best b
        JOIN worst w ON w.lang = b.lang AND w.r = b.r
        WHERE b.r <= b.n // 2 AND b.score > w.score
    """,
    doc=(
        "Preference-pair construction for reward-model / DPO training "
        "data: within each language stratum, rank documents by a "
        "deterministic quality score (distinct-token count — swap in "
        "any scorer), then pair the i-th best with the i-th worst and "
        "emit (chosen, rejected, margin), keeping only pairs with a "
        "strictly positive margin — the standard best-vs-worst mining "
        "that maximizes preference signal per pair (adjacent-rank "
        "pairs carry almost none). Both rankings are integer "
        "row_numbers with doc_id tie-breaks (the DESC/ASC pair uses "
        "OPPOSITE doc_id orders so a fully-tied stratum pairs "
        "distinct docs rather than a doc with itself); the join is "
        "rank-to-rank within the stratum. Per-lang windows are "
        "stratum-bounded here; at corpus scale the rank swaps to the "
        "bucket-offset pattern the exact train/val/test splitter "
        "already uses. All columns integer — hash-exact trivially."
    ),
    tags=("sampling", "llm", "pipeline"),
)
def pipeline_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    scored = t.documents.select(
        "doc_id",
        "lang",
        F.size(F.array_distinct(F.split("text", " "))).cast("bigint").alias("score"),
    )
    wb = W.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    ww = W.partitionBy("lang").orderBy(F.asc("score"), F.desc("doc_id"))
    wn = W.partitionBy("lang")
    best = scored.select(
        "lang",
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("score").alias("chosen_score"),
        F.row_number().over(wb).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    worst = scored.select(
        "lang",
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("score").alias("rejected_score"),
        F.row_number().over(ww).alias("r"),
    )
    return (
        best.join(worst, ["lang", "r"])
        .filter((F.col("r") <= F.expr("n DIV 2")) & (F.col("chosen_score") > F.col("rejected_score")))
        .select(
            "lang",
            F.col("r").cast("bigint").alias("pair_rank"),
            "chosen_doc_id",
            "rejected_doc_id",
            "chosen_score",
            "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
    )


_EPOCHS = 3
_EPOCH_SHARDS = 8


def _epoch_shuffle_oracle() -> str:
    from ..functions.xxh64_sql import hash_long_chain_subquery

    base = (
        "(SELECT d.doc_id, d.n_chars, e.epoch FROM documents d CROSS JOIN "
        "(VALUES " + ", ".join(f"({k}::BIGINT)" for k in range(_EPOCHS))
        + ") e(epoch))"
    )
    hashed = hash_long_chain_subquery(
        base, ["doc_id", "n_chars", "epoch"], ["doc_id", "epoch"], out="h"
    )
    return f"""
        WITH assigned AS (
            SELECT epoch, n_chars,
                   ((h % {_EPOCH_SHARDS}) + {_EPOCH_SHARDS}) % {_EPOCH_SHARDS}
                       AS shard
            FROM {hashed}
        ),
        g AS (
            SELECT epoch, CAST(shard AS BIGINT) AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM assigned GROUP BY epoch, shard
        )
        SELECT epoch, shard, n_docs, total_chars,
               CAST(n_docs AS DOUBLE)
                   / CAST(SUM(n_docs) OVER (PARTITION BY epoch) AS DOUBLE)
                   AS share_of_epoch
        FROM g
        ORDER BY epoch, shard
    """


@register(
    "pipeline_epoch_shuffle_plan",
    oracle=_epoch_shuffle_oracle(),
    doc=(
        "X7k: deterministic epoch-wise shuffle plan — shard = "
        "pmod(xxhash64(doc_id, epoch), {0}) re-deals the corpus into a "
        "DIFFERENT balanced {0}-way split every training epoch with "
        "zero state (no permutation table, no RNG checkpoint: any "
        "worker can recompute any epoch's assignment from the key "
        "alone — how large-scale training re-shuffles 100 TB between "
        "epochs without materializing an order). Output per (epoch, "
        "shard): document count, character budget, and within-epoch "
        "share (window over the {0}-row per-epoch grid). The oracle "
        "replays Spark's xxhash64 long-chain bit-for-bit via the "
        "pure-SQL XXH64 emitter, so the assignment itself is "
        "hash-verified, not just the balance."
        .format(_EPOCH_SHARDS)
    ),
    tags=("pipeline", "llm", "sampling"),
)
def pipeline_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    epochs = F.array(*[F.lit(k).cast("long") for k in range(_EPOCHS)])
    assigned = t.documents.select(
        "doc_id", "n_chars", F.explode(epochs).alias("epoch")
    ).select(
        "epoch",
        "n_chars",
        F.pmod(F.xxhash64(F.col("doc_id"), F.col("epoch")), F.lit(_EPOCH_SHARDS))
        .cast("bigint")
        .alias("shard"),
    )
    g = assigned.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return (
        g.withColumn(
            "share_of_epoch",
            F.expr("CAST(n_docs AS DOUBLE)")
            / F.sum("n_docs").over(W.partitionBy("epoch")).cast("double"),
        )
        .orderBy("epoch", "shard")
    )


@register(
    "sampling_temporal_holdout_split",
    oracle="""
        WITH tagged AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   CAST(ts AS DATE) <= DATE '2024-01-23' AS is_train
            FROM events
        )
        SELECT CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
                 AS train_events,
               CAST(COUNT(DISTINCT CASE WHEN is_train THEN user_id END)
                    AS BIGINT) AS train_users,
               CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
                 AS test_events,
               CAST(COUNT(DISTINCT CASE WHEN is_train THEN NULL
                                        ELSE user_id END) AS BIGINT)
                 AS test_users,
               MAX(CASE WHEN is_train THEN day END) AS train_max_day,
               MIN(CASE WHEN is_train THEN NULL ELSE day END) AS test_min_day,
               MAX(CASE WHEN is_train THEN day END)
                 < MIN(CASE WHEN is_train THEN NULL ELSE day END)
                 AS no_leakage
        FROM tagged
    """,
    doc=(
        "X7l: temporal holdout split — train on days up to the pinned "
        "cutoff (2024-01-23), test on everything after: the split "
        "evaluation pipelines need when the i.i.d. hash split would "
        "leak the future into training (forecasting, churn, any "
        "time-conditioned label). One conditional aggregate emits both "
        "sides' event/user counts, the boundary days, and the "
        "NO-LEAKAGE verdict (max train day strictly before min test "
        "day — definitionally true of a date split, so a FALSE here "
        "means the ingest clock itself is broken, the DQ angle). "
        "Map-only over the fact scan; exact integers."
    ),
    tags=("sampling", "llm", "dq"),
)
def sampling_temporal_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    tagged = t.events.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        (F.col("ts").cast("date") <= F.lit("2024-01-23").cast("date")).alias(
            "is_train"
        ),
    )
    return tagged.agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0))
        .cast("bigint")
        .alias("train_events"),
        F.countDistinct(F.when(F.col("is_train"), F.col("user_id")))
        .cast("bigint")
        .alias("train_users"),
        F.sum(F.when(F.col("is_train"), 0).otherwise(1))
        .cast("bigint")
        .alias("test_events"),
        F.countDistinct(F.when(~F.col("is_train"), F.col("user_id")))
        .cast("bigint")
        .alias("test_users"),
        F.max(F.when(F.col("is_train"), F.col("day"))).alias("train_max_day"),
        F.min(F.when(~F.col("is_train"), F.col("day"))).alias("test_min_day"),
        (
            F.max(F.when(F.col("is_train"), F.col("day")))
            < F.min(F.when(~F.col("is_train"), F.col("day")))
        ).alias("no_leakage"),
    )


_SOURCE_CAP = 120  # max docs kept per source
_SOURCE_CAP_SALT = 4235640763196857468


def _source_cap_oracle() -> str:
    from ..functions.xxh64_sql import hash_long_chain_subquery

    hashed = hash_long_chain_subquery(
        "(SELECT source, doc_id, n_chars FROM documents)",
        ["source", "doc_id", "n_chars"],
        ["doc_id"],
        out="h",
    )
    return f"""
        WITH ranked AS (
            SELECT source, doc_id, n_chars,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY xor(h, {_SOURCE_CAP_SALT}::BIGINT), doc_id)
                     AS rn,
                   COUNT(*) OVER (PARTITION BY source) AS n_source
            FROM {hashed}
        )
        SELECT source,
               CAST(MAX(n_source) AS BIGINT) AS n_before,
               CAST(SUM(CASE WHEN rn <= {_SOURCE_CAP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN rn <= {_SOURCE_CAP} THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN rn <= {_SOURCE_CAP} THEN n_chars ELSE 0 END)
                    AS BIGINT) AS kept_chars
        FROM ranked
        GROUP BY source
        ORDER BY source
    """


@register(
    "sampling_source_cap_enforce",
    oracle=_source_cap_oracle(),
    doc=(
        "X7m: per-source document cap — keep at most {0} docs per "
        "source by a deterministic hash order (xxhash64(doc_id) XOR a "
        "fixed salt, doc_id tiebreak): the head-source diversity cap "
        "every mixture pipeline enforces before weighting (one crawl "
        "dump must not BE the corpus, and a hash order caps without "
        "the bias a quality order would compound). Rank windows "
        "partition by source — never global; the report emits exact "
        "before/kept/dropped counts and the kept char mass per "
        "source. The oracle replays the hash order bit-for-bit via "
        "the pure-SQL XXH64 emitter (driver-safe: no Python UDF)."
        .format(_SOURCE_CAP)
    ),
    tags=("sampling", "llm"),
)
def sampling_source_cap_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    ranked = t.documents.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(
            W.partitionBy("source").orderBy(
                F.expr("xxhash64(doc_id) ^ 4235640763196857468"), "doc_id"
            )
        )
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n_source"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.max("n_source").cast("bigint").alias("n_before"),
            F.sum(F.when(F.col("rn") <= _SOURCE_CAP, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("rn") <= _SOURCE_CAP, 0).otherwise(1))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(F.when(F.col("rn") <= _SOURCE_CAP, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


_MANIFEST_SHARDS = 16


def _shard_manifest_oracle() -> str:
    from ..functions.xxh64_sql import hash_long_chain_subquery

    assign = hash_long_chain_subquery(
        "documents", ["doc_id", "n_chars"], ["doc_id"], out="ha"
    )
    rowh = hash_long_chain_subquery(
        f"(SELECT doc_id, n_chars, ha FROM {assign})",
        ["doc_id", "n_chars", "ha"],
        ["doc_id", "n_chars"],
        out="hrow",
    )
    return f"""
        SELECT CAST(((ha % {_MANIFEST_SHARDS}) + {_MANIFEST_SHARDS})
                    % {_MANIFEST_SHARDS} AS INT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
               CAST(BIT_XOR(hrow) AS BIGINT) AS content_checksum
        FROM {rowh}
        GROUP BY shard
        ORDER BY shard
    """


@register(
    "pipeline_shard_manifest_checksums",
    oracle=_shard_manifest_oracle(),
    doc=(
        "X7n: shard manifest with order-independent content checksums "
        "— the artifact a training job writes next to its data so any "
        "later reader can verify a shard without re-reading the "
        "corpus. Shard = pmod(xxhash64(doc_id), 16) (the stateless "
        "re-deal the epoch shuffler uses); per shard: doc count, "
        "character budget, id range, and a checksum = BIT_XOR of "
        "per-row xxhash64(doc_id, n_chars) — XOR commutes, so the "
        "checksum is independent of row order and partitioning, "
        "exactly what a distributed writer needs (any single flipped "
        "row flips the checksum). One scan, one hash aggregate; the "
        "oracle replays both hash chains via the pure-SQL XXH64 twin."
    ),
    tags=("pipeline", "llm", "sampling", "dq"),
)
def pipeline_shard_manifest_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(_MANIFEST_SHARDS))
            .cast("int")
            .alias("shard"),
            "doc_id",
            "n_chars",
            F.xxhash64("doc_id", "n_chars").alias("hrow"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
            F.expr("BIT_XOR(hrow)").cast("bigint").alias("content_checksum"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Round-8 addition (SURVEY §2.18 X7p): group k-fold assignment — CV
# splits that keep each user's events in exactly one fold.
# ---------------------------------------------------------------------------

_KFOLD_SPARK = _H_SPARK.format(key="user_id") + " % 5"
_KFOLD_DUCK = _H_DUCK.format(key="user_id") + " % 5"


@register(
    "sampling_group_kfold_assign",
    oracle=f"""
        WITH assigned AS (
            SELECT user_id, {_KFOLD_DUCK} AS fold, event_type
            FROM events
        ),
        per_fold AS (
            SELECT fold,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_purchases
            FROM assigned GROUP BY fold
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
        leak AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_leaky FROM (
                SELECT user_id FROM assigned
                GROUP BY user_id HAVING COUNT(DISTINCT fold) > 1
            )
        )
        SELECT CAST(fold AS BIGINT) AS fold, n_users, n_events, n_purchases,
               CAST(n_events AS DOUBLE) / CAST(tot.n AS DOUBLE) AS event_share,
               leak.n_leaky = 0 AS no_group_leakage
        FROM per_fold CROSS JOIN tot CROSS JOIN leak
        ORDER BY fold
    """,
    doc=(
        "X7p: group k-fold cross-validation assignment (k = 5, groups "
        "= users) — the CV split that prevents the classic leakage "
        "failure where one user's events land in both train and "
        "validation folds and the model 'learns the user'. Fold is a "
        "pure function of user_id (the repo's md5 split hash mod 5), "
        "so assignment is stable across runs, partitionings, and "
        "engines, and group integrity holds BY CONSTRUCTION — the "
        "no_group_leakage verdict re-proves it from the data (count "
        "of users spanning > 1 fold must be zero) rather than "
        "trusting the construction. One scan + a fold-grain "
        "aggregate; the leakage audit is a user-grain aggregate with "
        "a one-row broadcast back."
    ),
    tags=("sampling", "llm", "ab"),
)
def sampling_group_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    assigned = t.events.select(
        "user_id", F.expr(_KFOLD_SPARK).alias("fold"), "event_type"
    )
    per_fold = assigned.groupBy("fold").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_purchases"),
    )
    tot = t.events.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    leak = (
        assigned.groupBy("user_id")
        .agg(F.countDistinct("fold").alias("nf"))
        .filter(F.col("nf") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leaky"))
    )
    return (
        per_fold.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leak))
        .select(
            F.col("fold").cast("bigint").alias("fold"),
            "n_users",
            "n_events",
            "n_purchases",
            F.expr("CAST(n_events AS DOUBLE) / CAST(n AS DOUBLE)").alias(
                "event_share"
            ),
            F.expr("n_leaky = 0").alias("no_group_leakage"),
        )
        .orderBy("fold")
    )
