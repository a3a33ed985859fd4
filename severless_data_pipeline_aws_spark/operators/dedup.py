"""Deduplication operators (SURVEY §2.9 X1/X2) over the ``documents``
table — the LLM-training-pipeline extension mandated by the north star.

Four tiers, each the 100 TB-safe shape:

* **exact** — sha2(text) + per-hash ``row_number`` (one shuffle on the
  hash; never a driver-side collect; dropDuplicates would be the same
  plan with less control over the survivor).
* **n-gram Jaccard** — shingle-level set similarity; candidates come
  from an equi-join on shared shingles (inverted index), NOT an
  all-pairs cross join.
* **MinHash + LSH** — the sub-quadratic near-dup path: shingles →
  k minhashes → banded signatures → bucket join → exact-Jaccard
  verification of candidates only.
* **SimHash** — 63-bit fingerprints computed per-row with higher-order
  array functions (zero shuffles until the band join), banded for
  Hamming-distance candidate pairs.

Reference parity: the reference has no dedup (it is an IoT pipeline);
these operators come from BASELINE.json's north-star scope. All
expressions are built-in JVM-side column functions — no Python UDFs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..io import Tables
from ..registry import register
from ._helpers import bucket_pairs, materialize, ngrams, spread

#: documents subset used by the quadratic-adjacent verification queries —
#: candidate joins stay bounded while still covering many near-dup pairs.
#: The bound is SCALE-AWARE (max(150, half the corpus)): the generator
#: scatters injected near-dup pairs uniformly over the id space, so a
#: fixed 150-id block goes pair-empty once the corpus outgrows it (bit at
#: sf0.1); half the id space keeps ~1/4 of injected pairs fully inside at
#: every SF while the candidate join stays bounded.
_PAIR_SUBSET = 150

_PAIR_BOUND_SQL = f"GREATEST({_PAIR_SUBSET}, (SELECT COUNT(*) FROM documents) // 2)"


def _pair_docs(t: Tables):
    """The pair-tier document subset (Spark twin of _PAIR_BOUND_SQL).

    r12: spread() so the shingle/signature explodes downstream of every
    pair-tier query parallelize even on the single-row-group local
    layout (no-op on well-split production layouts). The corpus size is
    an in-plan scalar subquery, so building the subset launches no job;
    spread() runs on the scan before the filter, so its partition count
    never plans the subquery."""
    n = t.documents.select(F.count(F.lit(1))).scalar()
    bound = F.greatest(F.lit(_PAIR_SUBSET), F.shiftright(n, 1))  # n DIV 2
    return spread(t.documents).filter(F.col("doc_id") <= bound)

#: DuckDB twin of ``_shingles()`` over the ``_PAIR_SUBSET`` docs — the
#: ONE place the oracle-side 3-gram definition lives (interpolated into
#: every candidate-pair oracle below; keep in sync with _shingles()).
_SHINGLE_CTE_SQL = f"""sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2])) AS shingle
            FROM documents WHERE doc_id <= {_PAIR_BOUND_SQL}
        )"""


def _shingles(col: str = "text", n: int = 3):
    """Distinct word n-gram shingles of a text column (JVM-side exprs)."""
    return F.array_distinct(ngrams(col, n))


#: The synthetic corpus has no byte-identical duplicates below sf0.1, so
#: the exact-dedup operators would pass vacuously at the driver's scale.
#: Both therefore run over ``documents`` plus a re-keyed copy of every
#: 10th doc — negated ids are collision-free against the non-negative id
#: space at ANY scale, and the oracle injects the identical rows.
_DUP_CORPUS_SQL = """corpus AS (
            SELECT doc_id, text, lang, source, n_chars FROM documents
            UNION ALL
            SELECT -doc_id - 1, text, lang, source, n_chars
            FROM documents WHERE doc_id % 10 = 0
        )"""


def duplicated_corpus(t: Tables) -> DataFrame:
    """Spark twin of ``_DUP_CORPUS_SQL``."""
    d = t.documents.select("doc_id", "text", "lang", "source", "n_chars")
    dup = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", -F.col("doc_id") - 1
    )
    return d.unionByName(dup)


@register(
    "dedup_exact_keep_first",
    oracle=f"""
        WITH {_DUP_CORPUS_SQL},
        ranked AS (
            SELECT doc_id, lang, source, n_chars,
                   row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
            FROM corpus
        )
        SELECT doc_id, lang, source, n_chars FROM ranked WHERE rn = 1
    """,
    doc=(
        "X1: exact dedup at scale — sha2(text,256) + keep-first window "
        "over the duplicate-injected corpus. One shuffle on the 256-bit "
        "hash; survivor choice is deterministic (lowest doc_id), unlike "
        "dropDuplicates."
    ),
    tags=("dedup", "llm"),
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    w = W.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    return (
        duplicated_corpus(t)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "dedup_exact_clusters",
    oracle=f"""
        WITH {_DUP_CORPUS_SQL}
        SELECT sha256(text) AS text_hash, COUNT(*) AS n_copies,
               MIN(doc_id) AS first_doc_id
        FROM corpus
        GROUP BY sha256(text)
        HAVING COUNT(*) > 1
    """,
    doc=(
        "X1: duplicate-cluster inventory (hash, multiplicity, surviving "
        "id) over the duplicate-injected corpus — non-vacuous at every "
        "scale."
    ),
    tags=("dedup", "llm"),
)
def dedup_exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        duplicated_corpus(t)
        .groupBy(F.sha2("text", 256).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("first_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
        WITH {_SHINGLE_CTE_SQL},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.doc_a, i.doc_b,
               CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.4
    """,
    doc=(
        "X2 (exact tier): word-3-gram Jaccard near-dup pairs via an "
        "inverted shingle index — candidates share >=1 shingle, so no "
        "all-pairs blowup. Jaccard = |A∩B| / (|A|+|B|-|A∩B|), one exact "
        "int division per pair."
    ),
    tags=("dedup", "llm", "jaccard"),
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    docs = _pair_docs(t)
    sh = docs.select("doc_id", F.explode(_shingles()).alias("shingle")).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.4)
    )


#: MinHash parameters: 32 hashes in 8 bands of 4 rows — catches pairs with
#: Jaccard >= ~0.5 with high probability (1-(1-s^4)^8).
_MINHASH_K = 32
_LSH_BANDS = 8
_LSH_ROWS = 4


def _minhash_lsh_oracle() -> str:
    """Exact DuckDB twin of ``dedup_minhash_lsh`` (r4: was rows-only).

    The hash family is Spark's ``xxhash64('s{i}', shingle)``; the
    oracle replays it bit-for-bit in pure SQL via the recursive-CTE
    XXH64 emitter (functions/xxh64_sql.py) — the tag seeds
    ``xxhash64('s{i}')`` are Python-precomputed constants, each
    DISTINCT shingle is hashed once under all 32 seeds (seeds ride as
    rows), signatures fold back per doc with MIN, band buckets chain
    four hashLongs, and the candidate join + exact-Jaccard verify
    mirror the Spark plan."""
    from ..functions.xxh64 import hash_str
    from ..functions.xxh64_sql import hash_long_chain_subquery, rec_hash_ctes

    seeds = ", ".join(
        f"({i}, {hash_str(f's{i}') % (1 << 64)}::HUGEINT)" for i in range(_MINHASH_K)
    )
    bucket_sub = hash_long_chain_subquery(
        "bandv", ["doc_id", "band"], ["m0", "m1", "m2", "m3"], out="bucket"
    )
    return f"""
        WITH RECURSIVE {_SHINGLE_CTE_SQL},
        shm AS MATERIALIZED (SELECT doc_id, shingle FROM sh),
        uq AS (SELECT DISTINCT shingle FROM shm),
        mh_src AS (
            SELECT shingle AS k, sd.tag, sd.seed, shingle AS s
            FROM uq CROSS JOIN (VALUES {seeds}) sd(tag, seed)
        ),
        {rec_hash_ctes('mh')},
        sig AS (
            SELECT m.doc_id, o.tag, MIN(o.hsig) AS mh
            FROM shm m JOIN mh_out o ON o.k = m.shingle
            GROUP BY m.doc_id, o.tag
        ),
        sigb AS (SELECT doc_id, tag // 4 AS band, tag % 4 AS r, mh FROM sig),
        bandv AS (
            SELECT doc_id, band,
                   MIN(CASE WHEN r = 0 THEN mh END) AS m0,
                   MIN(CASE WHEN r = 1 THEN mh END) AS m1,
                   MIN(CASE WHEN r = 2 THEN mh END) AS m2,
                   MIN(CASE WHEN r = 3 THEN mh END) AS m3
            FROM sigb GROUP BY doc_id, band
        ),
        bk AS MATERIALIZED (SELECT doc_id, band, bucket FROM {bucket_sub}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bk a JOIN bk b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM shm GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
            FROM cand c
            JOIN shm a ON a.doc_id = c.doc_a
            JOIN shm b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT i.doc_a, i.doc_b,
               CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
    """


def _simhash_pairs_oracle() -> str:
    """Exact DuckDB twin of ``dedup_simhash_pairs`` (r4: was rows-only):
    per-word ``xxhash64`` replayed via the recursive-CTE emitter over
    the DISTINCT word set, 63 bit-votes as a cross-join aggregate, the
    21-bit banding and Hamming verify as plain integer arithmetic."""
    from ..functions.xxh64_sql import rec_hash_ctes

    return f"""
        WITH RECURSIVE
        docsb AS (
            SELECT doc_id, text FROM documents WHERE doc_id <= {_PAIR_BOUND_SQL}
        ),
        wp AS MATERIALIZED (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM docsb
        ),
        wq AS (SELECT DISTINCT w FROM wp),
        sw_src AS (SELECT w AS k, 0 AS tag, 42::HUGEINT AS seed, w AS s FROM wq),
        {rec_hash_ctes('sw')},
        wh AS MATERIALIZED (
            SELECT wp.doc_id, o.h FROM wp JOIN sw_out o ON o.k = wp.w
        ),
        nwords AS (SELECT doc_id, COUNT(*) AS n FROM wh GROUP BY doc_id),
        votes AS (
            SELECT wh.doc_id, bb.bit,
                   COUNT(*) FILTER (WHERE ((wh.h >> bb.bit) & 1) = 1) AS c
            FROM wh CROSS JOIN (SELECT unnest(range(0, {_SIMHASH_BITS})) AS bit) bb
            GROUP BY wh.doc_id, bb.bit
        ),
        fp AS MATERIALIZED (
            SELECT v.doc_id,
                   CAST(SUM(CASE WHEN 2 * v.c > nwords.n
                                 THEN (1::BIGINT << v.bit) ELSE 0 END) AS BIGINT) AS simhash
            FROM votes v JOIN nwords USING (doc_id)
            GROUP BY v.doc_id
        ),
        bands AS (
            SELECT doc_id, simhash, t.band,
                   (simhash >> (t.band * 21)) & {(1 << 21) - 1} AS bucket
            FROM fp CROSS JOIN (VALUES (0), (1), (2)) t(band)
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """


def _decontaminate_hashed_oracle() -> str:
    """Exact DuckDB twin of ``dedup_decontaminate_hashed`` (r4: was
    rows-only): same gram CTE as the string-gram twin, but grams carry
    their Spark ``xxhash64`` values (recursive-CTE emitter over the
    distinct gram set), so the oracle verifies the HASHED pipeline —
    including any collision effects — not the string proxy."""
    from ..functions.xxh64_sql import rec_hash_ctes

    return f"""
        WITH RECURSIVE
        grams AS MATERIALIZED (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - {_DECON_N - 2}, 1)),
                       i -> array_to_string(string_split(text, ' ')[i : i + {_DECON_N - 1}], ' '))) AS gram_s
            FROM documents
        ),
        gq AS (SELECT DISTINCT gram_s FROM grams),
        dh_src AS (SELECT gram_s AS k, 0 AS tag, 42::HUGEINT AS seed, gram_s AS s FROM gq),
        {rec_hash_ctes('dh')},
        gh AS MATERIALIZED (
            SELECT g.doc_id, o.hsig AS gram
            FROM grams g JOIN dh_out o ON o.k = g.gram_s
        ),
        ev AS (SELECT DISTINCT doc_id AS eval_doc, gram FROM gh WHERE doc_id % 20 = 7)
        SELECT t.doc_id,
               COUNT(DISTINCT t.gram) AS n_shared_grams,
               COUNT(DISTINCT e.eval_doc) AS n_eval_docs_hit
        FROM gh t JOIN ev e USING (gram)
        WHERE t.doc_id % 20 != 7
        GROUP BY t.doc_id
    """


def minhash_signature(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``mh_0..mh_{k-1}`` minhash columns (k independent hash fns).

    Each hash family member is ``xxhash64(seed_tag, shingle)``; the
    signature element is the min over the doc's shingle set — computed
    per-row with higher-order functions (no explode, no shuffle).
    """
    # r12: one select instead of a 32-step withColumn chain — each
    # withColumn re-analyzes the whole growing plan on the driver
    # (quadratic), which dominated fn() build time (~2.6s of the lsh
    # query). Two analysis passes produce the identical physical plan.
    out = df.select("*", _shingles(text_col).alias("_shingles"))
    return out.select(
        "*",
        *[
            F.array_min(
                F.expr(f"transform(_shingles, sh -> xxhash64('s{s}', sh))")
            ).alias(f"mh_{s}")
            for s in range(_MINHASH_K)
        ],
    ).drop("_shingles")


def minhash_lsh_candidates(docs: DataFrame) -> DataFrame:
    """The LSH candidate stage alone: (doc_a, doc_b) pairs sharing at
    least one band bucket — the pre-verification pair space. Exposed
    (r10) so the scale sweep's dedup probe can record candidate counts
    at 10x/30x without duplicating the banding logic."""
    # r11 note: checkpointing this two-consumer signature was measured
    # a wash-to-loss at bench SF (3.65 -> 4.01s) — with only the band
    # self-join downstream, parallel recomputation across cores beats a
    # serialized materialization; the >=4-consumer sites (estimate
    # audit, band curve) keep their checkpoints, which measured ahead.
    sig = minhash_signature(docs).select(
        "doc_id", *[f"mh_{s}" for s in range(_MINHASH_K)]
    )
    # band hash = xxhash64 of the band's signature slice
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"mh_{b * _LSH_ROWS + r}") for r in range(_LSH_ROWS)]
                        ).alias("bucket"),
                    )
                    for b in range(_LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")

    # r12 (guide §2.4): the band self-join computed the 32-minhash
    # signature TWICE (once per join side; r11's checkpoint was a
    # measured loss, but recomputation still paid double the xxhash64
    # CPU). Grouping each bucket's doc list instead generates the same
    # pairs from ONE signature pass — and unlike the jaccard inverted-
    # index rewrite (rejected: 8.7M generated rows through an object
    # aggregate), the input here is only |docs|*bands rows and buckets
    # hold a handful of docs, so the object aggregate is trivial.
    # Measured 3.07 -> 1.53s on the candidate stage; output proven
    # identical (exceptAll both ways = 0).
    grp = (
        bands.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    return (
        grp.select(bucket_pairs("ds", "x AS doc_a, y AS doc_b").alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_lsh_oracle(),
    doc=(
        "X2 (scale tier): MinHash-LSH near-dup pairs. shingle → 32 "
        "minhashes → 8 banded signatures → bucket equi-join for candidates "
        "→ exact-Jaccard verification of candidates only. Sub-quadratic: "
        "the only joins are equi-joins on band hashes and shingles of "
        "candidate pairs. Verified two ways: pytest recall against the "
        "exact dedup_ngram_jaccard_pairs result, and (r4) an EXACT "
        "DuckDB oracle that replays Spark's xxhash64 bit-for-bit in "
        "pure SQL (functions/xxh64_sql.py), covering every minhash, "
        "band bucket, candidate pair, and Jaccard value."
    ),
    tags=("dedup", "llm", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    docs = _pair_docs(t)
    candidates = minhash_lsh_candidates(docs)

    # exact-Jaccard verification of the candidate pairs only
    sh = docs.select("doc_id", F.explode(_shingles()).alias("shingle")).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        candidates.join(a, "doc_a")
        .join(b.withColumnRenamed("shingle", "shingle_b"), "doc_b")
        .filter(F.col("shingle") == F.col("shingle_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


@register(
    "dedup_levenshtein_verify",
    oracle=f"""
        WITH {_SHINGLE_CTE_SQL},
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 20
        )
        SELECT i.doc_a, i.doc_b,
               levenshtein(da.text, db.text) AS edit_distance,
               CAST(length(da.text) AS INT) AS len_a,
               CAST(length(db.text) AS INT) AS len_b
        FROM inter i
        JOIN documents da ON da.doc_id = i.doc_a
        JOIN documents db ON db.doc_id = i.doc_b
    """,
    doc=(
        "X2 (character tier): Levenshtein edit distance as the final "
        "verifier over shingle-index candidates (>=20 shared 3-grams) — "
        "the expensive O(len^2) comparison runs only on the pre-filtered "
        "pair set, never all pairs."
    ),
    tags=("dedup", "llm", "levenshtein"),
)
def dedup_levenshtein_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    docs = _pair_docs(t)
    sh = docs.select("doc_id", F.explode(_shingles()).alias("shingle")).distinct()
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    cand = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .filter(F.col("n_inter") >= 20)
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("text_a", "text_b").alias("edit_distance"),
            F.length("text_a").alias("len_a"),
            F.length("text_b").alias("len_b"),
        )
    )


#: Exact-tier embedding block bound (SCALE CONTRACT): the all-pairs
#: cosine queries below are the EXACT tier and stay quadratic by design
#: — they must only ever run on a bounded block (demo: first
#: _EMB_EXACT_BLOCK vectors; production: one LSH/IVF bucket at a time,
#: see similarity_ann_lsh). The bound is a module constant so a caller
#: cannot silently un-bound the pair space by editing one literal in
#: one of the four sites (r3 VERDICT nit #3); the plan keeps the
#: bounded side broadcast when the cap grows 10x (tests/test_plans.py).
_EMB_EXACT_BLOCK = 300

@register(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings WHERE vec_id < {_EMB_EXACT_BLOCK}
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
    """,
    doc=(
        "X2 (embedding tier): near-dup pairs by embedding cosine — the "
        "semantic-dedup primitive. Exact on a bounded block here "
        "(hash-verified scores); at 100 TB the candidate set comes from "
        "the LSH buckets (similarity_ann_lsh) instead of all pairs."
    ),
    tags=("dedup", "llm", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return embedding_exact_pairs(t)


def embedding_exact_pairs(t: Tables, cap: int = _EMB_EXACT_BLOCK) -> DataFrame:
    """All-pairs cosine >= 0.35 over the first ``cap`` vectors.

    SCALE CONTRACT: quadratic by design — the exact tier. ``cap`` bounds
    the pair space; at any cap the small side stays a broadcast
    (plan-asserted with cap x10 in tests/test_plans.py), never a
    shuffled cartesian. Production feeds one LSH/IVF bucket at a time."""
    e = (
        t.embeddings.filter(F.col("vec_id") < cap)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("v"), F.col("v"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", (dot / (F.col("na") * F.col("nb"))).alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
    )


_SIMHASH_BITS = 63  # bits 0..62: keep the long positive, avoid 1<<63 overflow


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add a 63-bit ``simhash`` column, computed per-row (no shuffle).

    Classic bit-vote construction over distinct word hashes: bit b of the
    fingerprint is 1 iff more than half the word hashes have bit b set.
    """
    hashes = F.expr(f"transform(array_distinct(split({text_col}, ' ')), w -> xxhash64(w))")
    out = df.withColumn("_wh", hashes).withColumn("_nw", F.size("_wh"))
    bit_terms = [
        F.when(
            F.size(F.expr(f"filter(_wh, h -> (h >> {b}) & 1 = 1)")) * 2 > F.col("_nw"),
            F.lit(1 << b).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(_SIMHASH_BITS)
    ]
    return out.withColumn("simhash", reduce(lambda x, y: x + y, bit_terms)).drop("_wh", "_nw")


@register(
    "dedup_simhash_pairs",
    oracle=_simhash_pairs_oracle(),
    doc=(
        "X2 (fingerprint tier): SimHash near-dup pairs. 63-bit bit-vote "
        "fingerprint per doc (higher-order array exprs, zero shuffle), "
        "then 3×21-bit bands: any pair within Hamming distance 2 shares "
        "at least one clean band (pigeonhole), so the candidate join is an "
        "equi-join on band values; final filter bit_count(xor) <= 6 "
        "REPORTS pairs the banding happened to surface up to distance 6 "
        "(banding is complete only through distance 2 — pairs at 3-6 "
        "sharing no clean band are not candidates). r4: exact DuckDB "
        "oracle — per-word xxhash64 replayed in pure SQL, bit votes, "
        "bands, and Hamming all integer-exact."
    ),
    tags=("dedup", "llm", "simhash"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    docs = _pair_docs(t)
    fp = simhash(docs).select("doc_id", "simhash")

    band_width = 21
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("bucket"),
                    )
                    for b in range(3)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")

    # r12 (guide §2.4, same move as minhash_lsh_candidates): the band
    # self-join computed the simhash fingerprint (word explode + 63 bit
    # votes) on both sides; bucket-group + i<j explode runs it once.
    grp = (
        bands.groupBy("band", "bucket")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias(
                "ds"
            )
        )
        .filter(F.size("ds") >= 2)
    )
    return (
        grp.select(
            bucket_pairs(
                "ds",
                "x.doc_id AS doc_a, y.doc_id AS doc_b,"
                " x.simhash AS sh_a, y.simhash AS sh_b",
            ).alias("p")
        )
        .select(
            "p.doc_a",
            "p.doc_b",
            F.bit_count(F.expr("p.sh_a ^ p.sh_b")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 6)
    )




def _both_ways(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Both directions (src, dst) of every (a, b) pair, reading ``pairs`` once."""
    both = f"array(struct({a} AS src, {b} AS dst), struct({b} AS src, {a} AS dst))"
    return pairs.select(F.inline(F.expr(both)))


def min_label_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation over a symmetric edge list of non-null ids
    (columns ``src``, ``dst``) -> one row per node: (doc_id, component =
    min node id of its component), as one lazy plan.

    The adjacency is gathered into one row, sorted by node id: ``vs``
    (the node ids) and ``nbr`` (each node's neighbors as positions in
    ``vs``). Labels are positions too — the sort makes the smallest
    position the smallest id — held in an array indexed by position, so
    every lookup in the fold is O(1) (a map lookup scans its keys). The
    labels fold with ``aggregate()``: each step sets every label to the
    min of itself, its label's label (a pointer jump — valid because
    every label is a node in the same component) and its neighbors'
    labels. Labels reach the component minimum within the graph's
    diameter (at most n - 1 steps, the fold's length), and once a step
    changes nothing the rest are no-ops. The row holds the candidate
    graph, not the corpus; at trillion-edge scale
    :func:`star_components` is the distributed strategy. Shared by the
    shingle-graph and semantic (embedding-cosine) cluster queries and the
    grid-DBSCAN lattice (``geo_dbscan_grid_clusters``)."""
    g = (
        edges.groupBy("src")
        .agg(F.collect_list("dst").alias("ns"))
        .agg(
            F.array_sort(F.collect_list("src")).alias("vs"),
            F.array_sort(F.collect_list(F.struct("src", "ns"))).alias("g"),
        )
    )
    # nbr rides in the accumulator: it is built once, and a column read
    # only inside the step lambda would be inlined and rebuilt per call
    labels = g.select(
        "vs",
        F.expr(
            """aggregate(sequence(1, size(vs)),
                named_struct(
                    'nbr', transform(g, x -> transform(x.ns, w -> CAST(array_position(vs, w) AS INT) - 1)),
                    'prev', CAST(array() AS ARRAY<INT>),
                    'l', transform(vs, (v, i) -> i)),
                (acc, s) -> IF(acc.prev = acc.l, acc, named_struct(
                    'nbr', acc.nbr,
                    'prev', acc.l,
                    'l', transform(acc.l, (l, i) -> least(
                        l, acc.l[l], array_min(transform(acc.nbr[i], w -> acc.l[w])))))),
                acc -> acc.l)"""
        ).alias("l"),
    )
    # explode the node list, not the fold: the non-empty filter Spark
    # infers on a generator's input would otherwise copy the fold
    return labels.select(F.posexplode("vs").alias("i", "doc_id"), "vs", "l").select(
        "doc_id", F.col("vs")[F.col("l")[F.col("i")]].alias("component")
    )


def _shingle_pairs(t: Tables) -> DataFrame:
    """The near-dup candidate graph of the pair-tier docs as a symmetric
    edge list (src, dst): both directions of every doc pair sharing >= 3
    distinct 3-gram shingles. Each shingle's sorted doc list explodes its
    i<j pairs (no shingle self-join); the pair count is the number of
    shared shingles."""
    sh = _pair_docs(t).select("doc_id", F.explode(_shingles()).alias("shingle"))
    pairs = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .select(bucket_pairs("ds", "x AS a, y AS b").alias("p"))
        .groupBy("p.a", "p.b")
        .count()
        .filter(F.col("count") >= 3)
    )
    return _both_ways(pairs, "a", "b")


#: recursive-CTE components over the shingle candidate graph — shared
#: verbatim by BOTH Spark strategies (min-label propagation and the
#: alternating-star algorithm), which is what proves them equivalent.
_CC_ORACLE = f"""
        WITH RECURSIVE {_SHINGLE_CTE_SQL},
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 3
        ),
        e AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(src, dst) AS (
            SELECT src, dst FROM e
            UNION
            SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
        )
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        FROM reach
        GROUP BY src
    """


@register(
    "dedup_connected_components",
    oracle=_CC_ORACLE,
    doc=(
        "X2 (cluster tier): connected components over the near-dup "
        "candidate graph (>=3 shared 3-grams) by min-label "
        "propagation — the union-find step that turns pairwise "
        "near-dup hits into dedup groups. One lazy plan: the candidate "
        "graph (not the corpus) is gathered into one adjacency row and "
        "the label steps fold over it with aggregate(), each a "
        "neighbor-min hop plus a pointer jump, converging in <= "
        "graph-diameter steps. The DuckDB oracle recomputes components "
        "with a recursive CTE."
    ),
    tags=("dedup", "llm", "graph"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return min_label_components(_shingle_pairs(Tables(spark, sf_dir)))


_SPAN_N = 8  # words per span


@register(
    "dedup_repeated_ngram_spans",
    oracle=f"""
        WITH {_DUP_CORPUS_SQL},
        w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM corpus
        ),
        spans AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(words) - {_SPAN_N} + 2),
                       i -> array_to_string(words[i : i + {_SPAN_N} - 1], ' '))) AS span
            FROM w WHERE len(words) >= {_SPAN_N}
        )
        SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
        FROM spans
        GROUP BY span
        HAVING COUNT(DISTINCT doc_id) >= 2
        ORDER BY n_docs DESC, n_occurrences DESC, span
        LIMIT 50
    """,
    doc=(
        "Substring-level duplication signal (the Lee-et-al exact-"
        f"substring idea, windowed): every {_SPAN_N}-word span of every "
        "document, grouped to find spans appearing in >= 2 distinct "
        "docs — training-set contamination and boilerplate detection. "
        "One explode (fan-out n_words per doc) + one shuffle on the "
        "span; top-50 via TakeOrderedAndProject. At 100 TB, group on "
        "xxhash64(span) instead of the text and keep a span->doc "
        "sample, not the full posting list; the plan shape is identical."
    ),
    tags=("dedup", "llm", "ngram"),
)
def dedup_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    corpus = duplicated_corpus(t)
    spans = corpus.select(
        "doc_id",
        F.explode(ngrams("text", _SPAN_N)).alias("span"),
    )
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "span")
        .limit(50)
    )


_DECON_N = 4  # words per decontamination n-gram


@register(
    "dedup_decontaminate_eval_overlap",
    oracle=f"""
        WITH sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - {_DECON_N - 2}, 1)),
                       i -> array_to_string(string_split(text, ' ')[i : i + {_DECON_N - 1}], ' '))) AS gram
            FROM documents
        ),
        ev AS (
            SELECT DISTINCT doc_id AS eval_doc, gram FROM sh WHERE doc_id % 20 = 7
        )
        SELECT s.doc_id,
               COUNT(DISTINCT s.gram) AS n_shared_grams,
               COUNT(DISTINCT e.eval_doc) AS n_eval_docs_hit
        FROM sh s JOIN ev e USING (gram)
        WHERE s.doc_id % 20 != 7
        GROUP BY s.doc_id
    """,
    doc=(
        "Benchmark decontamination (the PaLM/GPT-3 n-gram-overlap rule): "
        f"flag every training document sharing any word {_DECON_N}-gram "
        "with a held-out eval slice (doc_id % 20 == 7 stands in for the "
        "benchmark corpus), reporting overlap severity (distinct shared "
        "grams, distinct eval docs hit). The eval n-gram set is "
        "broadcast — real benchmark suites are ~10^6 grams regardless of "
        "training-corpus size — so the train side is a map-side hash "
        "probe with no shuffle; the only shuffle is the per-doc "
        "severity aggregate. At 100 TB: identical plan, with grams "
        "hashed (xxhash64) instead of carried as strings."
    ),
    tags=("dedup", "llm", "ngram", "decontamination"),
)
def dedup_decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # r12: spread() before the gram explode (single-row-group layout)
    grams = spread(t.documents.select("doc_id", "text")).select(
        "doc_id", F.explode(_shingles("text", _DECON_N)).alias("gram")
    )
    ev = (
        grams.filter(F.col("doc_id") % 20 == 7)
        .select(F.col("doc_id").alias("eval_doc"), "gram")
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % 20 != 7)
    return (
        train.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_doc").alias("n_eval_docs_hit"),
        )
    )


@register(
    "dedup_decontaminate_hashed",
    oracle=_decontaminate_hashed_oracle(),
    doc=(
        "The 100 TB form of dedup_decontaminate_eval_overlap: grams are "
        "carried as xxhash64 values instead of strings, shrinking the "
        "broadcast eval set and the shuffle payload by ~5x at identical "
        "plan shape. Verified two ways: pytest asserts the flagged doc "
        "set and per-doc gram counts are identical to the string-gram "
        "twin (zero collisions on this corpus — tested, not assumed), "
        "and (r4) an exact DuckDB oracle replays the HASHED pipeline "
        "itself, xxhash64 bit-for-bit in pure SQL."
    ),
    tags=("dedup", "llm", "ngram", "decontamination"),
)
def dedup_decontaminate_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # r12: spread() before the gram explode (single-row-group layout)
    grams = spread(t.documents.select("doc_id", "text")).select(
        "doc_id",
        F.explode(_shingles("text", _DECON_N)).alias("gram_s"),
    ).select("doc_id", F.xxhash64("gram_s").alias("gram"))
    ev = (
        grams.filter(F.col("doc_id") % 20 == 7)
        .select(F.col("doc_id").alias("eval_doc"), "gram")
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % 20 != 7)
    return (
        train.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_doc").alias("n_eval_docs_hit"),
        )
    )


@register(
    "dedup_incremental_new_batch",
    oracle="""
        WITH corpus_index AS (
            SELECT DISTINCT sha256(text) AS text_hash
            FROM documents WHERE doc_id % 10 != 3
        ),
        new_batch AS (
            SELECT doc_id, sha256(text) AS text_hash, lang, n_chars
            FROM documents WHERE doc_id % 10 = 3
        )
        SELECT b.doc_id, b.lang, b.n_chars,
               (i.text_hash IS NOT NULL) AS is_duplicate
        FROM new_batch b LEFT JOIN corpus_index i USING (text_hash)
    """,
    doc=(
        "Cross-run incremental dedup: an arriving batch (doc_id%10==3 "
        "stands in for today's crawl) checks against the standing "
        "corpus's HASH INDEX — 32 bytes per historical doc, never the "
        "text — via a left join on sha2(text,256), flagging duplicates "
        "while new content flows through. At 100 TB the index is "
        "bucketed by hash so the daily join is shuffle-free on the "
        "corpus side (write_bucketed); re-hashing only the new batch "
        "is what makes daily ingest O(batch), not O(corpus)."
    ),
    tags=("dedup", "llm", "incremental"),
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    d = t.documents
    index = (
        d.filter(F.col("doc_id") % 10 != 3)
        .select(F.sha2("text", 256).alias("text_hash"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") % 10 == 3).select(
        "doc_id", F.sha2("text", 256).alias("text_hash"), "lang", "n_chars"
    )
    return batch.join(index.withColumn("hit", F.lit(1)), ["text_hash"], "left").select(
        "doc_id", "lang", "n_chars", F.col("hit").isNotNull().alias("is_duplicate")
    )


@register(
    "dedup_rate_by_source",
    oracle=f"""
        WITH {_DUP_CORPUS_SQL}
        SELECT source,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT sha256(text)) AS n_unique,
               1.0 - CAST(COUNT(DISTINCT sha256(text)) AS DOUBLE) / COUNT(*)
                   AS dup_rate
        FROM corpus
        GROUP BY source
    """,
    doc=(
        "Per-source duplication-rate monitor over the duplicate-"
        "injected corpus: docs vs distinct content hashes per source, "
        "dup_rate as one division of exact integers. The health metric "
        "a crawl pipeline tracks per feed to catch a misbehaving "
        "source before it floods the corpus; one shuffle (count-"
        "distinct on the 256-bit hash), group-cardinality output."
    ),
    tags=("dedup", "llm", "monitoring"),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        duplicated_corpus(t)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.sha2("text", 256)).alias("n_unique"),
            (
                F.lit(1.0)
                - F.countDistinct(F.sha2("text", 256)).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_rate"),
        )
    )


_BLOCK_W = 20  # words per paragraph-block


@register(
    "dedup_paragraph_blocks_keep_first",
    oracle=f"""
        WITH {_DUP_CORPUS_SQL},
        w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
        b AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, CAST(ceil(len(words) / {_BLOCK_W}.0) AS BIGINT) + 1),
                       i -> struct_pack(
                           pos := i,
                           block := array_to_string(
                               words[(i-1)*{_BLOCK_W}+1 : i*{_BLOCK_W}], ' ')))) AS s
            FROM w
        ),
        b2 AS (SELECT doc_id, s.pos AS pos, s.block AS block FROM b),
        k AS (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY block ORDER BY doc_id, pos) AS rn
            FROM b2
        )
        SELECT doc_id,
               COUNT(*) AS n_blocks,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS retention
        FROM k GROUP BY doc_id
    """,
    doc=(
        "Paragraph-level (block-level) exact dedup, the C4/RefinedWeb "
        "sub-document rule: chunk every document into disjoint "
        f"{_BLOCK_W}-word blocks, keep only each block's first "
        "occurrence corpus-wide (ordered by doc_id, position), and "
        "report per-document retention — injected duplicate docs "
        "retain 0%% while their originals retain 100%%. One explode "
        "(~n_words/{_BLOCK_W} rows per doc) + one shuffle on the "
        "block (at 100 TB: on xxhash64(block), same plan) + one "
        "per-doc aggregate. Catches copied passages inside otherwise "
        "unique pages, which document-level dedup cannot see."
    ),
    tags=("dedup", "llm", "paragraph"),
)
def dedup_paragraph_blocks_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    corpus = duplicated_corpus(t)
    blocks = corpus.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, CAST(ceil(size(split(text, ' ')) / {_BLOCK_W}.0) AS INT)), "
                f"i -> concat_ws(' ', slice(split(text, ' '), (i-1)*{_BLOCK_W}+1, {_BLOCK_W})))"
            )
        ).alias("pos", "block"),
    )
    w = W.partitionBy("block").orderBy("doc_id", "pos")
    return (
        blocks.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            (
                F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("retention"),
        )
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
        WITH {_SHINGLE_CTE_SQL},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.doc_a, i.doc_b,
               CAST(i.n_inter AS BIGINT) AS n_inter,
               CAST(i.n_inter AS DOUBLE) / sa.n AS containment_a_in_b,
               CAST(i.n_inter AS DOUBLE) / sb.n AS containment_b_in_a
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_inter AS DOUBLE) / sa.n >= 0.35
           OR CAST(i.n_inter AS DOUBLE) / sb.n >= 0.35
    """,
    doc=(
        "ASYMMETRIC near-dup: shingle containment |A∩B|/|A| in both "
        "directions — catches what Jaccard structurally cannot: a "
        "short document quoted wholesale inside a long one scores "
        "near-1 containment but low Jaccard (the union is dominated "
        "by the long doc). The subset/quotation detector used "
        "alongside symmetric dedup in pretraining curation. Same "
        "inverted shingle index and candidate join as the Jaccard "
        "query (no all-pairs blowup); each direction is one exact "
        "integer division."
    ),
    tags=("dedup", "llm", "containment"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    docs = _pair_docs(t)
    sh = docs.select("doc_id", F.explode(_shingles()).alias("shingle")).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    scored = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            (F.col("n_inter").cast("double") / F.col("na")).alias("containment_a_in_b"),
            (F.col("n_inter").cast("double") / F.col("nb")).alias("containment_b_in_a"),
        )
    )
    return scored.filter(
        (F.col("containment_a_in_b") >= 0.35) | (F.col("containment_b_in_a") >= 0.35)
    )


@register(
    "dedup_semantic_keep_representative",
    oracle=f"""
        WITH RECURSIVE
        e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings WHERE vec_id < {_EMB_EXACT_BLOCK}
        ),
        p AS (
            SELECT a.vec_id AS va, b.vec_id AS vb
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
        ),
        sym AS (
            SELECT va AS src, vb AS dst FROM p
            UNION SELECT vb, va FROM p
        ),
        reach(src, dst) AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src
        ),
        comp0 AS (
            SELECT src AS vec_id, LEAST(src, MIN(dst)) AS component
            FROM reach GROUP BY src
        ),
        labeled AS (
            SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS component
            FROM e LEFT JOIN comp0 c ON e.vec_id = c.vec_id
        )
        SELECT vec_id, component,
               vec_id = MIN(vec_id) OVER (PARTITION BY component) AS keep,
               CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
                   AS cluster_size
        FROM labeled
    """,
    doc=(
        "X2 (semantic tier, end-to-end): embedding-cosine near-dup "
        "pairs -> min-label connected components -> ONE representative "
        "kept per semantic cluster (lowest vec_id; singletons keep "
        "themselves) — the full SemDeDup-style pipeline as a single "
        "query. Pair generation is exact on a bounded block here "
        "(hash-verified); at 100 TB candidates come from LSH/IVF "
        "buckets and the same propagation + keep-window run unchanged. "
        "The cosine pairs are embedding_exact_pairs' and the components "
        "are min_label_components' fold, so the query is one lazy plan; "
        "the keep flag and cluster size come from one window over the "
        "component key. The DuckDB oracle replays clustering with a "
        "recursive CTE."
    ),
    tags=("dedup", "llm", "embedding", "graph"),
)
def dedup_semantic_keep_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    sym = _both_ways(embedding_exact_pairs(t), "vec_a", "vec_b")
    comps = min_label_components(sym).withColumnRenamed("doc_id", "vec_id")
    ids = t.embeddings.filter(F.col("vec_id") < _EMB_EXACT_BLOCK).select("vec_id")
    labeled = ids.join(comps, "vec_id", "left").select(
        "vec_id", F.coalesce("component", "vec_id").alias("component")
    )
    w = W.partitionBy("component")
    return labeled.select(
        "vec_id",
        "component",
        (F.col("vec_id") == F.min("vec_id").over(w)).alias("keep"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    )


def _symmetrize(directed: DataFrame) -> DataFrame:
    return _both_ways(directed, "a", "b").filter(F.col("src") != F.col("dst")).distinct()


def star_components(edges: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the algorithm that holds at trillion-edge scale, where min-label
    propagation gathers the graph into one row and needs diameter
    steps: star rounds contract the graph toward per-component stars in
    O(log n) rounds, every round two keyed groupBy/joins (no global
    structure, no diameter dependence).

    ``edges``: symmetric (src, dst). Returns (doc_id, component) for
    every node that has at least one edge; component = min node id —
    identical output contract to :func:`min_label_components`."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("src").alias("doc_id")).distinct().localCheckpoint(eager=True)
    for _ in range(25):  # O(log n) contraction; 25 covers any test graph
        # large-star: every neighbor larger than u links to u's min
        nb = e.groupBy("src").agg(F.min("dst").alias("mn"))
        nb = nb.select("src", F.least("src", "mn").alias("m"))
        ls = (
            e.join(nb, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("a"), F.col("m").alias("b"))
        )
        g = _symmetrize(ls)
        # small-star: smaller neighbors (and u itself) link to their min
        smaller = g.filter(F.col("dst") < F.col("src"))
        sm = smaller.groupBy("src").agg(F.min("dst").alias("m"))
        ss = (
            smaller.join(sm, "src")
            .select(F.col("dst").alias("a"), F.col("m").alias("b"))
            .union(sm.select(F.col("src").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        e_new = _symmetrize(ss.select("a", "b")).localCheckpoint(eager=True)
        if e_new.count() == e.count() and e_new.subtract(e).count() == 0:
            e = e_new
            break
        e = e_new
    parent = (
        e.filter(F.col("dst") < F.col("src"))
        .groupBy("src")
        .agg(F.min("dst").alias("p"))
        .withColumnRenamed("src", "doc_id")
    )
    return nodes.join(parent, "doc_id", "left").select(
        "doc_id",
        F.least(F.col("doc_id"), F.coalesce("p", "doc_id")).alias("component"),
    )


@register(
    "dedup_connected_components_star",
    oracle=_CC_ORACLE,
    doc=(
        "X2 (cluster tier, second physical strategy): the SAME "
        "component labeling as dedup_connected_components, computed by "
        "the alternating large-star / small-star contraction instead "
        "of min-label propagation. Propagation folds graph-DIAMETER "
        "steps over the whole graph gathered into one row — fine for "
        "near-dup candidate graphs, fatal for trillion-edge graphs at "
        "100 TB; star alternation is distributed and contracts in "
        "O(log n) rounds of two keyed aggregations each. Both "
        "strategies run against the identical recursive-CTE oracle, "
        "which is what proves them value-equivalent (the "
        "merge_asof-twin pattern applied to graphs)."
    ),
    tags=("dedup", "llm", "graph", "iterative"),
)
def dedup_connected_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star_components(_shingle_pairs(Tables(spark, sf_dir)))


_WIN_K = 4  # words per k-gram
_WIN_W = 4  # grams per winnowing window


@register(
    "dedup_winnowing_fingerprints",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS words
            FROM documents
            WHERE doc_id < 50 AND len(string_split(text, ' ')) >= 10
        ),
        grams AS (
            SELECT doc_id,
                   list_transform(range(1, len(words) - {_WIN_K} + 2),
                       i -> CAST(('0x' || substr(md5(
                                array_to_string(words[i:i+{_WIN_K - 1}], ' ')),
                                1, 14)) AS BIGINT)) AS h
            FROM base
        ),
        fps AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(h) - {_WIN_W} + 2),
                       j -> list_min(h[j:j+{_WIN_W - 1}]))) AS fp_set
            FROM grams
            WHERE len(h) >= {_WIN_W}
        )
        SELECT doc_id, unnest(fp_set) AS fingerprint
        FROM fps
    """,
    doc=(
        "Winnowing document fingerprints (Schleimer/Wilkerson/Aiken — "
        "the MOSS plagiarism-detection selection rule): hash every "
        f"{_WIN_K}-word gram, slide a {_WIN_W}-gram window, keep each "
        "window's MINIMUM hash. Winnowing guarantees any shared "
        "substring of >= k+w-1 words yields at least one shared "
        "fingerprint, while selecting only ~2/(w+1) of all grams — the "
        "storage/recall trade LSH can't make for substring overlap. "
        "Entirely ROW-LOCAL higher-order array ops (zero shuffle for "
        "fingerprinting; the downstream dedup is a hash-groupBy on "
        "fingerprint). Short docs are excluded on an integer word-"
        "count guard shared by both engines."
    ),
    tags=("dedup", "llm", "text"),
)
def dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    base = t.documents.filter(
        (F.col("doc_id") < 50) & (F.expr("size(split(text, ' '))") >= 10)
    ).select("doc_id", F.split("text", " ").alias("words"))
    grams = base.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(words) - {_WIN_K} + 1), "
            "i -> CAST(conv(substr(md5("
            f"array_join(slice(words, i, {_WIN_K}), ' ')), 1, 14), 16, 10) AS BIGINT))"
        ).alias("h"),
    )
    fps = grams.filter(F.expr(f"size(h) >= {_WIN_W}")).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(h) - {_WIN_W} + 1), "
                f"j -> array_min(slice(h, j, {_WIN_W})))"
            )
        ).alias("fp_set"),
    )
    return fps.select("doc_id", F.explode("fp_set").alias("fingerprint"))


#: shared Spark/DuckDB canonicalization chain. The synthetic URLs are
#: generated with lowercase paths, so whole-string lower() is exact here;
#: real crawls lowercase scheme+host only. No regex backreferences — the
#: replacement-group syntax differs between engines ($1 vs \1), so every
#: rule is either a plain replace or a backref-free regex.
_URL_RAW = (  # {s}: STRING on Spark, VARCHAR on DuckDB (cast-type syntax)
    "'HTTPS://WWW.Example' || CAST(doc_id % 40 AS {s})"
    " || '.COM:443/Path/' || CAST(doc_id % 7 AS {s})"
    " || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END"
    " || CASE WHEN doc_id % 2 = 0"
    "         THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS {s})"
    "         ELSE '?id=' || CAST(doc_id % 5 AS {s}) END"
    " || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END"
)
_URL_CANON_STEPS = (
    "TRIM(TRAILING '/' FROM "           # 5. trailing slash on bare paths
    "replace("                           # 4. slash before query string
    "regexp_replace("                    # 3b. utm param in tail position
    "regexp_replace("                    # 3a. utm param followed by more
    "replace(replace("                   # 2. default port, www
    "split_part(lower({url}), '#', 1)"   # 1. lowercase + strip fragment
    ", ':443/', '/'), 'www.', '')"
    ", 'utm_[a-z]+=[a-z0-9]*&', '')"
    ", '[?&]utm_[a-z]+=[a-z0-9]*$', '')"
    ", '/?', '?')"
    ")"
)


@register(
    "dedup_url_canonical_keep_first",
    oracle=f"""
        WITH urls AS (
            SELECT doc_id, {_URL_RAW.format(s="VARCHAR")} AS url FROM documents
        ),
        canon AS (
            SELECT doc_id, url,
                   {_URL_CANON_STEPS.format(url="url")} AS canonical_url
            FROM urls
        )
        SELECT canonical_url,
               CAST(MIN(doc_id) AS BIGINT) AS kept_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_variants
        FROM canon
        GROUP BY canonical_url
    """,
    doc=(
        "URL-canonicalization dedup — the crawl-pipeline step before "
        "any content dedup: the same page arrives under scheme/case "
        "variants, www prefixes, default ports, trailing slashes, "
        "fragments, and utm_* tracking params. Canonicalize with a "
        "shared chain of plain replaces + backref-free regexes (lower, "
        "strip #fragment, drop :443 and www., delete utm params, trim "
        "trailing slash), then keep-first per canonical key as a "
        "hash-groupBy MIN — one shuffle at canonical-key grain, no "
        "window, no pair joins. URLs are synthesized deterministically "
        "from doc_id (the documents table carries no URL column), with "
        "variant classes chosen so every rule actually fires; the "
        "aggregate collapses ~%d raw URLs onto their canonical keys."
    ),
    tags=("dedup", "llm", "url"),
)
def dedup_url_canonical_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    urls = t.documents.select(
        "doc_id", F.expr(_URL_RAW.format(s="STRING")).alias("url")
    )
    canon = urls.select(
        "doc_id", F.expr(_URL_CANON_STEPS.format(url="url")).alias("canonical_url")
    )
    return canon.groupBy("canonical_url").agg(
        F.min("doc_id").cast("bigint").alias("kept_doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_variants"),
    )


# --- X2h: AllPairs / PPJoin prefix-filtered similarity join (r5) ------------

_ALLPAIRS_TAU = 0.5  # Jaccard threshold (dyadic literal, identical text)


def prefix_jaccard_candidates(docs: DataFrame):
    """The AllPairs/PPJoin candidate stage alone: (cand, tok, sizes)
    where ``cand`` is the prefix-postings join with the PPJoin length
    bound applied, pre-verification. Exposed (r10) so the scale
    sweep's dedup probe can record candidate counts at 10x/30x without
    duplicating the prefix logic; the registered query verifies these
    exact candidates."""
    from pyspark.sql.window import Window as W

    tok = docs.select("doc_id", F.explode(_shingles()).alias("token")).distinct()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # prefix = first (n - ceil(tau*n) + 1) shingles in global (df, token)
    # order; the rank window is PER DOC (bounded by shingles/doc)
    ranked = (
        tok.join(df, "token")
        .join(F.broadcast(sizes), "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(W.partitionBy("doc_id").orderBy("df", "token")),
        )
        .filter(
            F.col("rk")
            <= F.col("n") - F.ceil(F.lit(_ALLPAIRS_TAU) * F.col("n")) + 1
        )
        .select("doc_id", "token", "n")
    )
    # candidate join on prefix postings + the PPJoin length bound
    # (tau*na <= nb <= na/tau follows from J >= tau) applied in-join
    cand = (
        ranked.select(F.col("doc_id").alias("doc_a"), "token", F.col("n").alias("na"))
        .join(
            ranked.select(F.col("doc_id").alias("doc_b"), "token", F.col("n").alias("nb")),
            "token",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("nb") >= F.ceil(F.lit(_ALLPAIRS_TAU) * F.col("na")))
            & (F.col("na") >= F.ceil(F.lit(_ALLPAIRS_TAU) * F.col("nb")))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cand, tok, sizes


@register(
    "dedup_allpairs_prefix_jaccard",
    oracle=f"""
        WITH {_SHINGLE_CTE_SQL},
        tok AS MATERIALIZED (SELECT doc_id, shingle AS token FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM tok a JOIN tok b USING (token)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {_ALLPAIRS_TAU}
        ORDER BY doc_a, doc_b
    """,
    doc=(
        "X2h: exact similarity join at shingle-Jaccard >= 0.5 via "
        "PREFIX FILTERING (Bayardo/Chaudhuri AllPairs / PPJoin): each "
        "doc's distinct 3-gram shingle set is ordered by (document "
        "frequency ASC, shingle ASC) and only its first "
        "n - ceil(tau*n) + 1 shingles are indexed — a pair passing tau "
        "MUST share a prefix shingle (if the prefixes were disjoint, "
        "the intersection would fit inside one suffix of size "
        "ceil(tau*n) - 1 < tau*n <= tau*|union|, a contradiction), so "
        "the candidate join on the short rare-shingle postings is "
        "COMPLETE, not approximate. PPJoin's length bound prunes "
        "further before verification: J >= tau forces "
        "tau*|a| <= |b| <= |a|/tau, an inequality filter on the "
        "candidate row. Survivors are verified with the exact "
        "intersection count. The oracle is the brute-force all-shingle "
        "inverted-index join, so the hash match PROVES the filter "
        "chain lost nothing. Scale shape: the only window is the "
        "per-doc prefix rank (doc-grain, bounded by shingles/doc); "
        "df-ascending prefixes index the RAREST shingles, collapsing "
        "the candidate space — the deterministic exact-threshold "
        "complement of MinHash-LSH (same corpus tier, no probability "
        "of a missed pair)."
    ),
    tags=("dedup", "llm", "join", "topk"),
)
def dedup_allpairs_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    docs = _pair_docs(t)
    cand, tok, sizes = prefix_jaccard_candidates(docs)
    # exact verify on candidates only: intersection via the full shingle
    # lists of the two sides
    inter = (
        cand.join(tok.select(F.col("doc_id").alias("doc_a"), "token"), "doc_a")
        .join(tok.select(F.col("doc_id").alias("doc_b"), "token"), ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _ALLPAIRS_TAU)
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_cluster_size_spectrum",
    oracle=f"""
        WITH {_DUP_CORPUS_SQL},
        clusters AS (
            SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS k
            FROM corpus GROUP BY md5(text)
        )
        SELECT k AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(COUNT(*) * k AS BIGINT) AS n_docs,
               CAST(COUNT(*) * (k - 1) AS BIGINT) AS n_removable
        FROM clusters
        GROUP BY k
        ORDER BY k
    """,
    doc=(
        "X1 extension: duplicate-cluster size spectrum — how many "
        "exact-duplicate clusters exist at each size k, with the doc "
        "mass and the removable-copy count per size: the dedup "
        "PLANNING report (is duplication a long tail of pairs or a "
        "few mega-clusters? the answer decides keep-first vs "
        "down-weighting, and sizes the shuffle the dedup itself will "
        "pay). Two cascading hash aggregates over the dup-injected "
        "corpus (text-hash clusters, then sizes of sizes — the "
        "Good-Turing shape on clusters instead of tokens); all "
        "counts exact BIGINT."
    ),
    tags=("dedup", "llm", "agg"),
)
def dedup_cluster_size_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    clusters = (
        duplicated_corpus(t)
        .groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    return (
        clusters.groupBy(F.col("k").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size"))
            .cast("bigint")
            .alias("n_docs"),
            (F.col("n_clusters") * (F.col("cluster_size") - 1))
            .cast("bigint")
            .alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


def _minhash_sig_ctes() -> str:
    """Shared oracle prefix: shingles -> distinct-shingle XXH64 under
    all 32 seeds -> per-(doc, tag) MIN signature CTE ``sig`` (plus
    ``shm``/``sizes`` for exact-Jaccard verification). Extracted from
    ``_minhash_lsh_oracle`` so the estimate audit and the band-count
    curve replay the IDENTICAL hash family."""
    from ..functions.xxh64 import hash_str
    from ..functions.xxh64_sql import rec_hash_ctes

    seeds = ", ".join(
        f"({i}, {hash_str(f's{i}') % (1 << 64)}::HUGEINT)" for i in range(_MINHASH_K)
    )
    return f"""{_SHINGLE_CTE_SQL},
        shm AS MATERIALIZED (SELECT doc_id, shingle FROM sh),
        uq AS (SELECT DISTINCT shingle FROM shm),
        mh_src AS (
            SELECT shingle AS k, sd.tag, sd.seed, shingle AS s
            FROM uq CROSS JOIN (VALUES {seeds}) sd(tag, seed)
        ),
        {rec_hash_ctes('mh')},
        sig AS MATERIALIZED (
            SELECT m.doc_id, o.tag, MIN(o.hsig) AS mh
            FROM shm m JOIN mh_out o ON o.k = m.shingle
            GROUP BY m.doc_id, o.tag
        ),
        sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM shm GROUP BY doc_id)"""


def _band_cand_ctes(n_bands: int, rows: int, pfx: str) -> str:
    """Candidate-pair CTEs for an (n_bands x rows) banding over ``sig``:
    emits ``{pfx}cand(doc_a, doc_b)``."""
    from ..functions.xxh64_sql import hash_long_chain_subquery

    mins = ",\n                   ".join(
        f"MIN(CASE WHEN r = {r} THEN mh END) AS m{r}" for r in range(rows)
    )
    bucket_sub = hash_long_chain_subquery(
        f"{pfx}bandv", ["doc_id", "band"], [f"m{r}" for r in range(rows)], out="bucket"
    )
    return f"""{pfx}sigb AS (
            SELECT doc_id, tag // {rows} AS band, tag % {rows} AS r, mh FROM sig
        ),
        {pfx}bandv AS (
            SELECT doc_id, band,
                   {mins}
            FROM {pfx}sigb GROUP BY doc_id, band
        ),
        {pfx}bk AS MATERIALIZED (SELECT doc_id, band, bucket FROM {bucket_sub}),
        {pfx}cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM {pfx}bk a JOIN {pfx}bk b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )"""


def _minhash_estimate_audit_oracle() -> str:
    return f"""
        WITH RECURSIVE {_minhash_sig_ctes()},
        {_band_cand_ctes(_LSH_BANDS, _LSH_ROWS, "q")},
        est AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
                       AS matches
            FROM qcand c
            JOIN sig a ON a.doc_id = c.doc_a
            JOIN sig b ON b.doc_id = c.doc_b AND b.tag = a.tag
            GROUP BY c.doc_a, c.doc_b
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
            FROM qcand c
            JOIN shm a ON a.doc_id = c.doc_a
            JOIN shm b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            GROUP BY c.doc_a, c.doc_b
        ),
        err AS (
            SELECT CAST(floor(abs(
                       CAST(e.matches AS DOUBLE) / {_MINHASH_K}.0
                       - CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                         / (sa.n + sb.n - COALESCE(i.n_inter, 0))) * 20.0)
                   AS INT) AS err_bucket
            FROM est e
            LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
            JOIN sizes sa ON sa.doc_id = e.doc_a
            JOIN sizes sb ON sb.doc_id = e.doc_b
        )
        SELECT err_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM err GROUP BY err_bucket ORDER BY err_bucket
    """


@register(
    "dedup_minhash_estimate_audit",
    oracle=_minhash_estimate_audit_oracle(),
    doc=(
        "X2k: MinHash ESTIMATOR quality audit — for every LSH candidate "
        "pair, compare the signature-based Jaccard estimate "
        "(matching positions / 32, an exact rational) against the true "
        "shingle Jaccard, and report the |error| histogram in 0.05 "
        "buckets: the calibration report that justifies trusting "
        "signatures instead of re-reading documents at 100 TB. Both "
        "quantities are deterministic doubles (the estimate is m/32, "
        "the truth i/u), so the bucket boundary floor is engine-exact "
        "— no verdict booleans needed, the histogram itself is "
        "hash-exact. Candidates come from the same banded equi-join "
        "as dedup_minhash_lsh; the only new work is one 32-row-per-"
        "pair signature join over candidates only."
    ),
    tags=("dedup", "llm", "lsh", "eval"),
)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    docs = _pair_docs(t)
    # r11 (guide §2.4): the signature table feeds FOUR consumers (both
    # sides of the band self-join, siga, sigb) and costs 32 xxhash64
    # passes over every shingle per computation — the before plan showed
    # ~10 document scans with zero exchange reuse. One doc-grain
    # checkpoint (|docs| x 33 longs) computes the hash family once.
    sig = materialize(
        minhash_signature(docs).select(
            "doc_id", *[f"mh_{s}" for s in range(_MINHASH_K)]
        )
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"mh_{b * _LSH_ROWS + r}") for r in range(_LSH_ROWS)]
                        ).alias("bucket"),
                    )
                    for b in range(_LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    candidates = (
        bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        .join(bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    matches_expr = " + ".join(
        f"CASE WHEN a_mh_{s} = b_mh_{s} THEN 1 ELSE 0 END" for s in range(_MINHASH_K)
    )
    siga = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{s}").alias(f"a_mh_{s}") for s in range(_MINHASH_K)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{s}").alias(f"b_mh_{s}") for s in range(_MINHASH_K)],
    )
    est = (
        candidates.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select("doc_a", "doc_b", F.expr(f"CAST({matches_expr} AS BIGINT)").alias("matches"))
    )
    sh = docs.select("doc_id", F.explode(_shingles()).alias("shingle")).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        candidates.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("shingle_b")),
            "doc_b",
        )
        .filter(F.col("shingle") == F.col("shingle_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    err = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            F.expr(
                f"CAST(floor(abs(CAST(matches AS DOUBLE) / {_MINHASH_K}.0"
                " - CAST(COALESCE(n_inter, 0) AS DOUBLE)"
                " / (na + nb - COALESCE(n_inter, 0))) * 20.0) AS INT)"
            ).alias("err_bucket")
        )
    )
    return (
        err.groupBy("err_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("err_bucket")
    )


_BAND_CURVE = [(4, 8), (8, 4), (16, 2)]  # (n_bands, rows_per_band), b*r = 32


def _lsh_band_curve_oracle() -> str:
    bandings = ",\n        ".join(
        _band_cand_ctes(b, r, f"c{b}_") for b, r in _BAND_CURVE
    )
    unions = "\nUNION ALL\n".join(
        f"""SELECT {b} AS n_bands, {r} AS rows_per_band,
                   doc_a, doc_b FROM c{b}_cand"""
        for b, r in _BAND_CURVE
    )
    return f"""
        WITH RECURSIVE {_minhash_sig_ctes()},
        {bandings},
        allc AS ({unions}),
        upairs AS (SELECT DISTINCT doc_a, doc_b FROM allc),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
            FROM upairs c
            JOIN shm a ON a.doc_id = c.doc_a
            JOIN shm b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            GROUP BY c.doc_a, c.doc_b
        ),
        jac AS (
            SELECT u.doc_a, u.doc_b,
                   CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                       / (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS j
            FROM upairs u
            LEFT JOIN inter i ON i.doc_a = u.doc_a AND i.doc_b = u.doc_b
            JOIN sizes sa ON sa.doc_id = u.doc_a
            JOIN sizes sb ON sb.doc_id = u.doc_b
        )
        SELECT a.n_bands, a.rows_per_band,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN j.j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_true_dups,
               CAST(SUM(CASE WHEN j.j >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS precision_at_05
        FROM allc a JOIN jac j ON j.doc_a = a.doc_a AND j.doc_b = a.doc_b
        GROUP BY a.n_bands, a.rows_per_band
        ORDER BY a.n_bands
    """


@register(
    "dedup_lsh_band_candidate_curve",
    oracle=_lsh_band_curve_oracle(),
    doc=(
        "X2i: LSH banding sensitivity curve — the SAME 32 minhashes "
        "re-banded as 4x8, 8x4, and 16x2, reporting candidate-pair "
        "count, true near-dups among them (exact Jaccard >= 0.5), and "
        "precision per banding: the s-curve tuning report that picks "
        "the banding BEFORE committing a 100 TB dedup run (more bands "
        "= higher recall, quadratically more candidates to verify). "
        "Signatures are computed once; each banding is one extra "
        "bucket equi-join over them, and exact verification touches "
        "only the UNION of candidate sets. Oracle replays all three "
        "bandings through the shared XXH64 signature CTEs."
    ),
    tags=("dedup", "llm", "lsh", "eval"),
)
def dedup_lsh_band_candidate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    docs = _pair_docs(t)
    # r11 (guide §2.4): SIX consumers (both sides of three band joins)
    # descend from the signature table; checkpoint computes the 32-pass
    # hash family once
    sig = materialize(
        minhash_signature(docs).select(
            "doc_id", *[f"mh_{s}" for s in range(_MINHASH_K)]
        )
    )
    curves = []
    for n_bands, rows in _BAND_CURVE:
        bands = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
                            ).alias("bucket"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket")
        cand = (
            bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
            .join(
                bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket"),
                ["band", "bucket"],
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .select(
                F.lit(n_bands).alias("n_bands"),
                F.lit(rows).alias("rows_per_band"),
                "doc_a",
                "doc_b",
            )
        )
        curves.append(cand)
    allc = curves[0].unionAll(curves[1]).unionAll(curves[2])
    upairs = allc.select("doc_a", "doc_b").distinct()
    sh = docs.select("doc_id", F.explode(_shingles()).alias("shingle")).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        upairs.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("shingle_b")),
            "doc_b",
        )
        .filter(F.col("shingle") == F.col("shingle_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = (
        upairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(COALESCE(n_inter, 0) AS DOUBLE)"
                " / (na + nb - COALESCE(n_inter, 0))"
            ).alias("j"),
        )
    )
    return (
        allc.join(jac, ["doc_a", "doc_b"])
        .groupBy("n_bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("j") >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_true_dups"),
            (
                F.sum(F.when(F.col("j") >= 0.5, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("precision_at_05"),
        )
        .orderBy("n_bands")
    )


# --- X2r: exact-substring duplicate spans (Lee et al. 2022) -----------------

_ESS_K = 5  # words per gram (the rolling-hash unit)
_ESS_MIN_GRAMS = 5  # islands shorter than this are noise, not duplication
#: minimum shared span, in words, that the report surfaces
_ESS_MIN_WORDS = _ESS_MIN_GRAMS + _ESS_K - 1


def exact_substring_spans(
    docs: DataFrame, k: int = _ESS_K, min_grams: int = _ESS_MIN_GRAMS
) -> DataFrame:
    """Maximal exact shared word spans between document pairs.

    The Lee-et-al "Deduplicating Training Data Makes Language Models
    Better" (2022) exact-substring finder, re-expressed as relational
    algebra instead of a suffix array: every k-word gram of every doc
    (position-tagged) -> inverted-index equi-join on the gram -> merge
    runs of adjacent matches into maximal shared spans via
    gaps-and-islands on the (p2 - p1) diagonal. A span of g consecutive
    matching grams is an exact shared substring of g + k - 1 words.

    ``docs`` needs (doc_id, text). Returns one row per maximal span of
    >= min_grams grams: (d1, d2, start1, start2, span_words, n_grams).
    """
    w = docs.select("doc_id", F.split("text", " ").alias("words"))
    g = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(words) - {k - 1}, 0)), "
                f"i -> struct(CAST(i AS BIGINT) AS p, "
                f"concat_ws(' ', slice(words, i, {k})) AS gram))"
            )
        ).alias("pg"),
    ).select("doc_id", "pg.p", "pg.gram")
    m = (
        g.alias("a")
        .join(g.alias("b"), "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.p").alias("p1"),
            F.col("b.p").alias("p2"),
        )
    )
    diag = (F.col("p2") - F.col("p1")).alias("diag")
    isl = m.select("d1", "d2", "p1", "p2", diag).withColumn(
        "isl",
        F.col("p1")
        - F.row_number().over(
            W.partitionBy("d1", "d2", "diag").orderBy("p1")
        ),
    )
    return (
        isl.groupBy("d1", "d2", "diag", "isl")
        .agg(
            F.min("p1").alias("start1"),
            F.min("p2").alias("start2"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        )
        .filter(F.col("n_grams") >= min_grams)
        .select(
            "d1",
            "d2",
            "start1",
            "start2",
            (F.col("n_grams") + k - 1).cast("bigint").alias("span_words"),
            "n_grams",
        )
    )


@register(
    "dedup_exact_substring_spans",
    oracle=f"""
        WITH {_DUP_CORPUS_SQL},
        w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM corpus
        ),
        pos AS (
            SELECT doc_id, words,
                   unnest(range(1, len(words) - {_ESS_K} + 2)) AS p
            FROM w WHERE len(words) >= {_ESS_K}
        ),
        g AS (
            SELECT doc_id, CAST(p AS BIGINT) AS p,
                   array_to_string(words[p : p + {_ESS_K} - 1], ' ') AS gram
            FROM pos
        ),
        m AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, a.p AS p1, b.p AS p2
            FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        ),
        isl AS (
            SELECT d1, d2, p1, p2, p2 - p1 AS diag,
                   p1 - ROW_NUMBER() OVER (
                       PARTITION BY d1, d2, p2 - p1 ORDER BY p1) AS isl
            FROM m
        ),
        sp AS (
            SELECT d1, d2, MIN(p1) AS start1, MIN(p2) AS start2,
                   CAST(COUNT(*) AS BIGINT) AS n_grams
            FROM isl GROUP BY d1, d2, diag, isl
            HAVING COUNT(*) >= {_ESS_MIN_GRAMS}
        )
        SELECT sp.d1, sp.d2, sp.start1, sp.start2,
               CAST(sp.n_grams + {_ESS_K} - 1 AS BIGINT) AS span_words,
               sp.n_grams,
               array_to_string(
                   w.words[sp.start1 : sp.start1 + sp.n_grams + {_ESS_K} - 2],
                   ' ') AS span_text
        FROM sp JOIN w ON w.doc_id = sp.d1
        ORDER BY span_words DESC, d1, d2, start1, start2
        LIMIT 100
    """,
    doc=(
        "X2r: exact-substring duplicate spans — the Lee et al. 2022 "
        "(arXiv:2107.06499) 50-token exact-substring family used to "
        "clean C4/GPT-training corpora, the one LLM-dedup family the "
        "engine lacked (r10 verdict missing#4). Suffix-array semantics "
        f"re-expressed Spark-first: {_ESS_K}-word position-tagged grams "
        "-> inverted-index equi-join on the gram (never all-pairs; the "
        "corpus' hottest gram appears 4x, so the join is ~|grams| "
        "rows) -> gaps-and-islands on the (p2 - p1) diagonal merges "
        "adjacent matches into MAXIMAL shared spans "
        f"(>= {_ESS_MIN_GRAMS} grams = >= {_ESS_MIN_WORDS} words), "
        "exactly the maximal repeated substrings a suffix array would "
        "report at this gram resolution. Integer positions end to end; "
        "span text recovered by one slice join back to the words "
        "array. At 100 TB: join on xxhash64(gram) instead of the gram "
        "text (identical plan, cheaper shuffle key) and cap hot grams "
        "(boilerplate) by frequency — the per-pair window is keyed by "
        "(d1, d2, diagonal), never global. The pytest pin plants a "
        "known shared substring and recovers its exact span."
    ),
    tags=("dedup", "llm", "ngram"),
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    corpus = duplicated_corpus(t)
    spans = exact_substring_spans(corpus)
    words = corpus.select("doc_id", F.split("text", " ").alias("words"))
    return (
        spans.join(words.withColumnRenamed("doc_id", "d1"), "d1")
        .select(
            "d1",
            "d2",
            "start1",
            "start2",
            "span_words",
            "n_grams",
            F.expr(
                "concat_ws(' ', slice(words, CAST(start1 AS INT), "
                "CAST(n_grams AS INT) + "
                f"{_ESS_K - 1}))"
            ).alias("span_text"),
        )
        .orderBy(F.desc("span_words"), "d1", "d2", "start1", "start2")
        .limit(100)
    )


# --- X2s: robots.txt URL-pattern filter battery (r11, verdict #7) -----------

#: synthesized request path + query (documents carries no URL column;
#: same convention as _URL_RAW): every rule below fires on some residue
#: class of doc_id, so the battery is fully exercised at any SF.
_ROBOTS_PATH = (
    "'/path/' || CAST(doc_id % 7 AS {s})"
    " || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END"
    " || CASE WHEN doc_id % 2 = 0"
    "         THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS {s})"
    "         ELSE '?id=' || CAST(doc_id % 5 AS {s}) END"
)

#: (rule_id, verdict, pattern) — the robots.txt wildcard dialect:
#: anchored at the path start, '*' matches any run, a trailing '$'
#: anchors the end, everything else is literal (RE2-safe subset).
_ROBOTS_RULES = (
    (1, "disallow", "/path/0"),
    (2, "allow", "/path/0/"),
    (3, "disallow", "/*?utm_"),
    (4, "disallow", "/path/3?id=4$"),
    (5, "allow", "/path/*?id="),
)


def _robots_regex(pattern: str) -> tuple[str, int]:
    """Translate a robots.txt path pattern to an anchored RE2/Java-safe
    regex (identical semantics in Spark and DuckDB), plus the pattern's
    specificity = its character length excluding a trailing '$' (the
    Google longest-match tiebreak)."""
    anchor_end = pattern.endswith("$")
    body = pattern[:-1] if anchor_end else pattern
    esc = body.replace(".", r"\.").replace("?", r"\?").replace("*", ".*")
    return "^" + esc + ("$" if anchor_end else ""), len(body)


@register(
    "dedup_robots_url_filter",
    oracle=f"""
        WITH urls AS (
            SELECT doc_id, {_ROBOTS_PATH.format(s="VARCHAR")} AS path
            FROM documents
        ),
        rules(rule_id, verdict, pattern, regex, pat_len) AS (VALUES
            {", ".join(
                "(%d, '%s', '%s', '%s', %d)" % (
                    rid, verdict, pat, _robots_regex(pat)[0],
                    _robots_regex(pat)[1])
                for rid, verdict, pat in _ROBOTS_RULES)}
        ),
        matched AS (
            SELECT u.doc_id, r.rule_id, r.verdict, r.pattern, r.pat_len
            FROM urls u JOIN rules r ON regexp_matches(u.path, r.regex)
        ),
        best AS (
            SELECT doc_id, rule_id, verdict, pattern
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY doc_id
                    ORDER BY pat_len DESC,
                             CASE WHEN verdict = 'allow' THEN 0 ELSE 1 END,
                             rule_id) AS rk
                FROM matched
            ) WHERE rk = 1
        ),
        verdicts AS (
            SELECT u.doc_id,
                   COALESCE(b.rule_id, -1) AS rule_id,
                   COALESCE(b.verdict, 'allow') AS verdict,
                   COALESCE(b.pattern, 'DEFAULT') AS pattern
            FROM urls u LEFT JOIN best b ON b.doc_id = u.doc_id
        )
        SELECT CAST(rule_id AS BIGINT) AS rule_id, pattern, verdict,
               CAST(COUNT(*) AS BIGINT) AS n_urls,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
        FROM verdicts
        GROUP BY rule_id, pattern, verdict
        ORDER BY rule_id
    """,
    doc=(
        "X2s: robots.txt URL-pattern corpus filter — the crawl-side "
        "sibling of the Gopher quality rules (r10 verdict #7): decide "
        "allow/disallow per URL under the robots.txt wildcard dialect "
        "with GOOGLE's resolution semantics — every rule whose pattern "
        "matches competes, the most specific (longest) pattern wins, "
        "and allow beats disallow on equal length. Patterns ('*' run "
        "wildcard, trailing '$' end anchor, else literal) translate "
        "once, in the driver, to an anchored RE2/Java-safe regex "
        "subset evaluated IDENTICALLY by Spark's regexp_like and "
        "DuckDB's regexp_matches — no UDF, no engine-dialect drift. "
        "The 5-row rule table broadcasts (bounded parameter table, "
        "whitelisted); resolution is one keyed window over matches "
        "(longest-match rank per URL), never a global sort; unmatched "
        "URLs default-allow via LEFT JOIN. Output: per-rule match "
        "census with the winning-rule attribution. At 100 TB the same "
        "plan holds: |rules| is crawl-config-bounded (robots files "
        "are small), so the match stage stays a broadcast map-side "
        "scan and the only shuffle is the final rule-grain census."
    ),
    tags=("dedup", "llm", "url", "filter"),
)
def dedup_robots_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    urls = t.documents.select(
        "doc_id", F.expr(_ROBOTS_PATH.format(s="STRING")).alias("path")
    )
    rules = spark.createDataFrame(
        [
            (rid, verdict, pat, *_robots_regex(pat))
            for rid, verdict, pat in _ROBOTS_RULES
        ],
        "rule_id long, verdict string, pattern string, regex string, pat_len long",
    )
    matched = urls.join(
        F.broadcast(rules), F.expr("regexp_like(path, regex)")
    )
    best = (
        matched.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(
                    F.desc("pat_len"),
                    F.when(F.col("verdict") == "allow", 0).otherwise(1),
                    "rule_id",
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("doc_id", "rule_id", "verdict", "pattern")
    )
    verdicts = urls.join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("rule_id", F.lit(-1)).cast("bigint").alias("rule_id"),
        F.coalesce("verdict", F.lit("allow")).alias("verdict"),
        F.coalesce("pattern", F.lit("DEFAULT")).alias("pattern"),
    )
    return (
        verdicts.groupBy("rule_id", "pattern", "verdict")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
        )
        .orderBy("rule_id")
    )


# --- X2t: exact-substring removal report (the Lee et al. "remove" step) ----

@register(
    "dedup_exact_substring_removal_report",
    oracle=f"""
        WITH {_DUP_CORPUS_SQL},
        w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM corpus
        ),
        pos AS (
            SELECT doc_id, words,
                   unnest(range(1, len(words) - {_ESS_K} + 2)) AS p
            FROM w WHERE len(words) >= {_ESS_K}
        ),
        g AS (
            SELECT doc_id, CAST(p AS BIGINT) AS p,
                   array_to_string(words[p : p + {_ESS_K} - 1], ' ') AS gram
            FROM pos
        ),
        m AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, a.p AS p1, b.p AS p2
            FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        ),
        isl AS (
            SELECT d1, d2, p1, p2, p2 - p1 AS diag,
                   p1 - ROW_NUMBER() OVER (
                       PARTITION BY d1, d2, p2 - p1 ORDER BY p1) AS isl
            FROM m
        ),
        sp AS (
            SELECT d1, d2, MIN(p2) AS s,
                   MIN(p2) + COUNT(*) + {_ESS_K} - 2 AS e
            FROM isl GROUP BY d1, d2, diag, isl
            HAVING COUNT(*) >= {_ESS_MIN_GRAMS}
        ),
        stats AS (
            SELECT d2 AS doc_id,
                   CAST(COUNT(DISTINCT d1) AS BIGINT) AS n_pairs,
                   CAST(COUNT(*) AS BIGINT) AS n_spans
            FROM sp GROUP BY d2
        ),
        iv AS (SELECT DISTINCT d2 AS doc_id, s, e FROM sp),
        flagged AS (
            SELECT doc_id, s, e,
                   CASE WHEN s > COALESCE(MAX(e) OVER (
                       PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       -1) THEN 1 ELSE 0 END AS new_isl
            FROM iv
        ),
        islands AS (
            SELECT doc_id, s, e,
                   SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS UNBOUNDED PRECEDING) AS isl
            FROM flagged
        ),
        merged AS (
            SELECT doc_id, MIN(s) AS ms, MAX(e) AS me
            FROM islands GROUP BY doc_id, isl
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_merged_spans,
                   CAST(SUM(me - ms + 1) AS BIGINT) AS removable_words
            FROM merged GROUP BY doc_id
        )
        SELECT p.doc_id, st.n_pairs, st.n_spans, p.n_merged_spans,
               p.removable_words,
               CAST(len(w.words) AS BIGINT) AS doc_words,
               CAST(p.removable_words AS DOUBLE)
                   / CAST(len(w.words) AS DOUBLE) AS removable_frac
        FROM per_doc p
        JOIN stats st ON st.doc_id = p.doc_id
        JOIN w ON w.doc_id = p.doc_id
        ORDER BY p.removable_words DESC, p.doc_id
        LIMIT 100
    """,
    doc=(
        "X2t: exact-substring REMOVAL report — the second half of the "
        "Lee et al. 2022 procedure (find, then cut the shared spans "
        "from the lower-priority copy). Keep-first policy: every span "
        "is charged to the HIGHER doc_id (d2) of its pair; a doc duped "
        "against several partners gets all its spans pooled, "
        "overlapping spans are merged by interval-union gaps-and-"
        "islands (running-max-end window per doc — the same machinery "
        "as window_streaks_gaps_islands, keyed per doc, never "
        "global), and the report states exactly how many words "
        "removal would cut: n_pairs / raw spans / merged spans / "
        "removable words / fraction of the doc. Integer interval "
        "arithmetic end to end, one final division. Shares the gram "
        "inverted-index + diagonal-islands plan with "
        "dedup_exact_substring_spans; the added cost is two keyed "
        "windows and two doc-grain aggregates. At 100 TB: same plan "
        "on xxhash64(gram) keys; the removal cut itself is then one "
        "slice-and-reassemble map over (doc, merged spans)."
    ),
    tags=("dedup", "llm", "ngram"),
)
def dedup_exact_substring_removal_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = Tables(spark, sf_dir)
    corpus = duplicated_corpus(t)
    sp = exact_substring_spans(corpus).select(
        "d1",
        F.col("d2").alias("doc_id"),
        F.col("start2").alias("s"),
        (F.col("start2") + F.col("span_words") - 1).alias("e"),
    )
    stats = sp.groupBy("doc_id").agg(
        F.countDistinct("d1").cast("bigint").alias("n_pairs"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
    )
    iv = sp.select("doc_id", "s", "e").distinct()
    w_run = (
        W.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_cum = (
        W.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    islands = iv.withColumn(
        "new_isl",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_run), F.lit(-1)), 1
        ).otherwise(0),
    ).withColumn("isl", F.sum("new_isl").over(w_cum))
    per_doc = (
        islands.groupBy("doc_id", "isl")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_merged_spans"),
            F.sum(F.col("me") - F.col("ms") + 1)
            .cast("bigint")
            .alias("removable_words"),
        )
    )
    words = corpus.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("doc_words")
    )
    return (
        per_doc.join(stats, "doc_id")
        .join(words, "doc_id")
        .select(
            "doc_id",
            "n_pairs",
            "n_spans",
            "n_merged_spans",
            "removable_words",
            "doc_words",
            (
                F.col("removable_words").cast("double")
                / F.col("doc_words").cast("double")
            ).alias("removable_frac"),
        )
        .orderBy(F.desc("removable_words"), "doc_id")
        .limit(100)
    )
