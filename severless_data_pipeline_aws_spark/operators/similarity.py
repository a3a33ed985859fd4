"""Similarity search over the ``embeddings`` table (SURVEY §2.9 X3/X5).

Embeddings are ``array<float>`` columns (the X5 typed-column story: the
vector is data, not a UDT). All math runs in DOUBLE with *sequential*
folds (``F.aggregate``) so results are bit-identical to the DuckDB
oracle's ``list_dot_product`` — verified empirically, which is what
makes the exact top-k query hash-checkable including its scores.

Two tiers:
* **exact brute-force top-k** — broadcast the (small) query set against
  all candidates, score per-row, per-query ``row_number`` keeps k.
  At 100 TB of vectors this is one scan + one shuffle of (q × k) rows.
* **LSH-bucketed ANN** — random-hyperplane signatures over L tables;
  candidates come from bucket equi-joins only, then exact re-scoring.
  The scale path: scoring cost drops from |Q|·|C| to |Q|·bucket size·L,
  and every join is an equi-join Catalyst can shuffle-partition.

No Python UDFs anywhere — higher-order functions keep the fold inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import Tables
from ..registry import register
from .text import BM25_SCORED_CTES

_TOP_K = 10
_N_QUERIES = 5  # vec_id < 5 are the query vectors

#: LSH parameters: 8 hash tables × 4 hyperplanes = 16 buckets per table.
#: The fixture's clusters are noisy (mean own-centroid cosine ~0.14), so
#: recall needs many short signatures rather than few long ones:
#: P(candidate) = 1-(1-p^4)^8 ≈ 0.83 at pair-cosine 0.5.
_LSH_TABLES = 8
_LSH_PLANES = 4


def _dot(a, b):
    """Sequential double-precision dot product (order-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


#: r11 optimization note (measured, REJECTED): rewriting _dot as an
#: unrolled 64-term GetArrayItem/Add expression chain — same IEEE fold
#: order, nominally codegen-friendly — measured ~2x SLOWER than the
#: zip_with/aggregate HOF on the 0.8M-pair beam-graph scoring stage
#: (isolated min-of-5 at sf0.1: beam 5.9s HOF vs 14.7s unrolled, LSH
#: 1.4s vs 2.5s, adjacent windows): 64-term trees per expression blow
#: past JIT-friendly generated-method sizes. Keep the HOF fold.


def _as_double(col):
    return F.col(col).cast("array<double>")


@register(
    "similarity_embedding_norms",
    oracle="""
        SELECT vec_id, label,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS l2_norm
        FROM embeddings WHERE vec_id < 200
    """,
    doc="X5: vector column plumbing — per-row L2 norm in double (bit-identical fold).",
    tags=("similarity", "llm"),
)
def similarity_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    v = _as_double("embedding")
    return t.embeddings.filter(F.col("vec_id") < 200).select(
        "vec_id", "label", F.sqrt(_dot(v, v)).alias("l2_norm")
    )


#: shared with similarity_ann_recall_report, which composes this text
#: with the LSH oracle to measure recall inside pure SQL
_TOPK_EXACT_ORACLE = f"""
        WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < {_N_QUERIES}),
        c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id >= {_N_QUERIES}),
        scored AS (
            SELECT qid, cid,
                   list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
            FROM q CROSS JOIN c
        ),
        ranked AS (
            SELECT qid, cid, cosine,
                   row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
            FROM scored
        )
        SELECT qid AS query_id, cid AS neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {_TOP_K}
"""


@register(
    "similarity_topk_cosine_exact",
    oracle=_TOPK_EXACT_ORACLE,
    doc=(
        "X3 (exact tier): brute-force top-k cosine — broadcast query "
        "vectors, double-precision sequential fold per pair, per-query "
        "row_number keeps k. Scores are hash-verified against DuckDB "
        "(identical IEEE fold order)."
    ),
    tags=("similarity", "llm", "topk"),
)
def similarity_topk_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    # norms are precomputed per side BEFORE the cross join: the query norm
    # would otherwise be re-folded for every one of |C| candidate rows
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _as_double("embedding").alias("qv"),
    ).withColumn("qnorm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    c = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double("embedding").alias("cv"),
    ).withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(spark: SparkSession, dim: int) -> DataFrame:
    """Deterministic random hyperplanes as a small broadcastable table."""
    import numpy as np

    rng = np.random.default_rng(42)
    planes = rng.standard_normal((_LSH_TABLES, _LSH_PLANES, dim))
    rows = [
        (t, p, [float(x) for x in planes[t, p]])
        for t in range(_LSH_TABLES)
        for p in range(_LSH_PLANES)
    ]
    return spark.createDataFrame(rows, "table_id int, plane_id int, plane array<double>")


def lsh_buckets(spark: SparkSession, emb: DataFrame, dim: int = 64) -> DataFrame:
    """(vec_id, table_id, bucket): sign-bit signature per hash table.

    One broadcast join against L×P tiny plane rows + one groupBy — both
    scale-safe (the groupBy key count is |vectors|·L).
    """
    planes = _hyperplanes(spark, dim)
    signs = emb.select("vec_id", _as_double("embedding").alias("v")).crossJoin(
        F.broadcast(planes)
    )
    return (
        signs.select(
            "vec_id",
            "table_id",
            F.when(
                _dot(F.col("v"), F.col("plane")) > 0,
                F.expr("shiftleft(1L, plane_id)"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("bit"),
        )
        .groupBy("vec_id", "table_id")
        .agg(F.sum("bit").alias("bucket"))
    )


def _ann_lsh_oracle() -> str:
    """Exact DuckDB twin of ``similarity_ann_lsh`` (r4: was rows-only).

    "Approximate" describes the RELATION to the true neighbors, not the
    computation — given the fixed seed-42 hyperplanes the whole query is
    deterministic, so the oracle embeds the 8x4x64 plane constants
    (repr round-trips each float64 exactly) and replays the sign
    signatures, bucket join, and sequential-fold cosine bit-for-bit."""
    import numpy as np

    rng = np.random.default_rng(42)
    planes = rng.standard_normal((_LSH_TABLES, _LSH_PLANES, 64))
    rows = ", ".join(
        f"({t}, {p}, [{', '.join(repr(float(x)) for x in planes[t, p])}]::DOUBLE[])"
        for t in range(_LSH_TABLES)
        for p in range(_LSH_PLANES)
    )

    def dot(a: str, b: str) -> str:
        # Spark's F.aggregate(zip_with(a, b, x*y), 0.0, acc + x): a
        # left-to-right fold seeded 0.0 — same IEEE order in DuckDB
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
            f"i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
        )

    return f"""
        WITH planes(table_id, plane_id, plane) AS (VALUES {rows}),
        emb AS MATERIALIZED (
            SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
            FROM embeddings
        ),
        dots AS (
            SELECT vec_id, table_id,
                   CASE WHEN {dot('v', 'plane')} > 0
                        THEN (1::BIGINT << plane_id) ELSE 0 END AS bit
            FROM emb CROSS JOIN planes
        ),
        buckets AS MATERIALIZED (
            SELECT vec_id, table_id, SUM(bit) AS bucket
            FROM dots GROUP BY vec_id, table_id
        ),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM buckets q JOIN buckets c
              ON q.table_id = c.table_id AND q.bucket = c.bucket
            WHERE q.vec_id < {_N_QUERIES} AND c.vec_id >= {_N_QUERIES}
        ),
        qv AS (
            SELECT vec_id AS query_id, v AS q, sqrt({dot('v', 'v')}) AS qnorm
            FROM emb WHERE vec_id < {_N_QUERIES}
        ),
        cv AS (
            SELECT vec_id AS neighbor_id, v AS c, sqrt({dot('v', 'v')}) AS cnorm
            FROM emb WHERE vec_id >= {_N_QUERIES}
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   {dot('q', 'c')} / (qnorm * cnorm) AS cosine
            FROM cand JOIN qv USING (query_id) JOIN cv USING (neighbor_id)
        )
        SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rk
            FROM scored
        )
        WHERE rk <= {_TOP_K}
    """


@register(
    "similarity_ann_lsh",
    oracle=_ann_lsh_oracle(),
    doc=(
        "X3 (scale tier): LSH-bucketed approximate nearest neighbors. "
        "Random-hyperplane signatures over 4 tables × 8 planes; candidates "
        "= union of same-bucket vectors across tables (equi-join, no cross "
        "join), then exact cosine re-scoring and per-query top-k. Recall "
        "vs similarity_topk_cosine_exact asserted in pytest; r4 adds an "
        "EXACT DuckDB oracle (plane constants embedded, sequential-fold "
        "dot products, identical rank tie-breaking)."
    ),
    tags=("similarity", "llm", "lsh", "ann"),
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    buckets = lsh_buckets(spark, emb)

    qb = buckets.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "table_id", "bucket"
    )
    cb = buckets.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), "table_id", "bucket"
    )
    candidates = qb.join(cb, ["table_id", "bucket"]).select("query_id", "neighbor_id").distinct()

    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")
    ).withColumn("qnorm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    c = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("cv")
    ).withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    scored = (
        candidates.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@register(
    "similarity_label_centroid_agreement",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        dims AS (
            SELECT label, vec_id,
                   unnest(list_transform(range(1, len(v) + 1),
                          i -> struct_pack(dim := i, x := v[i]))) AS s
            FROM e
        ),
        d2 AS (SELECT label, vec_id, s.dim AS dim, s.x AS x FROM dims),
        cent AS (
            SELECT label, dim,
                   list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b)
                       / COUNT(*) AS cx
            FROM d2 GROUP BY label, dim
        ),
        cvec AS (SELECT label, list(cx ORDER BY dim) AS centroid FROM cent GROUP BY label)
        SELECT e.vec_id, e.label,
               list_dot_product(e.v, c.centroid)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(c.centroid, c.centroid)))
                   AS cosine_to_own_centroid
        FROM e JOIN cvec c USING (label)
    """,
    doc=(
        "Ground-truth sanity: each vector's cosine to its own label "
        "centroid. Centroids via per-dimension posexplode (one shuffle "
        "on (label, dim)) — the scalable dense-centroid pattern. The "
        "per-dimension mean folds the values in vec_id order "
        "(collect_list(struct) + array_sort + sequential aggregate) "
        "instead of avg(), so the float reduction is order-pinned and "
        "bit-identical to the DuckDB oracle's ordered list_reduce — "
        "which upgrades this query from rows-only to hash-exact. sqrt "
        "is IEEE-correctly-rounded on both engines, so the cosines "
        "match exactly too. pytest still asserts own-label similarity "
        "wins on average (labels are the generator's 10 clusters)."
    ),
    tags=("similarity", "llm"),
)
def similarity_label_centroid_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "label", _as_double("embedding").alias("v"))

    dims = emb.select("label", "vec_id", F.posexplode("v").alias("dim0", "x")).select(
        "label", "vec_id", (F.col("dim0") + 1).alias("dim"), "x"
    )
    centroids = (
        dims.groupBy("label", "dim")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(vec_id, x))), "
                "p -> p.x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / count(1)"
            ).alias("cx")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("pairs"))
        .select("label", F.expr("transform(pairs, p -> p.cx)").alias("centroid"))
    )
    joined = emb.join(F.broadcast(centroids), "label")
    return joined.select(
        "vec_id",
        "label",
        (
            _dot(F.col("v"), F.col("centroid"))
            / (
                F.sqrt(_dot(F.col("v"), F.col("v")))
                * F.sqrt(_dot(F.col("centroid"), F.col("centroid")))
            )
        ).alias("cosine_to_own_centroid"),
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the third tier: coarse k-means cells + multi-probe
# ---------------------------------------------------------------------------

_IVF_K = 16  # coarse cells
_IVF_ITERS = 2  # Lloyd refinement passes
_IVF_NPROBE = 6  # cells probed per query

#: spherical k-means: train/assign on L2-normalized vectors so nearest-cell
#: by squared L2 == nearest-cell by cosine (the metric the search uses)


def _normalize(vcol):
    norm = F.sqrt(_dot(vcol, vcol))
    return F.transform(vcol, lambda x: x / norm)


def _cells_literal(centroids: list[tuple[int, list[float]]]):
    """K centroid vectors as ONE literal array<struct<cid,cv>> column.

    Centroids are bounded metadata (K x dim doubles), not data — inlining
    them makes every assignment map-only (no join, no shuffle), exactly
    how MLlib's KMeans broadcasts centers each iteration.
    """
    return F.array(
        *[
            F.struct(
                F.lit(cid).alias("cid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("cv"),
            )
            for cid, vec in centroids
        ]
    )


def _nearest_cell(vcol, cells):
    """argmin_{cell} ||v - c||^2 as a fold over the centroid array."""

    def dist2(cell):
        return F.aggregate(
            F.zip_with(vcol, cell["cv"], lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    init = F.struct(F.lit(-1).alias("cid"), F.lit(float("inf")).alias("d"))
    return F.aggregate(
        cells,
        init,
        lambda acc, cell: F.when(
            dist2(cell) < acc["d"],
            F.struct(cell["cid"].alias("cid"), dist2(cell).alias("d")),
        ).otherwise(acc),
    )


def ivf_train(spark: SparkSession, emb: DataFrame, k: int = _IVF_K, iters: int = _IVF_ITERS):
    """Deterministic spherical k-means on normalized vectors.

    Seeds = k hash-sampled vectors (xxhash64 order: deterministic, no
    Math.random). Each Lloyd pass is one map-only assignment + one
    (cell, dim) aggregation; only the K centroid vectors ever reach the
    driver — bounded metadata, the same contract as MLlib KMeans'
    per-iteration center collection. At 100 TB, train on a hash-sampled
    slice (TABLESAMPLE) — centroid quality needs samples, not the corpus.

    Bit-reproducible (r5): the per-dimension mean folds x in vec_id
    order (collect_list(struct) + array_sort + sequential aggregate)
    instead of avg(), so centroid bits never depend on partial-agg merge
    order — which makes the downstream ANN result exact-oracle-able. At
    corpus scale relax the ordered fold to plain AVG and let cell
    assignments be approximate; here exactness is the test contract.
    """
    import math

    vec = emb.select("vec_id", _normalize(_as_double("embedding")).alias("v"))
    seeds = vec.orderBy(F.xxhash64("vec_id")).limit(k).collect()
    centroids = [(i, list(r["v"])) for i, r in enumerate(seeds)]
    for _ in range(iters):
        cells = _cells_literal(centroids)
        assigned = vec.withColumn("cell", _nearest_cell(F.col("v"), cells)["cid"])
        rows = (
            assigned.select("vec_id", "cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(
                F.expr(
                    "aggregate(transform(array_sort(collect_list(struct(vec_id, x))), "
                    "p -> p.x), CAST(0.0 AS DOUBLE), (acc, y) -> acc + y) / count(1)"
                ).alias("cx")
            )
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("pairs"))
            .select("cell", F.expr("transform(pairs, p -> p.cx)").alias("centroid"))
            .collect()
        )
        centroids = []
        for r in rows:
            c = list(r["centroid"])
            n = math.sqrt(sum(x * x for x in c)) or 1.0
            centroids.append((r["cell"], [x / n for x in c]))
        centroids.sort()
    return centroids


def _ivf_oracle() -> str:
    """Exact DuckDB twin of ``similarity_ann_ivf`` (r5: was rows-only).

    Like the LSH oracle, "approximate" is the relation to the true
    neighbors, not the computation: seeds are the K lowest xxhash64
    orders (replayed via the validated XXH64 limb twin), every float
    reduction is an order-pinned sequential fold on both engines
    (ordered list_reduce here, array_sort + aggregate in Spark), and
    centroid normalization mirrors the driver-side Python arithmetic
    op-for-op — so cell assignments, probes, candidates, cosines, and
    ranks all hash-match bit-for-bit."""
    from ..functions.xxh64_sql import hash_long_chain_subquery

    d = 64

    def dot(a: str, b: str) -> str:
        # Spark F.aggregate(zip_with(a, b, x*y), 0.0, +): 0.0-seeded
        # left fold in index order
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {d + 1}), "
            f"i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
        )

    def d2(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {d + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (acc, x) -> acc + x)"
        )

    # driver-side normalization: n = sqrt(sum(x*x)) or 1.0; x / n —
    # Python's sum() is the same 0-seeded ascending fold
    sumsq = (
        "list_reduce(list_prepend(0.0, list_transform(mv, x -> x * x)), "
        "(a, b) -> a + b)"
    )
    norm_div = f"(CASE WHEN sqrt({sumsq}) = 0 THEN 1.0 ELSE sqrt({sumsq}) END)"
    hashed = hash_long_chain_subquery("embeddings", ["vec_id"], ["vec_id"], out="h")

    def lloyd(k: int, prev: int) -> str:
        return f"""
        a{k} AS (
            SELECT n.vec_id, c.cid, {d2("n.nv", "c.cvec")} AS dist
            FROM nemb n CROSS JOIN c{prev} c
        ),
        asg{k} AS (
            SELECT vec_id, cid FROM a{k}
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) = 1
        ),
        cd{k} AS (
            SELECT s.cid, dm.dim,
                   list_reduce(list(dm.x ORDER BY dm.vec_id), (a, b) -> a + b)
                       / COUNT(*) AS cx
            FROM dims dm JOIN asg{k} s USING (vec_id)
            GROUP BY s.cid, dm.dim
        ),
        cm{k} AS (SELECT cid, list(cx ORDER BY dim) AS mv FROM cd{k} GROUP BY cid),
        c{k} AS (
            SELECT cid, list_transform(mv, x -> x / {norm_div}) AS cvec FROM cm{k}
        )"""

    return f"""
        WITH emb AS MATERIALIZED (
            SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
            FROM embeddings
        ),
        nemb AS MATERIALIZED (
            SELECT vec_id, list_transform(v, x -> x / sqrt({dot("v", "v")})) AS nv
            FROM emb
        ),
        dims AS MATERIALIZED (
            SELECT vec_id, dim, nv[dim] AS x
            FROM nemb CROSS JOIN range(1, {d + 1}) t(dim)
        ),
        hashed AS (SELECT vec_id, h FROM {hashed} hq),
        c0 AS (
            SELECT row_number() OVER (ORDER BY h.h) - 1 AS cid, n.nv AS cvec
            FROM nemb n JOIN hashed h USING (vec_id)
            ORDER BY h.h LIMIT {_IVF_K}
        ),
        {lloyd(1, 0)},
        {lloyd(2, 1)},
        inv AS (
            SELECT vec_id AS neighbor_id, cid AS cell FROM (
                SELECT n.vec_id, c.cid, {d2("n.nv", "c.cvec")} AS dist
                FROM nemb n CROSS JOIN c2 c WHERE n.vec_id >= {_N_QUERIES}
            ) QUALIFY row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cid) = 1
        ),
        probes AS (
            SELECT query_id, cell FROM (
                SELECT n.vec_id AS query_id, c.cid AS cell,
                       row_number() OVER (
                           PARTITION BY n.vec_id
                           ORDER BY {d2("n.nv", "c.cvec")}, c.cid) AS cell_rank
                FROM nemb n CROSS JOIN c2 c WHERE n.vec_id < {_N_QUERIES}
            ) WHERE cell_rank <= {_IVF_NPROBE}
        ),
        cand AS (
            SELECT p.query_id, i.neighbor_id
            FROM probes p JOIN inv i USING (cell)
        ),
        qv AS (
            SELECT vec_id AS query_id, v AS q, sqrt({dot("v", "v")}) AS qnorm
            FROM emb WHERE vec_id < {_N_QUERIES}
        ),
        cv AS (
            SELECT vec_id AS neighbor_id, v AS c, sqrt({dot("v", "v")}) AS cnorm
            FROM emb WHERE vec_id >= {_N_QUERIES}
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   {dot("q", "c")} / (qnorm * cnorm) AS cosine
            FROM cand JOIN qv USING (query_id) JOIN cv USING (neighbor_id)
        )
        SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rk
            FROM scored
        )
        WHERE rk <= {_TOP_K}
    """


@register(
    "similarity_ann_ivf",
    oracle=_ivf_oracle(),
    doc=(
        "X3 (scale tier 2): IVF approximate nearest neighbors. A "
        "deterministic spherical k-means coarse quantizer (16 cells, 2 "
        "Lloyd passes, all DataFrame aggregations) partitions the corpus "
        "into an inverted file; queries probe their 6 nearest cells and "
        "re-score exactly only inside them. Assignment is MAP-ONLY "
        "(centroids inlined as a literal, no join); candidate lookup is "
        "an equi-join on cell id. vs LSH: cells adapt to the data "
        "distribution, so probe cost concentrates where neighbors are. "
        "r5: training folds are order-pinned (vec_id-ordered sequential "
        "mean, mirrored normalization arithmetic), upgrading the query "
        "from rows-only to an EXACT DuckDB oracle — seeds replayed via "
        "the XXH64 limb twin, both Lloyd passes unrolled as CTEs."
    ),
    tags=("similarity", "llm", "ivf", "ann"),
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    centroids = ivf_train(spark, emb)
    cells = _cells_literal(centroids)

    # inverted file: map-only cell assignment for every candidate vector
    inv = (
        emb.filter(F.col("vec_id") >= _N_QUERIES)
        .select("vec_id", _normalize(_as_double("embedding")).alias("nv"))
        .withColumn("cell", _nearest_cell(F.col("nv"), cells)["cid"])
        .select(F.col("vec_id").alias("neighbor_id"), "cell")
    )
    # multi-probe: each query's NPROBE nearest cells (queries are few; the
    # explode is |Q| x K rows of metadata)
    probes = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), _normalize(_as_double("embedding")).alias("nq"))
        .select("query_id", "nq", F.explode(cells).alias("cellrow"))
        .select(
            "query_id",
            F.col("cellrow.cid").alias("cell"),
            F.aggregate(
                F.zip_with(F.col("nq"), F.col("cellrow.cv"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
        .withColumn(
            "cell_rank",
            F.row_number().over(W.partitionBy("query_id").orderBy("d2", "cell")),
        )
        .filter(F.col("cell_rank") <= _IVF_NPROBE)
        .select("query_id", "cell")
    )
    candidates = probes.join(inv, "cell").select("query_id", "neighbor_id")

    q = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv"))
        .withColumn("qnorm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    )
    c = (
        emb.filter(F.col("vec_id") >= _N_QUERIES)
        .select(F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("cv"))
        .withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    )
    scored = (
        candidates.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


_COARSE_K = 50  # candidates surviving the quantized prefilter, per query


def _int_quantized(col):
    """floor(x*10) per component — integer-exact coarse representation.

    floor is unambiguous on doubles (no round-half ties), so the coarse
    scores are exact integers and the candidate cut is bit-identical
    across engines — a rounding quantizer would make the top-``_COARSE_K``
    boundary engine-dependent.
    """
    return F.expr(
        f"transform(CAST({col} AS ARRAY<DOUBLE>), x -> CAST(floor(x * 10) AS BIGINT))"
    )


@register(
    "similarity_two_stage_rerank",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(floor(x * 10) AS BIGINT)) AS qq
            FROM embeddings WHERE vec_id < {_N_QUERIES}
        ),
        c AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(floor(x * 10) AS BIGINT)) AS cq
            FROM embeddings WHERE vec_id >= {_N_QUERIES}
        ),
        coarse AS (
            SELECT qid, cid, qv, cv,
                   row_number() OVER (
                       PARTITION BY qid
                       ORDER BY list_dot_product(qq, cq) DESC, cid) AS crank
            FROM q CROSS JOIN c
        ),
        fine AS (
            SELECT qid, cid,
                   list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(cv, cv))) AS cosine
            FROM coarse WHERE crank <= {_COARSE_K}
        )
        SELECT qid AS query_id, cid AS neighbor_id, cosine, rank FROM (
            SELECT qid, cid, cosine,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cosine DESC, cid) AS rank
            FROM fine
        ) WHERE rank <= {_TOP_K}
    """,
    doc=(
        "X3 (two-stage retrieval — the production shape): a cheap "
        "integer coarse pass (floor-quantized int vectors, no sqrt/"
        "division, SIMD-friendly) cuts each query's candidates to "
        f"{_COARSE_K}, then exact double cosine re-ranks only those "
        f"survivors to the final top {_TOP_K}. Work ratio vs brute "
        "force: the expensive math touches K_coarse rows per query "
        "instead of |corpus|. The integer coarse scores make the "
        "candidate cut engine-deterministic, so the whole cascade is "
        "hash-verified; recall vs the exact top-k is asserted in "
        "pytest. Pairs with udf_map_in_arrow_quantize for the stored-"
        "int8 variant at 100 TB."
    ),
    tags=("similarity", "llm", "topk", "rerank"),
)
def similarity_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _as_double("embedding").alias("qv"),
        _int_quantized("embedding").alias("qq"),
    )
    c = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double("embedding").alias("cv"),
        _int_quantized("embedding").alias("cq"),
    )
    int_dot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    wc = W.partitionBy("query_id").orderBy(F.desc("coarse"), F.asc("neighbor_id"))
    coarse = (
        c.crossJoin(F.broadcast(q))
        .withColumn("coarse", int_dot)
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= _COARSE_K)
    )
    fine = coarse.select(
        "query_id",
        "neighbor_id",
        (
            _dot(F.col("qv"), F.col("cv"))
            / (
                F.sqrt(_dot(F.col("qv"), F.col("qv")))
                * F.sqrt(_dot(F.col("cv"), F.col("cv")))
            )
        ).alias("cosine"),
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        fine.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@register(
    "pipeline_text_embedding_pairs",
    oracle="""
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
               e.label,
               CAST(len(e.embedding) AS INT) AS dim,
               sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                     CAST(e.embedding AS DOUBLE[]))) AS l2_norm
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        WHERE len(string_split(d.text, ' ')) >= 20
    """,
    doc=(
        "Contrastive-training pair assembly: align each document with "
        "its embedding row (doc_id = vec_id), keep pairs whose text "
        "passes a minimum-length gate, and emit the audit columns a "
        "retrieval-training job checks before writing shards (token "
        "count, declared dim, vector norm). The 1:1 fact-fact equi-join "
        "shuffles both sides on the shared key once — at 100 TB both "
        "tables would be bucketed on the id (sinks.write_bucketed) and "
        "the join plans with zero exchanges. Norms use the order-"
        "deterministic sequential fold, so the whole pairing is "
        "hash-exact."
    ),
    tags=("similarity", "llm", "join", "pipeline"),
)
def pipeline_text_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 20)
    v = _as_double("embedding")
    e = t.embeddings.select(
        F.col("vec_id").alias("doc_id"),
        "label",
        F.size("embedding").alias("dim"),
        F.sqrt(_dot(v, v)).alias("l2_norm"),
    )
    return d.join(e, "doc_id").select("doc_id", "n_tokens", "label", "dim", "l2_norm")


@register(
    "similarity_hard_negative_mining",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings WHERE vec_id < 200
        ),
        scored AS (
            SELECT a.vec_id, a.label,
                   b.vec_id AS neg_id,
                   list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
                                DESC, b.vec_id
                   ) AS rn
            FROM e a JOIN e b
              ON a.label <> b.label
        )
        SELECT vec_id, label, neg_id, cosine AS hard_negative_cosine
        FROM scored WHERE rn = 1
    """,
    doc=(
        "Hard-negative mining for contrastive training: for every "
        "anchor, the most-similar vector of a DIFFERENT label (the "
        "negative that actually teaches the model). Exact on a bounded "
        "block (per-pair order-deterministic fold, hash-verified; ties "
        "break on neg_id); at 100 TB the candidate pairs come from the "
        "ANN buckets (similarity_ann_lsh / _ivf) and the same per-"
        "anchor top-1 window runs on candidates only. One window "
        "shuffle keyed by anchor after the block join."
    ),
    tags=("similarity", "llm", "embedding"),
)
def similarity_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    e = (
        t.embeddings.filter(F.col("vec_id") < 200)
        .select("vec_id", "label", _as_double("embedding").alias("v"))
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    a = e.select(
        F.col("vec_id").alias("vec_id"),
        F.col("label").alias("label"),
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    b = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    scored = a.join(b, F.col("label") != F.col("neg_label")).withColumn(
        "cosine", _dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cosine").desc(), "neg_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "neg_id", F.col("cosine").alias("hard_negative_cosine"))
    )


_PCA_ITERS = 2

#: one power-iteration step in DuckDB: project scores, per-dim weighted
#: sums folded in vec_id order, repack to an ordered list
_PCA_STEP_SQL = """
        s{k} AS (
            SELECT e.vec_id, list_dot_product(e.v, {vprev}.vec) AS score
            FROM e, {vprev}
        ),
        w{k} AS (
            SELECT d.dim,
                   list_reduce(list(s.score * d.x ORDER BY d.vec_id),
                               (a, b) -> a + b) AS w
            FROM dims d JOIN s{k} s USING (vec_id) GROUP BY d.dim
        ),
        wv{k} AS (SELECT list(w ORDER BY dim) AS wv FROM w{k}),
        v{k} AS (
            SELECT list_transform(wv, x -> x / sqrt(list_dot_product(wv, wv))) AS vec
            FROM wv{k}
        )
"""


@register(
    "similarity_pca_top_component",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        dimsu AS (
            SELECT vec_id,
                   unnest(list_transform(range(1, len(v) + 1),
                          i -> struct_pack(dim := i, x := v[i]))) AS s
            FROM e
        ),
        dims AS (SELECT vec_id, s.dim AS dim, s.x AS x FROM dimsu),
        v0 AS (
            SELECT list_transform(range(1, len(v) + 1),
                   i -> CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE)
                             ELSE CAST(0.0 AS DOUBLE) END) AS vec
            FROM e LIMIT 1
        ),
        {_PCA_STEP_SQL.format(k=1, vprev="v0")},
        {_PCA_STEP_SQL.format(k=2, vprev="v1")},
        fin AS (
            SELECT unnest(list_transform(range(1, len(wv) + 1),
                   i -> struct_pack(
                       dim := i,
                       loading := wv[i] / sqrt(list_dot_product(wv, wv)),
                       sigma := sqrt(list_dot_product(wv, wv))))) AS s
            FROM wv2
        )
        SELECT CAST(s.dim AS BIGINT) AS dim, s.loading AS loading, s.sigma AS sigma
        FROM fin
    """,
    doc=(
        "Top principal direction of the embedding matrix by power "
        "iteration — distributed linear algebra as two DataFrame "
        "passes: score = x·v per vector (map-side, broadcast v), then "
        "per-dimension weighted sums Σ score·x_dim (one shuffle on "
        "dim), normalize, repeat. The fixed e1 start and vec_id-ordered "
        "per-dimension folds make both iterations bit-identical to the "
        "oracle's unrolled CTEs (the order-pinning is an exactness "
        "device — at corpus scale the folds become plain SUMs and the "
        "loop runs to tolerance). sigma (the ||X^T X v|| norm) "
        "estimates the top singular value's square. This is the "
        "engine-level primitive under embedding whitening / "
        "all-but-the-top post-processing of text embeddings; the "
        "per-vector projection and per-dim reduction are exactly the "
        "shapes a full Lanczos/Arnoldi would reuse."
    ),
    tags=("similarity", "llm", "iterative"),
)
def similarity_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    dims = (
        emb.select("vec_id", F.posexplode("v").alias("dim0", "x"))
        .select("vec_id", (F.col("dim0") + 1).alias("dim"), "x")
    )
    vcur = emb.limit(1).select(
        F.expr(
            "transform(v, (y, i) -> CASE WHEN i = 0 THEN CAST(1.0 AS DOUBLE) "
            "ELSE CAST(0.0 AS DOUBLE) END)"
        ).alias("vec")
    )
    wvec = None
    for _ in range(_PCA_ITERS):
        scores = emb.crossJoin(F.broadcast(vcur)).select(
            "vec_id", _dot(F.col("v"), F.col("vec")).alias("score")
        )
        w = (
            dims.join(scores, "vec_id")
            .select("dim", "vec_id", (F.col("score") * F.col("x")).alias("c"))
            .groupBy("dim")
            .agg(
                F.expr(
                    "aggregate(transform(array_sort(collect_list(struct(vec_id, c))), "
                    "p -> p.c), CAST(0.0 AS DOUBLE), (acc, y) -> acc + y)"
                ).alias("w")
            )
        )
        wvec = (
            w.groupBy()
            .agg(F.array_sort(F.collect_list(F.struct("dim", "w"))).alias("pairs"))
            .select(F.expr("transform(pairs, p -> p.w)").alias("wv"))
        )
        vcur = wvec.select(
            F.expr(
                "transform(wv, x -> x / sqrt(aggregate(zip_with(wv, wv, "
                "(a, b) -> a * b), CAST(0.0 AS DOUBLE), (acc, y) -> acc + y)))"
            ).alias("vec")
        )
    norm = (
        "sqrt(aggregate(zip_with(wv, wv, (a, b) -> a * b), "
        "CAST(0.0 AS DOUBLE), (acc, y) -> acc + y))"
    )
    return wvec.select(
        F.posexplode(F.expr(f"transform(wv, x -> x / {norm})")).alias("dim0", "loading"),
        F.expr(norm).alias("sigma"),
    ).select((F.col("dim0") + 1).cast("bigint").alias("dim"), "loading", "sigma")


_KM_K = 8

#: squared-L2 distance, index-ascending fold — the identical IEEE
#: sequence on both engines (Spark zip_with+aggregate == DuckDB
#: list_transform+list_reduce)
_KM_DIST_DUCK = (
    "list_reduce(list_transform(range(1, len(e.v) + 1), "
    "i -> (e.v[i] - c.cvec[i]) * (e.v[i] - c.cvec[i])), (a, b) -> a + b)"
)

#: one Lloyd round in DuckDB: assign under c{prev}, then ordered-fold
#: per-dimension means into c{k}
_KM_STEP_SQL = """
        a{k} AS (
            SELECT e.vec_id, c.cid, {dist} AS dist
            FROM e, c{prev} c
        ),
        asg{k} AS (
            SELECT vec_id, cid, dist FROM a{k}
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) = 1
        ),
        cd{k} AS (
            SELECT s.cid, d.dim,
                   list_reduce(list(d.x ORDER BY d.vec_id), (a, b) -> a + b)
                       / COUNT(*) AS cx
            FROM dims d JOIN asg{k} s USING (vec_id)
            GROUP BY s.cid, d.dim
        ),
        c{k} AS (SELECT cid, list(cx ORDER BY dim) AS cvec FROM cd{k} GROUP BY cid)
"""


@register(
    "similarity_kmeans_lloyd",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        dimsu AS (
            SELECT vec_id,
                   unnest(list_transform(range(1, len(v) + 1),
                          i -> struct_pack(dim := i, x := v[i]))) AS s
            FROM e
        ),
        dims AS (SELECT vec_id, s.dim AS dim, s.x AS x FROM dimsu),
        c0 AS (
            SELECT vec_id AS cid, v AS cvec FROM e ORDER BY vec_id LIMIT {_KM_K}
        ),
        {_KM_STEP_SQL.format(k=1, prev=0, dist=_KM_DIST_DUCK)},
        a2 AS (
            SELECT e.vec_id, c.cid, {_KM_DIST_DUCK} AS dist
            FROM e, c1 c
        )
        SELECT vec_id, CAST(cid AS BIGINT) AS cluster, dist
        FROM a2
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
    """,
    doc=(
        "Lloyd's k-means (k=8, one update round bracketed by two exact "
        "assignment passes) on the raw embeddings — the clustering "
        "primitive under IVF index build, SemDeDup cluster pruning, "
        "and diversity-balanced data selection. Deterministic "
        "end-to-end: seeds are the k lowest vec_ids, assignment "
        "tie-breaks on (dist, cid), distances fold index-ascending, "
        "and centroid updates fold per-dimension in vec_id order — so "
        "every cluster id and distance hash-matches the oracle's "
        "unrolled CTEs. Assignment is a broadcast cross join (k·N "
        "distance rows, map-side) + one per-vector argmin window; the "
        "update shuffles (cid, dim) partial sums. At corpus scale the "
        "ordered folds relax to plain SUM/AVG and iterations run to "
        "convergence — the plan shape (broadcast assign, keyed "
        "combine) is already the scalable one."
    ),
    tags=("similarity", "llm", "iterative"),
)
def similarity_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", _as_double("embedding").alias("v"))
    dims = (
        emb.select("vec_id", F.posexplode("v").alias("dim0", "x"))
        .select("vec_id", (F.col("dim0") + 1).alias("dim"), "x")
    )
    dist_expr = F.expr(
        "aggregate(zip_with(v, cvec, (a, b) -> (a - b) * (a - b)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    rk_w = W.partitionBy("vec_id").orderBy("dist", "cid")

    def assign(cent):
        return (
            emb.crossJoin(F.broadcast(cent))
            .select("vec_id", "cid", dist_expr.alias("dist"))
            .withColumn("rk", F.row_number().over(rk_w))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )

    cent = emb.orderBy("vec_id").limit(_KM_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    asg1 = assign(cent)
    cent1 = (
        dims.join(asg1.select("vec_id", "cid"), "vec_id")
        .groupBy("cid", "dim")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(vec_id, x))), "
                "p -> p.x), CAST(0.0 AS DOUBLE), (acc, y) -> acc + y) / count(1)"
            ).alias("cx")
        )
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("pairs"))
        .select("cid", F.expr("transform(pairs, p -> p.cx)").alias("cvec"))
    )
    return assign(cent1).select(
        "vec_id", F.col("cid").cast("bigint").alias("cluster"), "dist"
    )


_KNN_K = 5


@register(
    "similarity_knn_label_vote",
    oracle=f"""
        WITH q AS (SELECT vec_id AS qid, label AS true_label,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id % 10 = 0),
        c AS (SELECT vec_id AS cid, label AS clabel,
                     CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        scored AS (
            SELECT qid, true_label, cid, clabel,
                   list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                     AS cosine
            FROM q JOIN c ON cid != qid
        ),
        ranked AS (
            SELECT qid, true_label, clabel,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cosine DESC, cid) AS rk
            FROM scored
        ),
        votes AS (
            SELECT qid, true_label, clabel, COUNT(*) AS n_votes
            FROM ranked WHERE rk <= {_KNN_K}
            GROUP BY qid, true_label, clabel
        ),
        best AS (
            SELECT qid, true_label, clabel AS pred_label, n_votes,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY n_votes DESC, clabel) AS vr
            FROM votes
        )
        SELECT qid AS query_id, true_label, pred_label, n_votes,
               CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS is_correct
        FROM best WHERE vr = 1
    """,
    doc=(
        "kNN majority-vote label prediction (embedding-quality audit): "
        "every 10th vector is classified by the majority label of its "
        "5 nearest cosine neighbors; ties break deterministically by "
        "(votes DESC, label ASC). One broadcast of the bounded query "
        "sample against the candidate scan — the same plan shape as "
        "similarity_topk_cosine_exact, so it scales with |candidates|, "
        "and the vote reduction is per-query-bounded. The is_correct "
        "column makes the query a label-noise detector: a low corpus "
        "accuracy means embeddings and labels disagree."
    ),
    tags=("similarity", "llm", "topk"),
)
def similarity_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    q = (
        emb.filter(F.col("vec_id") % 10 == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("true_label"),
            _as_double("embedding").alias("qv"),
        )
        .withColumn("qnorm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        _as_double("embedding").alias("cv"),
    ).withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "true_label",
            "cid",
            "clabel",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))).alias(
                "cosine"
            ),
        )
    )
    rk = F.row_number().over(W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid")))
    votes = (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= _KNN_K)
        .groupBy("qid", "true_label", "clabel")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    vr = F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("n_votes"), F.asc("clabel"))
    )
    return (
        votes.withColumn("vr", vr)
        .filter(F.col("vr") == 1)
        .select(
            F.col("qid").alias("query_id"),
            "true_label",
            F.col("clabel").alias("pred_label"),
            "n_votes",
            F.expr("CASE WHEN clabel = true_label THEN 1 ELSE 0 END").alias("is_correct"),
        )
    )


_RRF_K = 60  # standard reciprocal-rank-fusion damping constant
_RRF_TOP = 50  # per-list candidate depth fed into the fusion


@register(
    "similarity_rrf_hybrid_retrieval",
    oracle=f"""
        WITH {BM25_SCORED_CTES},
        lexr AS (
            SELECT doc_id, rl FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS rl
                FROM scored
            ) WHERE rl <= {_RRF_TOP}
        ),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id = 0),
        vecscore AS (
            SELECT vec_id AS doc_id,
                   list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                     AS cos
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings WHERE vec_id != 0)
            CROSS JOIN q
        ),
        vecr AS (
            SELECT doc_id, rv FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY cos DESC, doc_id) AS rv
                FROM vecscore
            ) WHERE rv <= {_RRF_TOP}
        ),
        fused AS (
            SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
                   CAST(l.rl AS INTEGER) AS lex_rank,
                   CAST(v.rv AS INTEGER) AS vec_rank,
                   COALESCE(CAST(1 AS DOUBLE) /
                            (CAST({_RRF_K} AS DOUBLE) + CAST(l.rl AS DOUBLE)),
                            CAST(0 AS DOUBLE))
                 + COALESCE(CAST(1 AS DOUBLE) /
                            (CAST({_RRF_K} AS DOUBLE) + CAST(v.rv AS DOUBLE)),
                            CAST(0 AS DOUBLE)) AS rrf_score
            FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
        )
        SELECT doc_id, lex_rank, vec_rank, rrf_score,
               CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
                    AS INTEGER) AS fused_rank
        FROM fused
        ORDER BY rrf_score DESC, doc_id
        LIMIT 20
    """,
    doc=(
        "Hybrid retrieval via reciprocal rank fusion: the BM25 lexical "
        "top-50 (text.bm25_scored — same scoring pipeline as "
        "text_bm25_topk) and the embedding-cosine top-50 for the query "
        "vector fuse as sum(1/(60+rank)), the score-free combiner that "
        "needs no cross-list calibration. Each list is a bounded top-k "
        "(TakeOrdered, never a global sort of the corpus); the fusion "
        "full-outer join runs on two k-row inputs — driver-trivial at "
        "any corpus scale. Missing-from-one-list docs contribute 0 from "
        "that list, the standard RRF convention."
    ),
    tags=("similarity", "text", "llm", "retrieval", "topk"),
)
def similarity_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .text import bm25_scored

    t = Tables(spark, sf_dir)
    lex = (
        bm25_scored(t)
        .orderBy(F.desc("score"), "doc_id")
        .limit(_RRF_TOP)
        .select(
            "doc_id",
            F.row_number().over(W.orderBy(F.desc("score"), "doc_id")).alias("rl"),
        )
    )
    emb = t.embeddings
    q = emb.filter(F.col("vec_id") == 0).select(
        _as_double("embedding").alias("qv")
    ).withColumn("qnorm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    cand = emb.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"), _as_double("embedding").alias("cv")
    ).withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    vec = (
        cand.crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))).alias(
                "cos"
            ),
        )
        .orderBy(F.desc("cos"), "doc_id")
        .limit(_RRF_TOP)
        .select(
            "doc_id",
            F.row_number().over(W.orderBy(F.desc("cos"), "doc_id")).alias("rv"),
        )
    )
    fused = (
        lex.withColumnRenamed("doc_id", "ldoc")
        .join(vec.withColumnRenamed("doc_id", "vdoc"),
              F.col("ldoc") == F.col("vdoc"), "full_outer")
        .select(
            F.coalesce(F.col("ldoc"), F.col("vdoc")).alias("doc_id"),
            F.col("rl").cast("int").alias("lex_rank"),
            F.col("rv").cast("int").alias("vec_rank"),
            (
                F.coalesce(
                    F.expr(
                        f"CAST(1 AS DOUBLE) / (CAST({_RRF_K} AS DOUBLE) + CAST(rl AS DOUBLE))"
                    ),
                    F.expr("CAST(0 AS DOUBLE)"),
                )
                + F.coalesce(
                    F.expr(
                        f"CAST(1 AS DOUBLE) / (CAST({_RRF_K} AS DOUBLE) + CAST(rv AS DOUBLE))"
                    ),
                    F.expr("CAST(0 AS DOUBLE)"),
                )
            ).alias("rrf_score"),
        )
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number().over(W.orderBy(F.desc("rrf_score"), "doc_id")).cast("int"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(20)
    )


_PQ_M = 8  # subspaces (64-dim embedding -> 8 x 8-dim subvectors)
_PQ_SUBDIM = 8
_PQ_K = 16  # centroids per subspace (4-bit codes)


def _pq_subvectors(df: DataFrame, id_col: str) -> DataFrame:
    """(id, m, sv): the M contiguous subvectors of each L2-normalized
    embedding. Normalizing FIRST makes PQ's L2 ranking equivalent to
    cosine ranking (||a-b||^2 = 2 - 2cos for unit vectors), so recall
    is measured against the exact-cosine query."""
    return (
        df.select(id_col, _normalize(_as_double("embedding")).alias("nv"))
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(0, {_PQ_M - 1}), "
                    f"m -> struct(m AS m, slice(nv, m * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM}) AS sv))"
                )
            ).alias("s"),
        )
        .select(id_col, F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    )


def _pq_d2():
    # built at call time: F.expr needs an active session
    return F.expr(
        "aggregate(zip_with(sv, cvec, (a, b) -> (a - b) * (a - b)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def pq_codebook(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(m, cid, cvec): per-subspace codebook — deterministic seeds (the
    K lowest vec_ids' subvectors) refined by one Lloyd round. M*K rows
    of metadata; broadcast everywhere it is used. The per-dimension mean
    folds in vec_id order (not avg()) so codebook bits are independent
    of partial-agg merge order — the property that lets the downstream
    ADC query carry an exact DuckDB oracle (r5)."""
    from pyspark.sql import Window as W

    subs = _pq_subvectors(emb, "vec_id")
    seeds = (
        subs.filter(F.col("vec_id") < _PQ_K)
        .select("m", F.col("vec_id").alias("cid"), F.col("sv").alias("cvec"))
    )
    rk = W.partitionBy("vec_id", "m").orderBy("d2", "cid")
    asg = (
        subs.join(F.broadcast(seeds), "m")
        .select("vec_id", "m", "cid", _pq_d2().alias("d2"))
        .withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("vec_id", "m", "cid")
    )
    return (
        subs.join(asg, ["vec_id", "m"])
        .select("vec_id", "m", "cid", F.posexplode("sv").alias("dim", "x"))
        .groupBy("m", "cid", "dim")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(vec_id, x))), "
                "p -> p.x), CAST(0.0 AS DOUBLE), (acc, y) -> acc + y) / count(1)"
            ).alias("cx")
        )
        .groupBy("m", "cid")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("pairs"))
        .select("m", "cid", F.expr("transform(pairs, p -> p.cx)").alias("cvec"))
    )


_PQ_SHORTLIST = 50  # ADC shortlist depth fed into exact re-rank


def _pq_oracle() -> str:
    """Exact DuckDB twin of ``similarity_pq_adc_topk`` (r5: was
    rows-only). Subvector slicing, per-subspace Lloyd round, code
    assignment, ADC distance folds (m-ordered), shortlist cut, and the
    exact re-rank are all replayed with order-pinned sequential folds
    identical to the Spark plan's."""
    d, sd = 64, _PQ_SUBDIM

    def dot(a: str, b: str, n: int = d) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {n + 1}), "
            f"i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
        )

    def d2(a: str, b: str, n: int = sd) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {n + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (acc, x) -> acc + x)"
        )

    return f"""
        WITH emb AS MATERIALIZED (
            SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
            FROM embeddings
        ),
        nemb AS (
            SELECT vec_id, list_transform(v, x -> x / sqrt({dot("v", "v")})) AS nv
            FROM emb
        ),
        subs AS MATERIALIZED (
            SELECT vec_id, m, list_slice(nv, m * {sd} + 1, m * {sd} + {sd}) AS sv
            FROM nemb CROSS JOIN range(0, {_PQ_M}) t(m)
        ),
        seeds AS (
            SELECT m, vec_id AS cid, sv AS cvec FROM subs WHERE vec_id < {_PQ_K}
        ),
        asg AS (
            SELECT vec_id, m, cid FROM (
                SELECT s.vec_id, s.m, sd.cid, {d2("s.sv", "sd.cvec")} AS dist
                FROM subs s JOIN seeds sd USING (m)
            ) QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY dist, cid) = 1
        ),
        sdims AS (
            SELECT s.vec_id, s.m, a.cid, dim, s.sv[dim] AS x
            FROM subs s JOIN asg a USING (vec_id, m)
            CROSS JOIN range(1, {sd + 1}) t(dim)
        ),
        cd AS (
            SELECT m, cid, dim,
                   list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b)
                       / COUNT(*) AS cx
            FROM sdims GROUP BY m, cid, dim
        ),
        book AS MATERIALIZED (
            SELECT m, cid, list(cx ORDER BY dim) AS cvec FROM cd GROUP BY m, cid
        ),
        codes AS (
            SELECT vec_id AS neighbor_id, m, cid AS code FROM (
                SELECT s.vec_id, s.m, b.cid, {d2("s.sv", "b.cvec")} AS dist
                FROM subs s JOIN book b USING (m)
                WHERE s.vec_id >= {_N_QUERIES}
            ) QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY dist, cid) = 1
        ),
        qdist AS (
            SELECT s.vec_id AS query_id, s.m, b.cid AS code,
                   {d2("s.sv", "b.cvec")} AS dsub
            FROM subs s JOIN book b USING (m)
            WHERE s.vec_id < {_N_QUERIES}
        ),
        adc AS (
            SELECT q.query_id, c.neighbor_id,
                   list_reduce(list_prepend(0.0, list(q.dsub ORDER BY q.m)),
                               (a, b) -> a + b) AS approx_d2
            FROM codes c JOIN qdist q ON c.m = q.m AND c.code = q.code
            GROUP BY q.query_id, c.neighbor_id
        ),
        shortlist AS (
            SELECT query_id, neighbor_id, approx_d2 FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY approx_d2, neighbor_id) AS ark
                FROM adc
            ) WHERE ark <= {_PQ_SHORTLIST}
        ),
        qv AS (
            SELECT vec_id AS query_id, v AS q, sqrt({dot("v", "v")}) AS qnorm
            FROM emb WHERE vec_id < {_N_QUERIES}
        ),
        cv AS (
            SELECT vec_id AS neighbor_id, v AS c, sqrt({dot("v", "v")}) AS cnorm
            FROM emb WHERE vec_id >= {_N_QUERIES}
        ),
        rescored AS (
            SELECT s.query_id, s.neighbor_id, s.approx_d2,
                   {dot("q", "c")} / (qnorm * cnorm) AS cosine
            FROM shortlist s JOIN qv USING (query_id) JOIN cv USING (neighbor_id)
        )
        SELECT query_id, neighbor_id, approx_d2, cosine, CAST(rk AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rk
            FROM rescored
        )
        WHERE rk <= {_TOP_K}
    """


@register(
    "similarity_pq_adc_topk",
    oracle=_pq_oracle(),
    doc=(
        "Product-quantization ANN (the memory-scale tier of the ANN "
        "family, after LSH buckets and the IVF inverted file), in the "
        "production two-phase shape: each normalized embedding is "
        "stored as M=8 codes of 4 bits (a 64x compression of the "
        "64-dim float vector); queries scan CODES, scoring candidates "
        "by asymmetric distance — per-subspace query-to-centroid "
        "distances looked up from a broadcast M*K table — then the "
        "ADC top-50 shortlist alone is re-ranked with exact cosine "
        "over raw vectors. Codebook = deterministic seeds + one Lloyd "
        "round per subspace. At 100 TB the exhaustive phase touches 4 "
        "bytes/vector instead of 256, and raw vectors are read for "
        "only |Q|*50 rows. r5: codebook means and the 8-way ADC fold "
        "are order-pinned, upgrading this query from rows-only to an "
        "EXACT DuckDB oracle (full training + search unrolled as CTEs)."
    ),
    tags=("similarity", "llm", "ann", "topk"),
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    book = pq_codebook(spark, emb)
    cand = emb.filter(F.col("vec_id") >= _N_QUERIES)
    rk = W.partitionBy("vec_id", "m").orderBy("d2", "cid")
    codes = (
        _pq_subvectors(cand, "vec_id")
        .join(F.broadcast(book), "m")
        .select("vec_id", "m", "cid", _pq_d2().alias("d2"))
        .withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(F.col("vec_id").alias("neighbor_id"), "m", F.col("cid").alias("code"))
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    qdist = (
        _pq_subvectors(q, "vec_id")
        .join(F.broadcast(book), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            F.col("cid").alias("code"),
            _pq_d2().alias("d2"),
        )
    )
    # the 8 per-subspace distances fold in m order (not sum()) so the
    # approximate distance — and therefore the shortlist cut — is
    # bit-reproducible and oracle-able
    adc = (
        codes.join(F.broadcast(qdist), ["m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(m, d2))), "
                "p -> p.d2), CAST(0.0 AS DOUBLE), (acc, y) -> acc + y)"
            ).alias("approx_d2")
        )
    )
    adcw = W.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    shortlist = (
        adc.withColumn("ark", F.row_number().over(adcw))
        .filter(F.col("ark") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id", "approx_d2")
    )
    # exact re-rank: raw vectors are read for the shortlist rows only
    qv = q.select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")
    ).withColumn("qnorm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    cv = cand.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("cv")
    ).withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    rescored = (
        shortlist.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "approx_d2",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))).alias(
                "cosine"
            ),
        )
    )
    topw = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        rescored.withColumn("rank", F.row_number().over(topw))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "approx_d2", "cosine", "rank")
    )


_JL_IN_DIM = 64
_JL_OUT_DIM = 16


def _jl_signs() -> list[list[float]]:
    """Deterministic +/-1 sign matrix [out_dim][in_dim] from md5 parity —
    reproducible metadata, inlined as a literal on both engines (the
    IVF _cells_literal precedent)."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"jl:{i}:{j}".encode()).digest()[0] % 2 == 0
            else -1.0
            for i in range(1, _JL_IN_DIM + 1)
        ]
        for j in range(1, _JL_OUT_DIM + 1)
    ]


def _jl_matrix_sql() -> str:
    rows = ", ".join(
        "[" + ", ".join(str(x) for x in row) + "]" for row in _jl_signs()
    )
    return f"[{rows}]"


def _jl_matrix_spark() -> str:
    rows = ", ".join(
        "array(" + ", ".join(str(x) for x in row) + ")" for row in _jl_signs()
    )
    return f"array({rows})"


@register(
    "similarity_random_projection_jl",
    oracle=f"""
        WITH m AS (SELECT {_jl_matrix_sql()} AS s),
        proj AS (
            SELECT vec_id, label,
                   CAST(embedding AS DOUBLE[]) AS v,
                   list_transform(range(1, {_JL_OUT_DIM} + 1),
                       j -> list_reduce(
                                list_transform(range(1, {_JL_IN_DIM} + 1),
                                               i -> (CAST(embedding AS DOUBLE[]))[i] * s[j][i]),
                                (a, b) -> a + b) / 4.0) AS p
            FROM embeddings CROSS JOIN m
            WHERE vec_id < 100
        ),
        n AS (
            SELECT vec_id, label, p,
                   sqrt(list_dot_product(p, p)) AS proj_norm,
                   sqrt(list_dot_product(v, v)) AS orig_norm,
                   sqrt(list_dot_product(p, p)) / sqrt(list_dot_product(v, v))
                     AS norm_ratio
            FROM proj
        )
        SELECT vec_id, label, proj_norm, orig_norm, norm_ratio,
               CAST(r.range - 1 AS INT) AS dim,
               p[CAST(r.range AS INT)] AS coord
        FROM n CROSS JOIN range(1, {_JL_OUT_DIM} + 1) r
    """,
    doc=(
        "Johnson-Lindenstrauss random projection 64 -> 16 dims with a "
        "deterministic +/-1 sign matrix (Achlioptas' database-friendly "
        "construction, scaled by 1/sqrt(16)): the projection that makes "
        "downstream ANN 4x cheaper while approximately preserving "
        "pairwise distances. The matrix is md5-derived metadata inlined "
        "as a literal on both engines; each output coordinate is a "
        "sequential index-ascending fold, so the projected vectors are "
        "hash-exact. Map-only — zero shuffles at any corpus size; "
        "distance-preservation quality is separately bounded in pytest. "
        "Wire format: the projected vector crosses the driver boundary "
        "EXPLODED to one (dim, coord) row per coordinate — a raw "
        "array<double> column was the r6 driver red row (pandas "
        "canonicalizer TypeError), and doubles inside to_json render "
        "engine-specifically, so scalar rows are the only hash-exact "
        "encoding; ``random_projection_jl_vectors`` keeps the typed "
        "array as the library API."
    ),
    tags=("similarity", "llm", "ml"),
)
def similarity_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = random_projection_jl_vectors(spark, sf_dir)
    return vecs.select(
        "vec_id",
        "label",
        "proj_norm",
        "orig_norm",
        "norm_ratio",
        F.posexplode("projected").alias("dim", "coord"),
    )


def random_projection_jl_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library API: JL-projected vectors as ``array<double>`` plus norm
    diagnostics; the registered query explodes to scalar rows only to
    cross the driver wire."""
    t = Tables(spark, sf_dir)
    proj_expr = F.expr(
        f"transform(sequence(1, {_JL_OUT_DIM}), "
        "j -> aggregate("
        f"transform(sequence(1, {_JL_IN_DIM}), i -> element_at(v, i) * element_at(element_at(s, j), i)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / 4.0)"
    )
    base = t.embeddings.filter(F.col("vec_id") < 100).select(
        "vec_id",
        "label",
        _as_double("embedding").alias("v"),
        F.expr(_jl_matrix_spark()).alias("s"),
    )
    proj = base.select("vec_id", "label", "v", proj_expr.alias("p"))
    return proj.select(
        "vec_id",
        "label",
        F.col("p").alias("projected"),
        F.sqrt(_dot(F.col("p"), F.col("p"))).alias("proj_norm"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("orig_norm"),
        (F.sqrt(_dot(F.col("p"), F.col("p"))) / F.sqrt(_dot(F.col("v"), F.col("v")))).alias(
            "norm_ratio"
        ),
    )


def save_ivf_index(
    spark: SparkSession, emb: DataFrame, path: str, k: int = _IVF_K
) -> None:
    """Persist an IVF index as TWO tables: ``{path}/centroids`` (cid,
    cvec — K rows of metadata) and ``{path}/postings`` (vec_id, cell,
    nv — the inverted file, partitioned BY cell so a probe reads only
    its cells' files). Index build happens once; queries reload without
    retraining — the index-lifecycle contract of a vector store."""
    centroids = ivf_train(spark, emb)
    cells = _cells_literal(centroids)
    spark.createDataFrame(
        [(cid, vec) for cid, vec in centroids], "cid int, cvec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    vec = emb.select("vec_id", _normalize(_as_double("embedding")).alias("nv"))
    (
        vec.withColumn("cell", _nearest_cell(F.col("nv"), cells)["cid"])
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/postings")
    )


def query_ivf_index(
    spark: SparkSession,
    path: str,
    query_vecs: DataFrame,
    n_probe: int = 6,
    top_k: int = _TOP_K,
) -> DataFrame:
    """ANN search against a SAVED index: rank the K stored centroids per
    query (metadata work), probe the n_probe nearest cells — partition
    pruning means only those cells' posting files are read — and score
    candidates with exact cosine. No training, no full-corpus scan."""
    from pyspark.sql import Window as W

    centroids = spark.read.parquet(f"{path}/centroids").collect()
    cells = _cells_literal([(r["cid"], list(r["cvec"])) for r in centroids])
    q = query_vecs.select(
        F.col("vec_id").alias("query_id"),
        _normalize(_as_double("embedding")).alias("qv"),
    ).withColumn("cells", cells)
    probed = q.select(
        "query_id",
        "qv",
        F.explode(
            F.expr(
                "slice(transform(array_sort(transform(cells, c -> struct("
                "aggregate(zip_with(qv, c.cv, (x, y) -> (x - y) * (x - y)), "
                "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z) AS d, c.cid AS cid))), "
                f"s -> s.cid), 1, {n_probe})"
            )
        ).alias("cell"),
    )
    postings = spark.read.parquet(f"{path}/postings")
    scored = postings.join(F.broadcast(probed), "cell").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _dot(F.col("qv"), F.col("nv")).alias("cosine"),  # both sides unit-norm
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


_RBO_DEPTH = 50  # evaluation depth; p = 1/2 keeps every weight a dyadic exact double


@register(
    "similarity_rbo_lexical_vs_vector",
    oracle=f"""
        WITH {BM25_SCORED_CTES},
        lexr AS (
            SELECT doc_id, rl FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS rl
                FROM scored
            ) WHERE rl <= {_RBO_DEPTH}
        ),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id = 0),
        vecr AS (
            SELECT doc_id, rv FROM (
                SELECT vec_id AS doc_id,
                       row_number() OVER (ORDER BY
                           list_dot_product(qv, CAST(embedding AS DOUBLE[])) /
                           (sqrt(list_dot_product(qv, qv)) *
                            sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                  CAST(embedding AS DOUBLE[]))))
                           DESC, vec_id) AS rv
                FROM embeddings CROSS JOIN q
                WHERE vec_id != 0
            ) WHERE rv <= {_RBO_DEPTH}
        ),
        depths AS (SELECT unnest(range(1, {_RBO_DEPTH} + 1)) AS d),
        ovl AS (
            SELECT d,
                   (SELECT COUNT(*) FROM lexr l JOIN vecr v USING (doc_id)
                    WHERE l.rl <= d AND v.rv <= d) AS ov
            FROM depths
        ),
        terms AS (
            SELECT d, ov,
                   power(CAST(0.5 AS DOUBLE), d - 1)
                     * CAST(ov AS DOUBLE) / CAST(d AS DOUBLE) AS term
            FROM ovl
        )
        SELECT CAST(SUM(CASE WHEN d = {_RBO_DEPTH} THEN ov END) AS BIGINT)
                 AS overlap_at_depth,
               CAST(0.5 AS DOUBLE) *
               list_reduce(list(term ORDER BY d), (a, b) -> a + b) AS rbo
        FROM terms
    """,
    doc=(
        "Rank-biased overlap (p = 1/2) between the BM25 lexical "
        "ranking and the embedding-cosine ranking for the same query — "
        "the IR-evaluation statistic that says HOW MUCH hybrid fusion "
        "can add (disjoint lists -> RBO 0, identical -> 1). p = 1/2 "
        "makes every weight p^(d-1) a dyadic double and each term an "
        "exact product/quotient of integers; the 50-term sum is an "
        "order-pinned fold, so the statistic is hash-exact. Overlap "
        "counts come from one k-row join per depth over the two "
        "bounded top-50 lists — metadata work at any corpus size."
    ),
    tags=("similarity", "text", "retrieval", "eval"),
)
def similarity_rbo_lexical_vs_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .text import bm25_scored

    t = Tables(spark, sf_dir)
    lex = (
        bm25_scored(t)
        .orderBy(F.desc("score"), "doc_id")
        .limit(_RBO_DEPTH)
        .select(
            "doc_id",
            F.row_number().over(W.orderBy(F.desc("score"), "doc_id")).alias("rl"),
        )
    )
    emb = t.embeddings
    q = emb.filter(F.col("vec_id") == 0).select(
        _as_double("embedding").alias("qv")
    ).withColumn("qnorm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    vec = (
        emb.filter(F.col("vec_id") != 0)
        .select(F.col("vec_id").alias("doc_id"), _as_double("embedding").alias("cv"))
        .withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))).alias(
                "cos"
            ),
        )
        .orderBy(F.desc("cos"), "doc_id")
        .limit(_RBO_DEPTH)
        .select(
            "doc_id",
            F.row_number().over(W.orderBy(F.desc("cos"), "doc_id")).alias("rv"),
        )
    )
    joined = lex.join(vec, "doc_id").select("rl", "rv")
    depths = spark.range(1, _RBO_DEPTH + 1).select(F.col("id").alias("d"))
    # a pair is inside both depth-d prefixes iff max(rl, rv) <= d, so the
    # per-depth overlap is a running count over the (<= depth)-row grid.
    # LEFT join from the grid: fully disjoint lists must yield ov = 0 at
    # every depth (a cross join against the empty overlap set would drop
    # all depth rows and emit NULL — the DuckDB oracle says 0).
    firsts = joined.select(F.greatest("rl", "rv").alias("m")).groupBy("m").agg(
        F.count(F.lit(1)).alias("k")
    )
    w_cum = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)  # <= depth rows
    overlaps = (
        depths.join(F.broadcast(firsts), depths["d"] == firsts["m"], "left")
        .select("d", F.coalesce("k", F.lit(0)).alias("k"))
        .select("d", F.sum("k").over(w_cum).cast("bigint").alias("ov"))
    )
    terms = overlaps.select(
        "d",
        "ov",
        F.expr(
            "power(CAST(0.5 AS DOUBLE), d - 1) * CAST(ov AS DOUBLE) / CAST(d AS DOUBLE)"
        ).alias("term"),
    )
    return terms.agg(
        F.expr(
            f"CAST(SUM(CASE WHEN d = {_RBO_DEPTH} THEN ov END) AS BIGINT)"
        ).alias("overlap_at_depth"),
        F.expr(
            "CAST(0.5 AS DOUBLE) * aggregate(transform(array_sort("
            "collect_list(struct(d, term))), s -> s.term), "
            "CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("rbo"),
    )


_MMR_K = 5  # selections
_MMR_POOL = 12  # relevance-ranked candidate pool
_MMR_L = "CAST(0.7 AS DOUBLE)"  # lambda: relevance vs diversity trade-off


def _mmr_oracle_sql() -> str:
    """Unrolled DuckDB twin of the greedy MMR selection: one CTE per
    pick. Feasible to oracle exactly because every score is a shared
    IEEE expression over bit-identical cosines (list_dot_product ==
    the sequential F.aggregate fold — the established equivalence all
    vector oracles here rely on)."""
    head = f"""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
            WHERE vec_id = 0
        ),
        cand AS (
            SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS cv,
                   list_dot_product(qv, CAST(embedding AS DOUBLE[]))
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[]))))
                     AS rel
            FROM embeddings, q
            WHERE vec_id >= 5
            ORDER BY rel DESC, doc_id LIMIT {_MMR_POOL}
        ),
        pairs AS (
            SELECT a.doc_id AS a, b.doc_id AS b,
                   list_dot_product(a.cv, b.cv)
                     / (sqrt(list_dot_product(a.cv, a.cv))
                        * sqrt(list_dot_product(b.cv, b.cv))) AS sim
            FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
        ),
        s1 AS (
            SELECT 1 AS rank, doc_id, rel, rel AS mmr_score
            FROM cand ORDER BY rel DESC, doc_id LIMIT 1
        )"""
    steps, prev_sets = [], ["s1"]
    for i in range(2, _MMR_K + 1):
        sel_union = " UNION ALL ".join(f"SELECT doc_id FROM {s}" for s in prev_sets)
        steps.append(f"""
        s{i} AS (
            SELECT {i} AS rank, c.doc_id, c.rel,
                   {_MMR_L} * c.rel - (1 - {_MMR_L}) * MAX(p.sim) AS mmr_score
            FROM cand c JOIN pairs p ON p.a = c.doc_id
            WHERE p.b IN ({sel_union}) AND c.doc_id NOT IN ({sel_union})
            GROUP BY c.doc_id, c.rel
            ORDER BY mmr_score DESC, c.doc_id LIMIT 1
        )""")
        prev_sets.append(f"s{i}")
    tail = " UNION ALL ".join(
        f"SELECT rank, doc_id, rel AS relevance, mmr_score FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
    return head + "," + ",".join(steps) + "\n" + tail


@register(
    "similarity_mmr_diversified_topk",
    oracle=_mmr_oracle_sql(),
    doc=(
        "Maximal-marginal-relevance diversified retrieval: greedily "
        f"pick {_MMR_K} results from the top-{_MMR_POOL} relevance pool, each "
        "maximizing lambda*rel - (1-lambda)*max-sim-to-already-picked — "
        "the standard de-redundancy reranker for RAG context windows "
        "(pure cosine top-k returns near-duplicates; MMR trades "
        "relevance for coverage). Scale shape: the POOL is bounded by "
        "construction (any top-k retriever), so the sequential greedy "
        "runs over a broadcast-sized table — candidate scoring scans "
        "the corpus once, the k iterations touch only pool-grain "
        "DataFrames (no collect; each pick is a 1-row TakeOrdered). "
        "The oracle unrolls all picks as chained CTEs, so even the "
        "iterative selection is hash-verified, scores included."
    ),
    tags=("similarity", "llm", "rerank"),
)
def similarity_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(_as_double("embedding").alias("qv"))
        .withColumn("qn", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    )
    cand = (
        emb.filter(F.col("vec_id") >= 5)
        .select(F.col("vec_id").alias("doc_id"), _as_double("embedding").alias("cv"))
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            "cv",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.sqrt(_dot(F.col("cv"), F.col("cv"))))
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), "doc_id")
        .limit(_MMR_POOL)
        .localCheckpoint(eager=False)  # pool-sized; reused k+1 times
    )
    a = cand.select(F.col("doc_id").alias("a"), F.col("cv").alias("av"))
    b = cand.select(F.col("doc_id").alias("b"), F.col("cv").alias("bv"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            (
                _dot(F.col("av"), F.col("bv"))
                / (
                    F.sqrt(_dot(F.col("av"), F.col("av")))
                    * F.sqrt(_dot(F.col("bv"), F.col("bv")))
                )
            ).alias("sim"),
        )
        .localCheckpoint(eager=False)
    )
    picked = (
        cand.orderBy(F.desc("rel"), "doc_id")
        .limit(1)
        .select(
            F.lit(1).alias("rank"),
            "doc_id",
            F.col("rel").alias("relevance"),
            F.col("rel").alias("mmr_score"),
        )
    )
    out = picked
    for i in range(2, _MMR_K + 1):
        sel_ids = out.select("doc_id")
        scored = (
            cand.join(sel_ids.withColumnRenamed("doc_id", "b_sel"), how="cross")
            .join(
                pairs,
                (F.col("a") == F.col("doc_id")) & (F.col("b") == F.col("b_sel")),
            )
            .join(sel_ids, "doc_id", "left_anti")
            .groupBy("doc_id", "rel")
            .agg(F.max("sim").alias("max_sim"))
            .select(
                F.lit(i).alias("rank"),
                "doc_id",
                F.col("rel").alias("relevance"),
                F.expr(f"{_MMR_L} * rel - (1 - {_MMR_L}) * max_sim").alias(
                    "mmr_score"
                ),
            )
            .orderBy(F.desc("mmr_score"), "doc_id")
            .limit(1)
        )
        out = out.unionAll(scored)
    return out


_MARGIN_QUERIES = 32  # bounded probe set for the margin audit


@register(
    "similarity_same_vs_cross_label_margin",
    oracle=f"""
        WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < {_MARGIN_QUERIES}),
        c AS (SELECT vec_id AS cid, label AS clabel,
                     CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id >= {_MARGIN_QUERIES}),
        scored AS (
            SELECT qid, qlabel, clabel,
                   list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                       AS cosine
            FROM q CROSS JOIN c
        )
        SELECT qid AS query_id, qlabel AS label,
               MAX(CASE WHEN clabel = qlabel THEN cosine END) AS best_same,
               MAX(CASE WHEN clabel <> qlabel THEN cosine END) AS best_cross,
               MAX(CASE WHEN clabel = qlabel THEN cosine END)
                 - MAX(CASE WHEN clabel <> qlabel THEN cosine END) AS margin
        FROM scored
        GROUP BY qid, qlabel
    """,
    doc=(
        "Embedding-space discriminative margin: for each probe vector, "
        "the best same-label cosine minus the best cross-label cosine "
        "— positive means nearest-neighbor retrieval would label it "
        "correctly; the distribution of margins is the standard "
        "offline health check for a contrastively-trained embedding "
        "before it gates dedup or retrieval. Probes are a bounded "
        "broadcast set (the topk_cosine plan shape); MAX is a "
        "selection, not a fold, so the only float arithmetic is the "
        "per-pair sequential dot product both engines evaluate "
        "identically. One scan of the corpus side, no shuffle of "
        "fact-sized data — scales as brute-force kNN does, and the "
        "ANN operators (IVF/LSH tiers) take over past that."
    ),
    tags=("similarity", "llm", "quality"),
)
def similarity_same_vs_cross_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    emb = t.embeddings
    q = (
        emb.filter(F.col("vec_id") < _MARGIN_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            _as_double("embedding").alias("qv"),
        )
        .withColumn("qnorm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    )
    c = (
        emb.filter(F.col("vec_id") >= _MARGIN_QUERIES)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("label").alias("clabel"),
            _as_double("embedding").alias("cv"),
        )
        .withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "qlabel",
        "clabel",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm"))).alias(
            "cosine"
        ),
    )
    return scored.groupBy("query_id", F.col("qlabel").alias("label")).agg(
        F.expr("MAX(CASE WHEN clabel = qlabel THEN cosine END)").alias("best_same"),
        F.expr("MAX(CASE WHEN clabel <> qlabel THEN cosine END)").alias("best_cross"),
        F.expr(
            "MAX(CASE WHEN clabel = qlabel THEN cosine END)"
            " - MAX(CASE WHEN clabel <> qlabel THEN cosine END)"
        ).alias("margin"),
    )


@register(
    "similarity_topk_cosine_matmul",
    oracle=f"""
        WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < {_N_QUERIES}),
        c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id >= {_N_QUERIES}),
        scored AS (
            SELECT qid, cid,
                   list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                       AS cosine
            FROM q CROSS JOIN c
        ),
        ranked AS (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cosine DESC, cid) AS rank
            FROM scored
        )
        SELECT qid AS query_id, cid AS neighbor_id, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= {_TOP_K}
    """,
    doc=(
        "X3, second physical strategy: the same exact top-k as "
        "similarity_topk_cosine_exact, executed as Arrow-batched numpy "
        "matmul (one BLAS GEMM per batch against the broadcast 5x64 "
        "query block) with per-batch LOCAL top-k, then a global merge "
        "of batches*5*k survivors — the map-side-combine shape "
        "brute-force kNN takes at 100 TB, where shipping every "
        "candidate's score to one window is the bottleneck the "
        "JVM-fold strategy accepts. The shared oracle proves the two "
        "strategies produce the IDENTICAL ranking; the score column "
        "is deliberately absent from the contract because BLAS "
        "pairwise summation rounds differently than the sequential "
        "fold (same ranking, different last ulp — asserted non-tied "
        "at every test SF by the hash itself)."
    ),
    tags=("similarity", "llm", "topk", "udf"),
)
def similarity_topk_cosine_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    # bounded probe block (5 x 64) — the kmeans-centroid collect pattern
    qrows = (
        t.embeddings.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows:  # zero-row input: no probes, empty result, same schema
        from pyspark.sql.types import LongType, StructField, StructType

        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("query_id", LongType(), True),
                    StructField("neighbor_id", LongType(), True),
                    # row_number() is non-nullable in the real plan
                    StructField("rank", LongType(), False),
                ]
            ),
        )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def _score_batches(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            C = np.array(list(pdf["embedding"]), dtype=np.float64)
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            cn[cn == 0.0] = 1.0
            S = (C / cn) @ Qn.T  # (batch, n_queries) — one GEMM
            cids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out = []
            for j, qid in enumerate(qids):
                col = S[:, j]
                k = min(_TOP_K, len(col))
                # local top-k: argpartition finds the k-th boundary SCORE,
                # then every candidate tied at that boundary is kept and the
                # final cut is by the deterministic (score DESC, cid ASC)
                # composite — an exact cosine tie at the k-th slot must
                # resolve by neighbor_id exactly like the JVM-fold strategy
                # and the shared oracle (r3 ADVICE: argpartition alone
                # breaks boundary ties arbitrarily).
                part = np.argpartition(-col, k - 1)[:k]
                kth = col[part].min()
                cand = np.flatnonzero(col >= kth)
                cand = cand[np.lexsort((cids[cand], -col[cand]))]
                idx = cand[:k]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": cids[idx],
                            "cosine": col[idx],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    local = (
        t.embeddings.filter(F.col("vec_id") >= _N_QUERIES)
        .select("vec_id", "embedding")
        .mapInPandas(
            _score_batches, "query_id bigint, neighbor_id bigint, cosine double"
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))
    )


@register(
    "similarity_silhouette_centroid",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        dims AS (
            SELECT label, vec_id,
                   unnest(list_transform(range(1, len(v) + 1),
                          i -> struct_pack(dim := i, x := v[i]))) AS s
            FROM e
        ),
        d2 AS (SELECT label, vec_id, s.dim AS dim, s.x AS x FROM dims),
        cent AS (
            SELECT label, dim,
                   list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b)
                       / COUNT(*) AS cx
            FROM d2 GROUP BY label, dim
        ),
        cvec AS (
            SELECT label AS clabel, list(cx ORDER BY dim) AS centroid
            FROM cent GROUP BY label
        ),
        dist AS (
            SELECT e.vec_id, e.label, c.clabel,
                   sqrt(list_reduce(
                       list_transform(range(1, len(e.v) + 1),
                           i -> (e.v[i] - c.centroid[i])
                              * (e.v[i] - c.centroid[i])),
                       (a, b) -> a + b)) AS d
            FROM e CROSS JOIN cvec c
        ),
        ab AS (
            SELECT vec_id, label,
                   MAX(CASE WHEN clabel = label THEN d END) AS a_dist,
                   MIN(CASE WHEN clabel <> label THEN d END) AS b_dist
            FROM dist GROUP BY vec_id, label
        )
        SELECT vec_id, label, a_dist, b_dist,
               CASE WHEN greatest(a_dist, b_dist) = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE (b_dist - a_dist) / greatest(a_dist, b_dist)
               END AS silhouette
        FROM ab
    """,
    doc=(
        "Simplified (centroid-based) silhouette per vector: a = "
        "euclidean distance to the OWN label centroid, b = distance "
        "to the nearest OTHER centroid, s = (b-a)/max(a,b) — the "
        "standard clustering-quality diagnostic at corpus scale, "
        "where the classic all-pairs silhouette is quadratic and the "
        "centroid form is the one actually computable (k centroids "
        "instead of n neighbors per point). Centroids use the "
        "posexplode per-dimension ordered-fold pattern (bit-identical "
        "to the oracle's list_reduce in vec_id order); distances fold "
        "dims left-to-right with one correctly-rounded sqrt, so the "
        "whole query is hash-exact. The 10-row centroid table is a "
        "whitelisted bounded broadcast; per-point work is k "
        "fold-distances, map-side. Negative s flags points closer to "
        "a foreign cluster — the dedup-representative and label-"
        "audit signal."
    ),
    tags=("similarity", "llm", "stats"),
)
def similarity_silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "label", _as_double("embedding").alias("v"))

    dims = emb.select("label", "vec_id", F.posexplode("v").alias("dim0", "x")).select(
        "label", "vec_id", (F.col("dim0") + 1).alias("dim"), "x"
    )
    centroids = (
        dims.groupBy("label", "dim")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(vec_id, x))), "
                "p -> p.x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / count(1)"
            ).alias("cx")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("pairs"))
        .select(
            F.col("label").alias("clabel"),
            F.expr("transform(pairs, p -> p.cx)").alias("centroid"),
        )
    )
    dist = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "label",
        "clabel",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("v"), F.col("centroid"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("d"),
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.expr("MAX(CASE WHEN clabel = label THEN d END)").alias("a_dist"),
        F.expr("MIN(CASE WHEN clabel <> label THEN d END)").alias("b_dist"),
    )
    return ab.selectExpr(
        "vec_id",
        "label",
        "a_dist",
        "b_dist",
        "CASE WHEN greatest(a_dist, b_dist) = 0 THEN CAST(0.0 AS DOUBLE)"
        "     ELSE (b_dist - a_dist) / greatest(a_dist, b_dist)"
        " END AS silhouette",
    )


_COS_HIST_BLOCK = 48  # sample block: 48*47/2 = 1128 pairs — diagnostic-sized
_COS_HIST_BINS = 20


@register(
    "similarity_pairwise_cosine_histogram",
    oracle=f"""
        WITH s AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < {_COS_HIST_BLOCK}
        ),
        n AS (
            SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM s
        ),
        pairs AS (
            SELECT LEAST(CAST(floor((list_dot_product(a.v, b.v)
                                     / (a.nrm * b.nrm) + 1.0) * 10.0)
                              AS BIGINT), {_COS_HIST_BINS - 1}) AS bucket
            FROM n a JOIN n b ON a.vec_id < b.vec_id
        )
        SELECT bucket,
               CAST(bucket AS DOUBLE) / 10.0 - 1.0 AS cos_lo,
               CAST(bucket + 1 AS DOUBLE) / 10.0 - 1.0 AS cos_hi,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY bucket
    """,
    doc=(
        "Pairwise-cosine histogram over a deterministic sample block "
        "(first 48 vectors, 1128 pairs; 20 bins on [-1, 1]): the "
        "embedding-space GEOMETRY diagnostic — a healthy corpus puts "
        "mass near 0 with a thin positive tail; a collapsed encoder "
        "(anisotropy, the classic contrastive-training failure) piles "
        "everything above 0.8, and that shows up here before any "
        "downstream ANN recall mysteriously saturates. Cosines use the "
        "same order-deterministic zip_with fold as the exact top-k "
        "tier, norms precomputed per side; the bucket index is "
        "floor((cos+1)*10) — floor, never CAST(double AS BIGINT), "
        "whose round-half-even vs truncate semantics differ between "
        "engines — clamped so cos = 1.0 lands in the top bin. The "
        "all-pairs join is bounded by the block constant (a DIAGNOSTIC "
        "on a sample, like the silhouette op — at 100 TB you histogram "
        "a per-partition sample union, not the corpus); the histogram "
        "itself reduces to <= 20 rows map-side."
    ),
    tags=("similarity", "llm", "quality"),
)
def similarity_pairwise_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    s = t.embeddings.filter(F.col("vec_id") < _COS_HIST_BLOCK).select(
        "vec_id", _as_double("embedding").alias("v")
    )
    n = s.withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    a = n.select(
        F.col("vec_id").alias("ida"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("idb"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(F.broadcast(b), F.col("ida") < F.col("idb"))
        .select(
            F.least(
                F.floor((cos + F.lit(1.0)) * F.lit(10.0)).cast("bigint"),
                F.lit(_COS_HIST_BINS - 1),
            ).alias("bucket")
        )
    )
    return pairs.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    ).select(
        "bucket",
        F.expr("CAST(bucket AS DOUBLE) / 10.0 - 1.0").alias("cos_lo"),
        F.expr("CAST(bucket + 1 AS DOUBLE) / 10.0 - 1.0").alias("cos_hi"),
        "n_pairs",
    )


@register(
    "similarity_ann_recall_report",
    oracle=f"""
        WITH ex AS (SELECT * FROM ({_TOPK_EXACT_ORACLE})),
        lsh AS (SELECT * FROM ({{lsh}})),
        hits AS (
            SELECT e.query_id,
                   CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits
            FROM ex e
            LEFT JOIN lsh l
              ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
            GROUP BY e.query_id
        )
        SELECT query_id, n_hits,
               CAST(n_hits AS DOUBLE) / {_TOP_K}.0 AS recall_at_k
        FROM hits
    """.format(lsh=_ann_lsh_oracle()),
    doc=(
        "ANN quality evaluation as an OPERATOR: per-query recall@k of "
        "the LSH tier against the exact brute-force top-k (ground "
        "truth) — the measurement every vector-index deployment runs "
        "before trusting approximate retrieval, here productized "
        "instead of living only in pytest. Spark side composes the two "
        "registered retrieval plans and left-joins exact->approx on "
        "(query, neighbor); the oracle nests BOTH tiers' full oracle "
        "SQL (the exact text and the embedded-hyperplane LSH twin) as "
        "subqueries and replays the same join — so the recall numbers "
        "are themselves hash-exact, not just plausible. The join is "
        "bounded by |queries| x k rows; at corpus scale the exact arm "
        "runs on a sampled query set (as here: the 5-query block) "
        "because ground truth is the expensive side."
    ),
    tags=("similarity", "llm", "ann", "quality"),
)
def similarity_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = similarity_topk_cosine_exact(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = similarity_ann_lsh(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("got_id")
    )
    hits = (
        exact.join(
            approx,
            (exact["query_id"] == approx["query_id"])
            & (exact["neighbor_id"] == approx["got_id"]),
            "left",
        )
        .select(exact["query_id"], "got_id")
        .groupBy("query_id")
        .agg(F.count("got_id").cast("bigint").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        "n_hits",
        (F.col("n_hits").cast("double") / F.lit(float(_TOP_K))).alias("recall_at_k"),
    )


@register(
    "similarity_centroid_drift_split",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, CAST(vec_id % 2 AS INT) AS half,
                   CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        dims AS (
            SELECT label, half, vec_id,
                   unnest(list_transform(range(1, len(v) + 1),
                          i -> struct_pack(dim := i, x := v[i]))) AS s
            FROM e
        ),
        d2 AS (SELECT label, half, vec_id, s.dim AS dim, s.x AS x FROM dims),
        cent AS (
            SELECT label, half, dim,
                   list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b)
                       / COUNT(*) AS cx,
                   COUNT(*) AS n
            FROM d2 GROUP BY label, half, dim
        ),
        cvec AS (
            SELECT label, half, list(cx ORDER BY dim) AS centroid,
                   MAX(n) AS n
            FROM cent GROUP BY label, half
        ),
        paired AS (
            SELECT a.label, a.n AS n_even, b.n AS n_odd,
                   a.centroid AS ca, b.centroid AS cb
            FROM cvec a JOIN cvec b ON a.label = b.label
                                   AND a.half = 0 AND b.half = 1
        )
        SELECT label, CAST(n_even AS BIGINT) AS n_even,
               CAST(n_odd AS BIGINT) AS n_odd,
               sqrt(list_dot_product(ca, ca) - 2 * list_dot_product(ca, cb)
                    + list_dot_product(cb, cb)) AS l2_drift,
               list_dot_product(ca, cb)
                   / (sqrt(list_dot_product(ca, ca))
                      * sqrt(list_dot_product(cb, cb))) AS cosine_sim
        FROM paired
        ORDER BY label
    """,
    doc=(
        "X3: embedding-centroid drift between two deterministic halves "
        "of each label (vec_id parity = the two-snapshot stand-in) — "
        "the monitoring query an embedding pipeline runs when the "
        "encoder is retrained or the corpus refreshes: has each "
        "class's centroid MOVED (L2 drift) or ROTATED (cosine)? "
        "Centroids reuse the scalable dense-centroid pattern "
        "(per-dimension posexplode, one shuffle on (label, half, "
        "dim)) with the vec_id-ordered sequential fold instead of "
        "avg(), so every mean is bit-identical to the oracle's "
        "ordered list_reduce; the L2 uses the expanded "
        "a.a - 2a.b + b.b form so both engines evaluate the same "
        "three dot products. Hash-exact, like the label-centroid "
        "agreement query this extends."
    ),
    tags=("similarity", "llm", "drift"),
)
def similarity_centroid_drift_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id",
        "label",
        F.expr("CAST(vec_id % 2 AS INT)").alias("half"),
        _as_double("embedding").alias("v"),
    )
    dims = emb.select(
        "label", "half", "vec_id", F.posexplode("v").alias("dim0", "x")
    ).select("label", "half", "vec_id", (F.col("dim0") + 1).alias("dim"), "x")
    cent = (
        dims.groupBy("label", "half", "dim")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(vec_id, x))), "
                "p -> p.x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / count(1)"
            ).alias("cx"),
            F.count(F.lit(1)).alias("n"),
        )
        .groupBy("label", "half")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("pairs"),
            F.max("n").alias("n"),
        )
        .select(
            "label", "half", F.expr("transform(pairs, p -> p.cx)").alias("centroid"), "n"
        )
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", F.col("centroid").alias("ca"), F.col("n").alias("n_even")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", F.col("centroid").alias("cb"), F.col("n").alias("n_odd")
    )
    paired = a.join(b, "label")
    dot = _dot
    return paired.select(
        "label",
        F.col("n_even").cast("bigint").alias("n_even"),
        F.col("n_odd").cast("bigint").alias("n_odd"),
        F.sqrt(
            dot(F.col("ca"), F.col("ca"))
            - 2 * dot(F.col("ca"), F.col("cb"))
            + dot(F.col("cb"), F.col("cb"))
        ).alias("l2_drift"),
        (
            dot(F.col("ca"), F.col("cb"))
            / (
                F.sqrt(dot(F.col("ca"), F.col("ca")))
                * F.sqrt(dot(F.col("cb"), F.col("cb")))
            )
        ).alias("cosine_sim"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# Round-7 addition (SURVEY §2.17 X3s): 1-bit (sign) embedding
# quantization + exact Hamming top-k over the packed signatures.
# ---------------------------------------------------------------------------

_SIGN_Q = 8  # query block: vec_id < 8, the exact-topk precedent
_SIGN_K = 10


def _sign_word_spark(lo: int, hi: int) -> str:
    """Spark expr: pack dims lo..hi (1-based, inclusive) into a BIGINT."""
    return (
        f"aggregate(transform(sequence({lo}, {hi}), "
        f"i -> IF(element_at(v, i) > CAST(0.0 AS DOUBLE), "
        f"shiftleft(CAST(1 AS BIGINT), i - {lo}), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )


def _sign_word_duck(lo: int, hi: int) -> str:
    return (
        f"list_reduce(list_transform(range({lo}, {hi} + 1), "
        f"i -> CASE WHEN (CAST(embedding AS DOUBLE[]))[CAST(i AS INT)] > 0.0 "
        f"THEN (1::BIGINT << CAST(i - {lo} AS INT)) ELSE 0::BIGINT END), "
        "(a, b) -> a + b)"
    )


@register(
    "similarity_sign_hamming_topk",
    oracle=f"""
        WITH sig AS (
            SELECT vec_id,
                   {_sign_word_duck(1, 32)} AS w_lo,
                   {_sign_word_duck(33, 64)} AS w_hi
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, w_lo AS q_lo, w_hi AS q_hi
              FROM sig WHERE vec_id < {_SIGN_Q}),
        d AS (
            SELECT query_id, vec_id AS neighbor_id,
                   CAST(bit_count(xor(q_lo, w_lo))
                        + bit_count(xor(q_hi, w_hi)) AS BIGINT) AS hamming
            FROM q JOIN sig ON vec_id <> query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, hamming,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY hamming, neighbor_id) AS rank
            FROM d
        )
        SELECT query_id, neighbor_id, hamming, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= {_SIGN_K}
        ORDER BY query_id, rank
    """,
    doc=(
        "X3s: 1-bit sign quantization + Hamming-distance top-k — the "
        "64x storage cut below even int8 quantization: each embedding "
        "packs to two 32-bit sign words (the array-of-words signature "
        "layout; a 64-bit word would overflow DuckDB's shift), and "
        "candidate distance is two XOR popcounts — the retrieval "
        "pattern behind binary-embedding ANN at 100 TB, where the "
        "signature table fits in memory 64x earlier than the floats. "
        "Query block broadcast (vec_id < 8, the exact-topk precedent); "
        "top-10 per query with the (hamming, neighbor_id) tiebreak. "
        "Bit-exact on both engines; sign(0) pins to the zero bit."
    ),
    tags=("similarity", "llm", "approx", "topk"),
)
def similarity_sign_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    sig = t.embeddings.select(
        "vec_id", _as_double("embedding").alias("v")
    ).select(
        "vec_id",
        F.expr(_sign_word_spark(1, 32)).alias("w_lo"),
        F.expr(_sign_word_spark(33, 64)).alias("w_hi"),
    )
    q = sig.filter(F.col("vec_id") < _SIGN_Q).select(
        F.col("vec_id").alias("query_id"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
    )
    d = (
        sig.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.expr("bit_count(q_lo ^ w_lo)") + F.expr("bit_count(q_hi ^ w_hi)")
            )
            .cast("bigint")
            .alias("hamming"),
        )
    )
    wr = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        d.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= _SIGN_K)
        .orderBy("query_id", "rank")
    )


_HAM_PREFILTER = 50  # stage-1 candidate pool per query


@register(
    "similarity_hamming_prefilter_rerank",
    oracle=f"""
        WITH sig AS (
            SELECT vec_id,
                   CAST(embedding AS DOUBLE[]) AS v,
                   {_sign_word_duck(1, 32)} AS w_lo,
                   {_sign_word_duck(33, 64)} AS w_hi
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, v AS qv, w_lo AS q_lo, w_hi AS q_hi
              FROM sig WHERE vec_id < {_SIGN_Q}),
        d AS (
            SELECT query_id, qv, vec_id AS neighbor_id, v AS cv,
                   CAST(bit_count(xor(q_lo, w_lo))
                        + bit_count(xor(q_hi, w_hi)) AS BIGINT) AS hamming
            FROM q JOIN sig ON vec_id <> query_id
        ),
        pool AS (
            SELECT query_id, neighbor_id, qv, cv, hamming,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY hamming, neighbor_id) AS hrank
            FROM d
        ),
        rescored AS (
            SELECT query_id, neighbor_id, hamming,
                   list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(cv, cv))) AS cosine
            FROM pool WHERE hrank <= {_HAM_PREFILTER}
        )
        SELECT query_id, neighbor_id, hamming, cosine,
               CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id)
                        AS rank
            FROM rescored
        )
        WHERE rank <= {_SIGN_K}
        ORDER BY query_id, rank
    """,
    doc=(
        "X3t: two-stage retrieval with a 1-bit prefilter — stage 1 "
        "ranks ALL candidates by packed-sign Hamming distance (two XOR "
        "popcounts on the 64x-compressed signatures) and keeps a "
        "50-candidate pool per query; stage 2 rescores ONLY the pool "
        "with exact double-precision cosine and keeps the top-10: the "
        "cheap-filter/exact-rerank cascade that makes binary "
        "signatures production-useful at 100 TB (the float vectors are "
        "touched for 50 rows per query, not the corpus). Both stages "
        "deterministic ((hamming, id) and (cosine DESC, id) "
        "tiebreaks), so the full cascade is hash-exact; the cosine "
        "fold matches DuckDB's list_dot_product order like the exact "
        "tier. Stage-1 recall vs the exact top-k is asserted in "
        "tests/test_llm_ops.py."
    ),
    tags=("similarity", "llm", "approx", "topk"),
)
def similarity_hamming_prefilter_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    sig = t.embeddings.select(
        "vec_id", _as_double("embedding").alias("v")
    ).select(
        "vec_id",
        "v",
        F.expr(_sign_word_spark(1, 32)).alias("w_lo"),
        F.expr(_sign_word_spark(33, 64)).alias("w_hi"),
    )
    q = sig.filter(F.col("vec_id") < _SIGN_Q).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
    )
    d = sig.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "qv",
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        (F.expr("bit_count(q_lo ^ w_lo)") + F.expr("bit_count(q_hi ^ w_hi)"))
        .cast("bigint")
        .alias("hamming"),
    )
    wh = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    pool = d.withColumn("hrank", F.row_number().over(wh)).filter(
        F.col("hrank") <= _HAM_PREFILTER
    )
    rescored = pool.select(
        "query_id",
        "neighbor_id",
        "hamming",
        (
            _dot(F.col("qv"), F.col("cv"))
            / (
                F.sqrt(_dot(F.col("qv"), F.col("qv")))
                * F.sqrt(_dot(F.col("cv"), F.col("cv")))
            )
        ).alias("cosine"),
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        rescored.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= _SIGN_K)
        .orderBy("query_id", "rank")
    )


# --- X3o: int8 embedding quantization audit (r9) ----------------------------

#: reconstruction-error histogram bucket width (squared-L2 units)
_INT8_BUCKET = 0.00001


@register(
    "similarity_int8_quantization_audit",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id,
                   list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
            FROM embeddings
        ),
        scaled AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, e -> abs(e))) / 127.0 AS s
            FROM emb
        ),
        q AS (
            SELECT vec_id, s,
                   CAST(len(list_filter(v, e -> s > 0 AND
                        (floor(e / s + 0.5) > 127 OR floor(e / s + 0.5) < -127)))
                        AS BIGINT) AS n_clipped,
                   CASE WHEN s = 0 THEN 0.0 ELSE
                        list_reduce(list_prepend(0.0, list_transform(v, e ->
                            (e - least(greatest(floor(e / s + 0.5), -127.0),
                                       127.0) * s)
                          * (e - least(greatest(floor(e / s + 0.5), -127.0),
                                       127.0) * s))),
                          (acc, x) -> acc + x) END AS err
            FROM scaled
        )
        SELECT CAST(floor(err / {_INT8_BUCKET!r}) AS BIGINT) AS err_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(n_clipped) AS BIGINT) AS n_clipped_total
        FROM q
        GROUP BY 1
        ORDER BY err_bucket
    """,
    doc=(
        "X3o: int8 embedding quantization audit (r8 verdict optional "
        "#8) — the storage-shrink QA step before serving a 100 TB "
        "vector corpus at 4x compression: per vector, symmetric "
        "absmax scaling (scale = max|x|/127, zero point 0), quantize "
        "q_i = clip(floor(x_i/scale + 0.5), ±127), reconstruct "
        "q_i*scale, and report the squared-L2 reconstruction-error "
        "HISTOGRAM plus the clip count (structurally zero under "
        "per-vector absmax — |x_i/scale| <= 127 by construction; the "
        "audit PROVES the no-clipping property rather than assuming "
        "it, and the counter is the tripwire for any future shared- "
        "or per-corpus scale variant). Everything is row-local "
        "higher-order array functions — map-only until one bounded "
        "groupBy on the error bucket — and the output is all-integer: "
        "the float math only decides bucket membership, and every op "
        "in it (one division, floor, clip, multiply, an ORDER-PINNED "
        "left-to-right error fold — aggregate in Spark, ordered "
        "list_reduce in DuckDB, the X3d label-centroid contract) is "
        "the identical IEEE expression tree in both engines, so the "
        "histogram is hash-exact. floor(x+0.5) replaces round() "
        "deliberately: Spark HALF_UPs, DuckDB banker's-rounds, and "
        "this audit refuses to inherit that divergence."
    ),
    tags=("similarity", "llm", "quantization"),
)
def similarity_int8_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    v = F.expr("transform(embedding, e -> CAST(e AS DOUBLE))")
    scaled = t.embeddings.select(
        "vec_id",
        v.alias("v"),
    ).select(
        "vec_id",
        "v",
        (
            F.expr("array_max(transform(v, e -> abs(e)))") / F.lit(127.0)
        ).alias("s"),
    )
    qexpr = "least(greatest(floor(e / s + 0.5), -127.0D), 127.0D)"
    q = scaled.select(
        "vec_id",
        F.expr(
            "CAST(size(filter(v, e -> s > 0 AND"
            " (floor(e / s + 0.5) > 127 OR floor(e / s + 0.5) < -127)))"
            " AS BIGINT)"
        ).alias("n_clipped"),
        F.expr(
            "CASE WHEN s = 0 THEN 0.0D ELSE"
            f" aggregate(transform(v, e -> (e - {qexpr} * s)"
            f" * (e - {qexpr} * s)),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) END"
        ).alias("err"),
    )
    return (
        q.groupBy(
            F.expr(f"CAST(floor(err / {_INT8_BUCKET!r}) AS BIGINT)").alias(
                "err_bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("n_clipped").cast("bigint").alias("n_clipped_total"),
        )
        .orderBy("err_bucket")
    )


# --- X3u: threshold range search + recall report (r9) -----------------------

_RANGE_TAU = "0.25e0"   # cosine threshold, e0-pinned
_RANGE_HAM = 26         # stage-1 Hamming radius over the 64-bit signs


@register(
    "similarity_range_search_recall",
    oracle=f"""
        WITH sig AS (
            SELECT vec_id,
                   CAST(embedding AS DOUBLE[]) AS v,
                   {_sign_word_duck(1, 32)} AS w_lo,
                   {_sign_word_duck(33, 64)} AS w_hi
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, v AS qv, w_lo AS q_lo, w_hi AS q_hi
              FROM sig WHERE vec_id < {_SIGN_Q}),
        d AS (
            SELECT query_id, vec_id AS neighbor_id,
                   CAST(bit_count(xor(q_lo, w_lo))
                        + bit_count(xor(q_hi, w_hi)) AS BIGINT) AS hamming,
                   list_dot_product(qv, v)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(v, v))) AS cosine
            FROM q JOIN sig ON vec_id <> query_id
        )
        SELECT query_id,
               CAST(SUM(CASE WHEN cosine >= CAST({_RANGE_TAU} AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
               CAST(SUM(CASE WHEN hamming <= {_RANGE_HAM} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_probed,
               CAST(SUM(CASE WHEN hamming <= {_RANGE_HAM}
                              AND cosine >= CAST({_RANGE_TAU} AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_retrieved,
               CASE WHEN SUM(CASE WHEN cosine >= CAST({_RANGE_TAU} AS DOUBLE)
                                  THEN 1 ELSE 0 END) = 0 THEN 1.0
                    ELSE CAST(SUM(CASE WHEN hamming <= {_RANGE_HAM}
                                        AND cosine >= CAST({_RANGE_TAU} AS DOUBLE)
                                       THEN 1 ELSE 0 END) AS DOUBLE)
                         / CAST(SUM(CASE WHEN cosine >= CAST({_RANGE_TAU} AS DOUBLE)
                                         THEN 1 ELSE 0 END) AS DOUBLE) END
                   AS recall
        FROM d
        GROUP BY query_id
        ORDER BY query_id
    """,
    doc=(
        "X3u: threshold RANGE search with a recall report — the "
        "'all neighbors above cosine tau' retrieval mode (dedup "
        "candidate generation, near-duplicate fences) as opposed to "
        "the top-k family: stage 1 keeps candidates within Hamming "
        "radius 26 of the query's 64-bit sign signature (two XOR "
        "popcounts on the 64x-compressed table), stage 2 verifies "
        "exact cosine >= tau, and the report scores stage-1 recall "
        "against the bounded exact truth per query — precision is 1 "
        "by construction (every retrieved pair is exactly verified), "
        "so the ONE number that matters is how much the radius "
        "missed. At 100 TB the signature prefilter is the only "
        "corpus-wide pass; the float vectors are touched for the "
        "probed pool only; the exact-truth column is the bounded "
        "query-block audit (the ANN recall-report contract). Cosine "
        "folds match list_dot_product order (the exact-tier "
        "contract); counts are integers, recall one shared division, "
        "empty truth pinned to recall = 1."
    ),
    tags=("similarity", "llm", "approx"),
)
def similarity_range_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    sig = t.embeddings.select(
        "vec_id", _as_double("embedding").alias("v")
    ).select(
        "vec_id",
        "v",
        F.expr(_sign_word_spark(1, 32)).alias("w_lo"),
        F.expr(_sign_word_spark(33, 64)).alias("w_hi"),
    )
    q = sig.filter(F.col("vec_id") < _SIGN_Q).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
    )
    d = sig.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        (
            F.expr("bit_count(q_lo ^ w_lo)") + F.expr("bit_count(q_hi ^ w_hi)")
        )
        .cast("bigint")
        .alias("hamming"),
        (
            _dot("qv", "v")
            / (F.sqrt(_dot("qv", "qv")) * F.sqrt(_dot("v", "v")))
        ).alias("cosine"),
    )
    tau = f"CAST({_RANGE_TAU} AS DOUBLE)"
    return (
        d.groupBy("query_id")
        .agg(
            F.sum(F.expr(f"CASE WHEN cosine >= {tau} THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_true"),
            F.sum(
                F.expr(f"CASE WHEN hamming <= {_RANGE_HAM} THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_probed"),
            F.sum(
                F.expr(
                    f"CASE WHEN hamming <= {_RANGE_HAM} AND cosine >= {tau}"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_retrieved"),
        )
        .select(
            "query_id",
            "n_true",
            "n_probed",
            "n_retrieved",
            F.expr(
                "CASE WHEN n_true = 0 THEN 1.0 ELSE"
                " CAST(n_retrieved AS DOUBLE) / CAST(n_true AS DOUBLE) END"
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Retrieval-quality eval harness (r10, SURVEY §2.20): MRR@10,
# precision@k / recall@k, and NDCG@10 of every registered ANN cascade
# against the exact-cosine ground truth — the step a real RAG/retrieval
# pipeline runs after similarity_ann_recall_report, productized as
# operators (reference surface: the dashboard's quality rollups,
# lambda-analytics.py:61-99, generalized to ranking quality).
#
# Eval protocol (trec_eval conventions): the judged task is the exact
# tier's — queries vec_id < 5, corpus vec_id >= 5, qrels = exact cosine
# top-10. Every run is first restricted to that task (sign-Hamming
# retrieves for 8 queries over ALL other vectors; rows outside the
# judged pool drop and surviving ranks re-number — the standard
# "filter run to judged corpus" step), then scored. All metrics keep
# an integer core: hit counts are integers; MRR uses rr*2520 (2520 =
# lcm(1..10), so every reciprocal rank is an exact integer); NDCG's
# only floats are the 10 shared literal discounts 1/log2(rank+1) —
# e0-pinned doubles folded left-to-right by ONE expression string used
# verbatim in both engines (ln/log never evaluated at query time).
# ---------------------------------------------------------------------------

#: (system label, registered run) — every ANN cascade in the registry
# --- X3z: HNSW-lite graph ANN — bounded beam search (r11, verdict #6) ------

_BEAM_M = 8  # out-degree of the neighbor graph
_BEAM_B = 12  # beam width per query
_BEAM_H = 3  # unrolled hops
_BEAM_ENTRY_STRIDE = 50  # entry points: every 50th corpus node


def _beam_graph_edges(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """The navigable neighbor graph: top-M cosine out-edges per corpus
    node, candidates from the LSH bucket join (sub-quadratic — the
    NN-descent stand-in; a full exact k-NN graph build would be the
    all-pairs scan this cascade exists to avoid)."""
    from pyspark.sql import Window as W

    buckets = lsh_buckets(spark, emb)
    corpus_b = buckets.filter(F.col("vec_id") >= _N_QUERIES)
    # r11 optimization (guide §1.2): cosine is symmetric — elementwise
    # products commute and the fold order over indices is identical —
    # so score each UNORDERED candidate pair once (src < dst halves the
    # bucket join output and the distinct) and mirror the scored rows
    # to recover both directed edges. Same w bit-for-bit per direction.
    cand = (
        corpus_b.selectExpr("vec_id AS src", "table_id", "bucket")
        .join(
            corpus_b.selectExpr("vec_id AS dst", "table_id", "bucket"),
            ["table_id", "bucket"],
        )
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    cv = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        "vec_id", _as_double("embedding").alias("v")
    ).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    scored_u = (
        cand.join(cv.selectExpr("vec_id AS src", "v AS sv", "norm AS sn"), "src")
        .join(cv.selectExpr("vec_id AS dst", "v AS dv", "norm AS dn"), "dst")
        .select(
            "src",
            "dst",
            (
                _dot(F.col("sv"), F.col("dv"))
                / (F.col("sn") * F.col("dn"))
            ).alias("w"),
        )
    )
    # materialize the half-pair scores once — a plain union would plan
    # (and execute) the scoring subtree in BOTH branches, undoing the
    # halving; the caller's edge checkpoint then reads the mirror free
    scored_u = scored_u.localCheckpoint(eager=True)
    scored = scored_u.unionByName(
        scored_u.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    wsrc = W.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    return (
        scored.withColumn("rk", F.row_number().over(wsrc))
        .filter(F.col("rk") <= _BEAM_M)
        .select("src", "dst")
    )


def _beam_oracle() -> str:
    """Exact DuckDB twin of ``similarity_ann_beam_graph``: the seed-42
    plane constants, the LSH-candidate neighbor graph, and every beam
    hop unrolled as its own CTE pair (visited_i / beam_i)."""
    import numpy as np

    rng = np.random.default_rng(42)
    planes = rng.standard_normal((_LSH_TABLES, _LSH_PLANES, 64))
    rows = ", ".join(
        f"({t}, {p}, [{', '.join(repr(float(x)) for x in planes[t, p])}]::DOUBLE[])"
        for t in range(_LSH_TABLES)
        for p in range(_LSH_PLANES)
    )

    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
            f"i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
        )

    hops = []
    for h in range(1, _BEAM_H + 1):
        hops.append(f"""
        front{h} AS (
            SELECT DISTINCT b.query_id, e.dst AS node
            FROM beam{h - 1} b JOIN edges e ON e.src = b.node
        ),
        fs{h} AS (
            SELECT f.query_id, f.node,
                   {dot('qv.q', 'cv.c')} / (qv.qnorm * cv.cnorm) AS cosine
            FROM front{h} f
            JOIN qv ON qv.query_id = f.query_id
            JOIN cv ON cv.node = f.node
        ),
        visited{h} AS (
            SELECT DISTINCT * FROM (
                SELECT * FROM visited{h - 1}
                UNION ALL SELECT * FROM fs{h})
        ),
        beam{h} AS (
            SELECT query_id, node, cosine FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, node ASC) AS rk
                FROM visited{h})
            WHERE rk <= {_BEAM_B}
        )""")
    return f"""
        WITH planes(table_id, plane_id, plane) AS (VALUES {rows}),
        emb AS MATERIALIZED (
            SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
            FROM embeddings
        ),
        dots AS (
            SELECT vec_id, table_id,
                   CASE WHEN {dot('v', 'plane')} > 0
                        THEN (1::BIGINT << plane_id) ELSE 0 END AS bit
            FROM emb CROSS JOIN planes
        ),
        buckets AS MATERIALIZED (
            SELECT vec_id, table_id, SUM(bit) AS bucket
            FROM dots GROUP BY vec_id, table_id
        ),
        nn_cand AS (
            SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
            FROM buckets a JOIN buckets b
              ON a.table_id = b.table_id AND a.bucket = b.bucket
            WHERE a.vec_id >= {_N_QUERIES} AND b.vec_id >= {_N_QUERIES}
              AND a.vec_id <> b.vec_id
        ),
        cv AS MATERIALIZED (
            SELECT vec_id AS node, v AS c, sqrt({dot('v', 'v')}) AS cnorm
            FROM emb WHERE vec_id >= {_N_QUERIES}
        ),
        edges AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT n.src, n.dst,
                       row_number() OVER (PARTITION BY n.src ORDER BY
                           ({dot('sv.c', 'dv.c')} / (sv.cnorm * dv.cnorm)) DESC,
                           n.dst ASC) AS rk
                FROM nn_cand n
                JOIN cv sv ON sv.node = n.src
                JOIN cv dv ON dv.node = n.dst)
            WHERE rk <= {_BEAM_M}
        ),
        qv AS MATERIALIZED (
            SELECT vec_id AS query_id, v AS q, sqrt({dot('v', 'v')}) AS qnorm
            FROM emb WHERE vec_id < {_N_QUERIES}
        ),
        visited0 AS (
            SELECT qv.query_id, cv.node,
                   {dot('qv.q', 'cv.c')} / (qv.qnorm * cv.cnorm) AS cosine
            FROM qv CROSS JOIN cv
            WHERE cv.node % {_BEAM_ENTRY_STRIDE} = 0
        ),
        beam0 AS (
            SELECT query_id, node, cosine FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, node ASC) AS rk
                FROM visited0)
            WHERE rk <= {_BEAM_B}
        ),{",".join(hops)}
        SELECT query_id, node AS neighbor_id, cosine, CAST(rk AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, node ASC) AS rk
            FROM visited{_BEAM_H})
        WHERE rk <= {_TOP_K}
    """


@register(
    "similarity_ann_beam_graph",
    oracle=_beam_oracle(),
    doc=(
        "X3z: HNSW-lite graph ANN (r10 verdict #6) — bounded beam "
        "search over a precomputed navigable neighbor graph, the "
        "graph-traversal cascade family (HNSW/NSG) re-expressed as "
        f"{_BEAM_H} unrolled relational hops. The graph: top-{_BEAM_M} "
        "cosine out-edges per corpus node with candidates from the "
        "seed-42 LSH bucket join (the NN-descent stand-in — building "
        "the graph exactly would be the all-pairs scan this cascade "
        "avoids; at 100 TB the same bucket join builds the graph "
        "sub-quadratically). Search: score the every-"
        f"{_BEAM_ENTRY_STRIDE}th-node entry points (HNSW's upper "
        f"layer), keep a beam of {_BEAM_B}, then each hop expands the "
        "beam through the edge list (equi-join on the node key), "
        "scores only NEW frontier nodes against the broadcast query "
        "block, and re-selects the beam from all visited nodes — "
        "eval cost per query is O(entries + H*B*M) scores, "
        "independent of corpus size. Deterministic end to end (fixed "
        "planes, fixed tie-breaks), so the DuckDB twin replays every "
        "hop bit-for-bit. Sixth cascade row in the retrieval-eval "
        "harness; recall vs the exact tier asserted in pytest."
    ),
    tags=("similarity", "llm", "ann", "graph"),
)
def similarity_ann_beam_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    edges = _beam_graph_edges(spark, emb).localCheckpoint(eager=True)
    cv = emb.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("node"), _as_double("embedding").alias("c")
    ).withColumn("cnorm", F.sqrt(_dot(F.col("c"), F.col("c"))))
    qv = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("q")
    ).withColumn("qnorm", F.sqrt(_dot(F.col("q"), F.col("q"))))
    score_cols = [
        "query_id",
        "node",
        (_dot(F.col("q"), F.col("c")) / (F.col("qnorm") * F.col("cnorm"))).alias(
            "cosine"
        ),
    ]
    visited = (
        cv.filter(F.col("node") % _BEAM_ENTRY_STRIDE == 0)
        .crossJoin(F.broadcast(qv))
        .select(*score_cols)
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("node"))
    for _ in range(_BEAM_H):
        beam = (
            visited.withColumn("rk", F.row_number().over(wq))
            .filter(F.col("rk") <= _BEAM_B)
            .select("query_id", "node")
        )
        frontier = (
            beam.join(edges, beam.node == edges.src)
            .select("query_id", F.col("dst").alias("node"))
            .distinct()
        )
        fresh = (
            frontier.join(cv, "node")
            .join(F.broadcast(qv), "query_id")
            .select(*score_cols)
        )
        visited = visited.unionByName(fresh).distinct()
    return (
        visited.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", F.col("node").alias("neighbor_id"), "cosine", "rank")
    )


_EVAL_SYSTEMS = (
    ("beam_graph", "similarity_ann_beam_graph"),
    ("hamming_rerank", "similarity_hamming_prefilter_rerank"),
    ("lsh", "similarity_ann_lsh"),
    ("pq_adc", "similarity_pq_adc_topk"),
    ("sign_hamming", "similarity_sign_hamming_topk"),
    ("two_stage", "similarity_two_stage_rerank"),
)

#: 1/log2(rank+1) for ranks 1..10, repr round-trip (nearest double)
_NDCG_DISCOUNTS = (
    "1.0e0",
    "0.6309297535714575e0",
    "0.5e0",
    "0.43067655807339306e0",
    "0.38685280723454163e0",
    "0.3562071871080222e0",
    "0.3333333333333333e0",
    "0.31546487678572877e0",
    "0.3010299956639812e0",
    "0.2890648263178879e0",
)

#: exact left-to-right cumulative sums of the discounts (ideal DCG for
#: n_rel = 1..10) — Python floats, same fold both engines read as literals
_IDCG_CUM = (
    "1.0e0",
    "1.6309297535714575e0",
    "2.1309297535714578e0",
    "2.5616063116448506e0",
    "2.9484591188793923e0",
    "3.3046663059874146e0",
    "3.637999639320748e0",
    "3.953464516106477e0",
    "4.254494511770458e0",
    "4.543559338088346e0",
)

#: shared expression strings (identical text in Spark and DuckDB)
_DCG_EXPR = " + ".join(
    f"CAST(r{i} AS DOUBLE) * {_NDCG_DISCOUNTS[i - 1]}" for i in range(1, 11)
)
_IDCG_EXPR = "CASE LEAST(n_rel, 10) " + " ".join(
    f"WHEN {i} THEN {_IDCG_CUM[i - 1]}" for i in range(1, 11)
) + " ELSE 0.0e0 END"
#: rr*2520 by first relevant rank (2520 = lcm(1..10); NULL -> ELSE 0)
_RR_X2520_EXPR = "CASE first_rel_rank " + " ".join(
    f"WHEN {i} THEN {2520 // i}" for i in range(1, 11)
) + " ELSE 0 END"


def _eval_ctes_sql() -> str:
    """Shared oracle CTE block: gt / runs / filtered / labeled / scaffold
    / nrel — nests the full oracle SQL of every cascade plus the exact
    tier, so the metric numbers are themselves hash-exact end to end."""
    from ..registry import _REGISTRY

    runs = "\n            UNION ALL\n            ".join(
        f"SELECT '{label}' AS system, query_id, neighbor_id,"
        f" CAST(rank AS BIGINT) AS rank FROM ({_REGISTRY[qname].oracle})"
        for label, qname in _EVAL_SYSTEMS
    )
    systems = ", ".join(f"'{label}'" for label, _ in _EVAL_SYSTEMS)
    return f"""
        gt AS (SELECT query_id, neighbor_id FROM ({_TOPK_EXACT_ORACLE})),
        runs AS (
            {runs}
        ),
        filtered AS (
            SELECT system, query_id, neighbor_id,
                   row_number() OVER (PARTITION BY system, query_id
                                      ORDER BY rank) AS rank
            FROM runs
            WHERE query_id < {_N_QUERIES} AND neighbor_id >= {_N_QUERIES}
        ),
        labeled AS (
            SELECT f.system, f.query_id, f.rank,
                   CASE WHEN g.neighbor_id IS NULL THEN 0 ELSE 1 END AS rel
            FROM filtered f
            LEFT JOIN gt g ON g.query_id = f.query_id
                          AND g.neighbor_id = f.neighbor_id
        ),
        scaffold AS (
            SELECT query_id, unnest([{systems}]) AS system
            FROM (SELECT DISTINCT query_id FROM gt)
        ),
        nrel AS (
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
            FROM gt GROUP BY query_id
        )"""


def _eval_tables(spark: SparkSession, sf_dir: str):
    """Spark twin of :func:`_eval_ctes_sql`: (labeled, scaffold, nrel)."""
    from pyspark.sql import Window as W

    fns = {
        "beam_graph": similarity_ann_beam_graph,
        "hamming_rerank": similarity_hamming_prefilter_rerank,
        "lsh": similarity_ann_lsh,
        "pq_adc": similarity_pq_adc_topk,
        "sign_hamming": similarity_sign_hamming_topk,
        "two_stage": similarity_two_stage_rerank,
    }
    # r11 optimization (guide §3.3/§7.3): gt feeds THREE consumers
    # (labels join, scaffold, nrel) and runs composes every cascade's
    # full plan — without materialization the exact tier executed three
    # times and the eval plan weighed ~3,900 formatted lines (132
    # exchanges), with Catalyst planning itself a visible cost. Both
    # tables are |Q| x k grain (tens of rows at any corpus size), so
    # localCheckpoint computes each cascade exactly once and truncates
    # the composite plan; every downstream eval join is metadata-scale.
    #
    # r12 optimization (guide §2.6 "overlap independent jobs"): the
    # exact tier and the six cascades are INDEPENDENT queries — r11
    # materialized them one after another, so each run's straggler tail
    # left the other 31 cores idle (~7 small jobs in strict sequence).
    # Building + checkpointing them from a small thread pool lets later
    # cascades back-fill executors freed by earlier ones; each result
    # is byte-identical (same per-cascade plan, same checkpoint), only
    # the wall-clock overlaps. None of the cascade builders touches
    # session-global state (no temp views, no conf writes), which is
    # the precondition for this.
    from concurrent.futures import ThreadPoolExecutor

    def _ckpt_gt():
        return (
            similarity_topk_cosine_exact(spark, sf_dir)
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=True)
        )

    def _ckpt_run(label: str):
        return (
            fns[label](spark, sf_dir)
            .select(
                F.lit(label).alias("system"),
                "query_id",
                "neighbor_id",
                F.col("rank").cast("bigint").alias("rank0"),
            )
            .localCheckpoint(eager=True)
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        gt_fut = pool.submit(_ckpt_gt)
        run_futs = [(label, pool.submit(_ckpt_run, label)) for label, _ in _EVAL_SYSTEMS]
        gt = gt_fut.result()
        runs = None
        for _label, fut in run_futs:
            r = fut.result()
            runs = r if runs is None else runs.unionByName(r)
    wq = W.partitionBy("system", "query_id").orderBy("rank0")
    filtered = (
        runs.filter(
            (F.col("query_id") < _N_QUERIES)
            & (F.col("neighbor_id") >= _N_QUERIES)
        )
        .withColumn("rank", F.row_number().over(wq).cast("bigint"))
        .drop("rank0")
    )
    g = gt.select(
        F.col("query_id").alias("g_qid"), F.col("neighbor_id").alias("g_nid")
    )
    labeled = filtered.join(
        g,
        (F.col("query_id") == F.col("g_qid"))
        & (F.col("neighbor_id") == F.col("g_nid")),
        "left",
    ).select(
        "system",
        "query_id",
        "rank",
        F.when(F.col("g_nid").isNull(), 0).otherwise(1).alias("rel"),
    )
    scaffold = (
        gt.select("query_id")
        .distinct()
        .select(
            "query_id",
            F.explode(
                F.array(*[F.lit(label) for label, _ in _EVAL_SYSTEMS])
            ).alias("system"),
        )
    )
    nrel = gt.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rel")
    )
    return labeled, scaffold, nrel


@register(
    "similarity_eval_precision_recall",
    oracle=f"""
        WITH {_eval_ctes_sql()},
        m AS (
            SELECT system, query_id,
                   CAST(SUM(CASE WHEN rank <= 1 THEN rel ELSE 0 END)
                        AS BIGINT) AS h1,
                   CAST(SUM(CASE WHEN rank <= 5 THEN rel ELSE 0 END)
                        AS BIGINT) AS h5,
                   CAST(SUM(CASE WHEN rank <= 10 THEN rel ELSE 0 END)
                        AS BIGINT) AS h10
            FROM labeled GROUP BY system, query_id
        )
        SELECT s.system, s.query_id, n.n_rel,
               CAST(COALESCE(m.h1, 0) AS BIGINT) AS hits_at_1,
               CAST(COALESCE(m.h5, 0) AS BIGINT) AS hits_at_5,
               CAST(COALESCE(m.h10, 0) AS BIGINT) AS hits_at_10,
               CAST(COALESCE(m.h1, 0) AS DOUBLE) / 1.0e0 AS p_at_1,
               CAST(COALESCE(m.h5, 0) AS DOUBLE) / 5.0e0 AS p_at_5,
               CAST(COALESCE(m.h10, 0) AS DOUBLE) / 10.0e0 AS p_at_10,
               CAST(COALESCE(m.h10, 0) AS DOUBLE)
                   / CAST(n.n_rel AS DOUBLE) AS recall_at_10
        FROM scaffold s
        JOIN nrel n ON n.query_id = s.query_id
        LEFT JOIN m ON m.system = s.system AND m.query_id = s.query_id
        ORDER BY s.system, s.query_id
    """,
    doc=(
        "X3v: precision@k / recall@k report card over every ANN "
        "cascade in the registry (hamming_rerank, lsh, pq_adc, "
        "sign_hamming, two_stage) against the exact-cosine top-10 "
        "qrels — per (system, query): integer hit counts at cutoffs "
        "1/5/10 and the derived precision/recall, each ONE division "
        "of exact integers. Runs are restricted to the judged task "
        "first (trec_eval's filter-to-judged-corpus step) so the "
        "8-query Hamming tier is scored only on the 5 judged queries "
        "and never penalized for retrieving other query vectors. The "
        "scaffold keeps (system x query) grain even when a cascade "
        "returns nothing for a query (counts coalesce to 0 — a "
        "silent-empty run reads as recall 0, not as a missing row). "
        "All candidate generation inherits the cascades' own bounded "
        "broadcast plans; the eval itself adds only equi-joins at "
        "|Q| x k grain. At 100 TB this grain is unchanged: eval cost "
        "scales with the judged sample, not the corpus."
    ),
    tags=("similarity", "llm", "ann", "quality", "eval"),
)
def similarity_eval_precision_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    labeled, scaffold, nrel = _eval_tables(spark, sf_dir)
    m = labeled.groupBy("system", "query_id").agg(
        *[
            F.sum(F.when(F.col("rank") <= k, F.col("rel")).otherwise(0))
            .cast("bigint")
            .alias(f"h{k}")
            for k in (1, 5, 10)
        ]
    )
    base = (
        scaffold.join(nrel, "query_id")
        .join(m, ["system", "query_id"], "left")
        .na.fill(0, ["h1", "h5", "h10"])
    )
    return base.select(
        "system",
        "query_id",
        "n_rel",
        F.col("h1").alias("hits_at_1"),
        F.col("h5").alias("hits_at_5"),
        F.col("h10").alias("hits_at_10"),
        F.expr("CAST(h1 AS DOUBLE) / 1.0e0").alias("p_at_1"),
        F.expr("CAST(h5 AS DOUBLE) / 5.0e0").alias("p_at_5"),
        F.expr("CAST(h10 AS DOUBLE) / 10.0e0").alias("p_at_10"),
        F.expr("CAST(h10 AS DOUBLE) / CAST(n_rel AS DOUBLE)").alias(
            "recall_at_10"
        ),
    ).orderBy("system", "query_id")


@register(
    "similarity_eval_mrr",
    oracle=f"""
        WITH {_eval_ctes_sql()},
        fr AS (
            SELECT system, query_id,
                   MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank
            FROM labeled GROUP BY system, query_id
        ),
        per_q AS (
            SELECT s.system,
                   CAST({_RR_X2520_EXPR} AS BIGINT) AS rr_x2520
            FROM scaffold s
            LEFT JOIN fr ON fr.system = s.system
                        AND fr.query_id = s.query_id
        )
        SELECT system,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(rr_x2520) AS BIGINT) AS sum_rr_x2520,
               CAST(SUM(rr_x2520) AS DOUBLE)
                   / (2520.0e0 * CAST(COUNT(*) AS DOUBLE)) AS mrr_at_10
        FROM per_q GROUP BY system
        ORDER BY system
    """,
    doc=(
        "X3w: MRR@10 per ANN cascade against the exact-cosine qrels — "
        "mean reciprocal rank of the FIRST relevant hit, the metric "
        "retrieval deployments gate reranker changes on. The "
        "reciprocal is kept EXACT: rr*2520 (2520 = lcm(1..10)) is an "
        "integer for every rank, looked up from an 11-arm literal "
        "CASE — no float division until the single pinned mean, so "
        "the per-system sum is order-independent and the metric "
        "hash-exact. Misses (no relevant hit in the filtered top-10) "
        "score 0 via the scaffold left join. Same bounded plan shape "
        "as the precision report; one extra |systems|-row aggregate."
    ),
    tags=("similarity", "llm", "ann", "quality", "eval"),
)
def similarity_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled, scaffold, nrel = _eval_tables(spark, sf_dir)
    fr = labeled.groupBy("system", "query_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias(
            "first_rel_rank"
        )
    )
    per_q = scaffold.join(fr, ["system", "query_id"], "left").select(
        "system",
        F.expr(f"CAST({_RR_X2520_EXPR} AS BIGINT)").alias("rr_x2520"),
    )
    return (
        per_q.groupBy("system")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum("rr_x2520").cast("bigint").alias("sum_rr_x2520"),
        )
        .select(
            "system",
            "n_queries",
            "sum_rr_x2520",
            F.expr(
                "CAST(sum_rr_x2520 AS DOUBLE)"
                " / (2520.0e0 * CAST(n_queries AS DOUBLE))"
            ).alias("mrr_at_10"),
        )
        .orderBy("system")
    )


@register(
    "similarity_eval_ndcg",
    oracle=f"""
        WITH {_eval_ctes_sql()},
        bits AS (
            SELECT system, query_id,
                   {", ".join(
                       f"CAST(MAX(CASE WHEN rank = {i} THEN rel ELSE 0 END)"
                       f" AS BIGINT) AS r{i}" for i in range(1, 11)
                   )},
                   CAST(SUM(CASE WHEN rel = 1 THEN (1 << (rank - 1))
                                 ELSE 0 END) AS BIGINT) AS rel_mask
            FROM labeled GROUP BY system, query_id
        ),
        padded AS (
            SELECT s.system, s.query_id, n.n_rel,
                   {", ".join(
                       f"CAST(COALESCE(b.r{i}, 0) AS BIGINT) AS r{i}"
                       for i in range(1, 11)
                   )},
                   CAST(COALESCE(b.rel_mask, 0) AS BIGINT) AS rel_mask
            FROM scaffold s
            JOIN nrel n ON n.query_id = s.query_id
            LEFT JOIN bits b ON b.system = s.system
                            AND b.query_id = s.query_id
        )
        SELECT system, query_id, n_rel, rel_mask,
               {_DCG_EXPR} AS dcg_at_10,
               {_IDCG_EXPR} AS idcg_at_10,
               CASE WHEN ({_IDCG_EXPR}) > 0.0e0
                    THEN ({_DCG_EXPR}) / ({_IDCG_EXPR})
                    ELSE 0.0e0 END AS ndcg_at_10
        FROM padded
        ORDER BY system, query_id
    """,
    doc=(
        "X3x: NDCG@10 per (cascade, query) against the exact-cosine "
        "qrels — binary-gain DCG with the textbook 1/log2(rank+1) "
        "discount, where the ten discounts and their ideal-DCG "
        "cumulative sums are LITERAL e0-pinned doubles (no log ever "
        "evaluated at query time — the r9-verdict observation that "
        "bounded ranks make NDCG exactly oracle-able). Relevance bits "
        "come from integer conditional aggregation (plus rel_mask, "
        "the positions packed into one integer for at-a-glance run "
        "diffing); DCG is ONE shared left-to-right expression string "
        "over those bits, evaluated identically by both engines, so "
        "even the float outputs are bit-exact. IDCG is a literal CASE "
        "on min(n_rel, 10). Bounded exactly like the other two eval "
        "ops: the cascades' own broadcast plans plus |Q| x k "
        "equi-joins."
    ),
    tags=("similarity", "llm", "ann", "quality", "eval"),
)
def similarity_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled, scaffold, nrel = _eval_tables(spark, sf_dir)
    bits = labeled.groupBy("system", "query_id").agg(
        *[
            F.max(F.when(F.col("rank") == i, F.col("rel")).otherwise(0))
            .cast("bigint")
            .alias(f"r{i}")
            for i in range(1, 11)
        ],
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.expr("shiftleft(1L, CAST(rank AS INT) - 1)"),
            ).otherwise(F.lit(0).cast("bigint"))
        )
        .cast("bigint")
        .alias("rel_mask"),
    )
    padded = (
        scaffold.join(nrel, "query_id")
        .join(bits, ["system", "query_id"], "left")
        .na.fill(0, [f"r{i}" for i in range(1, 11)] + ["rel_mask"])
    )
    return padded.select(
        "system",
        "query_id",
        "n_rel",
        "rel_mask",
        F.expr(_DCG_EXPR).alias("dcg_at_10"),
        F.expr(_IDCG_EXPR).alias("idcg_at_10"),
        F.expr(
            f"CASE WHEN ({_IDCG_EXPR}) > 0.0e0"
            f" THEN ({_DCG_EXPR}) / ({_IDCG_EXPR})"
            f" ELSE 0.0e0 END"
        ).alias("ndcg_at_10"),
    ).orderBy("system", "query_id")


#: AP@10 numerator terms: rel_r * hits_at_r * (2520 / r) — every
#: reciprocal-rank weight is an exact integer (2520 = lcm(1..10))
_AP_NUM_EXPR = " + ".join(
    f"r{i} * h{i} * {2520 // i}" for i in range(1, 11)
)


@register(
    "similarity_eval_map",
    oracle=f"""
        WITH {_eval_ctes_sql()},
        bits AS (
            SELECT system, query_id,
                   {", ".join(
                       f"CAST(MAX(CASE WHEN rank = {i} THEN rel ELSE 0 END)"
                       f" AS BIGINT) AS r{i}" for i in range(1, 11)
                   )}
            FROM labeled GROUP BY system, query_id
        ),
        padded AS (
            SELECT s.system, s.query_id, n.n_rel,
                   {", ".join(
                       f"CAST(COALESCE(b.r{i}, 0) AS BIGINT) AS r{i}"
                       for i in range(1, 11)
                   )}
            FROM scaffold s
            JOIN nrel n ON n.query_id = s.query_id
            LEFT JOIN bits b ON b.system = s.system
                            AND b.query_id = s.query_id
        ),
        cum AS (
            SELECT system, query_id, n_rel,
                   {", ".join(
                       "CAST(" + " + ".join(f"r{j}" for j in range(1, i + 1))
                       + f" AS BIGINT) AS h{i}" for i in range(1, 11)
                   )},
                   {", ".join(f"r{i}" for i in range(1, 11))}
            FROM padded
        ),
        per_q AS (
            SELECT system, query_id, n_rel,
                   CAST({_AP_NUM_EXPR} AS BIGINT) AS ap_num_x2520
            FROM cum
        )
        SELECT system,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(ap_num_x2520) AS BIGINT) AS sum_ap_num_x2520,
               CAST(SUM(ap_num_x2520) AS DOUBLE)
                   / (2520.0e0 * 10.0e0 * CAST(COUNT(*) AS DOUBLE))
                   AS map_at_10
        FROM per_q GROUP BY system
        ORDER BY system
    """,
    doc=(
        "X3y: MAP@10 per ANN cascade against the exact-cosine qrels — "
        "mean average precision, the rank-weighted completion of the "
        "eval family (precision/recall: set overlap; MRR: first hit; "
        "NDCG: graded discount; MAP: precision integrated over every "
        "relevant position). AP@10 = (1/min(n_rel,10)) * sum over "
        "relevant ranks r of precision@r; with ranks bounded at 10, "
        "precision@r = hits@r / r makes every term an exact integer "
        "multiple of 1/2520 (lcm 1..10) — the per-query numerator "
        "ap_num_x2520 = sum(rel_r * hits@r * 2520/r) is a pure "
        "integer, summed order-independently per system, with ONE "
        "pinned float division at the end (n_rel = 10 for every "
        "judged query, so the 1/min(n_rel,10) factor is the literal "
        "10 in the divisor). Same bounded plan shape as the other "
        "three eval ops."
    ),
    tags=("similarity", "llm", "ann", "quality", "eval"),
)
def similarity_eval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled, scaffold, nrel = _eval_tables(spark, sf_dir)
    bits = labeled.groupBy("system", "query_id").agg(
        *[
            F.max(F.when(F.col("rank") == i, F.col("rel")).otherwise(0))
            .cast("bigint")
            .alias(f"r{i}")
            for i in range(1, 11)
        ]
    )
    padded = (
        scaffold.join(nrel, "query_id")
        .join(bits, ["system", "query_id"], "left")
        .na.fill(0, [f"r{i}" for i in range(1, 11)])
    )
    cum = padded.selectExpr(
        "system",
        "query_id",
        "n_rel",
        *[f"r{i}" for i in range(1, 11)],
        *[
            "CAST(" + " + ".join(f"r{j}" for j in range(1, i + 1))
            + f" AS BIGINT) AS h{i}"
            for i in range(1, 11)
        ],
    )
    per_q = cum.select(
        "system",
        F.expr(f"CAST({_AP_NUM_EXPR} AS BIGINT)").alias("ap_num_x2520"),
    )
    return (
        per_q.groupBy("system")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum("ap_num_x2520").cast("bigint").alias("sum_ap_num_x2520"),
        )
        .select(
            "system",
            "n_queries",
            "sum_ap_num_x2520",
            F.expr(
                "CAST(sum_ap_num_x2520 AS DOUBLE)"
                " / (2520.0e0 * 10.0e0 * CAST(n_queries AS DOUBLE))"
            ).alias("map_at_10"),
        )
        .orderBy("system")
    )
