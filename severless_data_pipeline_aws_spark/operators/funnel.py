"""End-to-end LLM training-data preprocess funnel.

Composes the X-family operators — language filter, quality gates
(text.py), prefix dedup (dedup.py family), reproducible split
(sampling.py) — into ONE query that reports per-stage attrition, the
way a 100 TB curation job is actually monitored.

The dedup stage keys on the first-8-words prefix (the CCNet/
RefinedWeb-style cheap near-dup catch) rather than the full-text hash:
the synthetic corpus carries no byte-identical duplicates at small SF,
and a funnel stage that never fires verifies nothing. Every stage here
has measurable attrition at every test scale.

Scale shape: a naive funnel recounts the corpus once per stage (N full
scans). Here every stage is a boolean FLAG computed in a single scan
(+ one window shuffle on the dedup key), and the attrition counts are
conditional aggregates over the flags — one pass regardless of how
many stages the funnel grows. The dedup stage ranks each doc among the
*surviving* (lang+quality-passing) copies of its key via a windowed
conditional count, so a duplicate whose first copy was quality-filtered
still keeps its earliest surviving copy. Each predicate is defined
ONCE and flows through named flag columns — the window counts the
``pass_q`` column, never a re-derived expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io import Tables
from ..registry import register
from ._helpers import pair_structs
from .sampling import _H_DUCK, _H_SPARK

_PASS_LANG = "lang = 'en'"

_STOPS_SPARK = "array('the','a','of','and','to','in')"
_STOPS_DUCK = "['the','a','of','and','to','in']"
_QUALITY = (
    "size(split(text, ' ')) >= 30 "
    f"AND CAST(size(filter(split(text, ' '), w -> array_contains({_STOPS_SPARK}, w))) AS DOUBLE)"
    " / size(split(text, ' ')) <= 0.08"
)
_QUALITY_DUCK = (
    "len(string_split(text, ' ')) >= 30 "
    f"AND CAST(len(list_filter(string_split(text, ' '), w -> list_contains({_STOPS_DUCK}, w))) AS DOUBLE)"
    " / len(string_split(text, ' ')) <= 0.08"
)

_PREFIX_SPARK = "concat_ws(' ', slice(split(text, ' '), 1, 8))"
_PREFIX_DUCK = "array_to_string(string_split(text, ' ')[1:8], ' ')"


@register(
    "pipeline_llm_preprocess",
    oracle=f"""
        WITH flagged AS (
            SELECT doc_id,
                   ({_PASS_LANG}) AS pass_lang,
                   ({_PASS_LANG}) AND ({_QUALITY_DUCK}) AS pass_q,
                   len(string_split(text, ' ')) AS n_words,
                   {_H_DUCK.format(key="doc_id")} < 90 AS in_train,
                   {_PREFIX_DUCK} AS prefix
            FROM documents
        ),
        ranked AS (
            SELECT *,
                   COUNT(CASE WHEN pass_q THEN 1 END)
                       OVER (PARTITION BY prefix ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS n_prior_pass
            FROM flagged
        )
        SELECT COUNT(*) AS n_total,
               COUNT(CASE WHEN pass_lang THEN 1 END) AS n_lang,
               COUNT(CASE WHEN pass_q THEN 1 END) AS n_quality,
               COUNT(CASE WHEN pass_q AND n_prior_pass = 0 THEN 1 END) AS n_dedup,
               COUNT(CASE WHEN pass_q AND n_prior_pass = 0 AND in_train THEN 1 END)
                   AS n_train,
               CAST(SUM(CASE WHEN pass_q AND n_prior_pass = 0 AND in_train
                             THEN n_words ELSE 0 END) AS BIGINT) AS train_words
        FROM ranked
    """,
    doc=(
        "X1+X4 composition: the full curation funnel (language -> "
        "quality -> 8-word-prefix dedup keep-first-survivor -> train "
        "split) as one scan with per-stage boolean flags + one window "
        "shuffle, reporting stage attrition and final token budget."
    ),
    tags=("llm", "dedup", "text", "pipeline"),
)
def pipeline_llm_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    pass_lang = F.expr(_PASS_LANG)
    pass_q = pass_lang & F.expr(_QUALITY)
    flagged = t.documents.select(
        "doc_id",
        pass_lang.alias("pass_lang"),
        pass_q.alias("pass_q"),
        F.size(F.split("text", " ")).alias("n_words"),
        (F.expr(_H_SPARK.format(key="doc_id")) < 90).alias("in_train"),
        F.expr(_PREFIX_SPARK).alias("prefix"),
    )
    w = (
        W.partitionBy("prefix")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = flagged.withColumn(
        "n_prior_pass", F.count(F.when(F.col("pass_q"), 1)).over(w)
    )
    final = F.col("pass_q") & (F.col("n_prior_pass") == 0)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("pass_lang"), 1)).alias("n_lang"),
        F.count(F.when(F.col("pass_q"), 1)).alias("n_quality"),
        F.count(F.when(final, 1)).alias("n_dedup"),
        F.count(F.when(final & F.col("in_train"), 1)).alias("n_train"),
        F.sum(F.when(final & F.col("in_train"), F.col("n_words")).otherwise(0)).alias(
            "train_words"
        ),
    )


_PACK_BUDGET = 128  # tokens per training batch
_PACK_PARTS = 8  # parallel packers


def _greedy_pack(iterator):
    """Per-partition greedy first-fit packer (mapInPandas).

    Bin packing is inherently sequential, so the scalable form is
    sequential WITHIN a partition, parallel ACROSS partitions: rows
    arrive doc/chunk-ordered per range partition, each partition packs
    independently, and batch ids are namespaced by partition id so they
    never collide. Batches never mix partitions — at 100 TB each packer
    sees a bounded, contiguous slice of the corpus.
    """
    import pandas as pd
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    batch_seq = 0
    used = 0
    for pdf in iterator:
        batch_ids = []
        for tok in pdf["n_tokens"]:
            if used > 0 and used + tok > _PACK_BUDGET:
                batch_seq += 1
                used = 0
            used += int(tok)
            batch_ids.append(batch_seq)
        out = pdf.copy()
        out["batch_id"] = [f"p{pid:04d}_b{b:06d}" for b in batch_ids]
        yield out[["doc_id", "chunk_id", "n_tokens", "batch_id"]]




def _pack_oracle() -> str:
    """Exact DuckDB twin of ``pipeline_pack_training_batches`` (r4: was
    rows-only). The physical partition id under repartition(8,
    pmod(doc_id, 8)) is pmod(Murmur3(mod_class), 8) — replayed via the
    validated pure-Python Murmur3 twin as CASE literals — and the
    greedy first-fit walk is an integer recurrence per partition,
    replayed with a recursive CTE in the same (doc_id, chunk_id)
    order sortWithinPartitions pins."""
    from ..functions.xxh64 import murmur3_long
    from .text import _CHUNK_LEN, _CHUNK_STRIDE

    pid_case = " ".join(
        f"WHEN {m} THEN {(murmur3_long(m) % _PACK_PARTS + _PACK_PARTS) % _PACK_PARTS}"
        for m in range(_PACK_PARTS)
    )
    return f"""
        WITH RECURSIVE
        chunks AS MATERIALIZED (
            SELECT doc_id, CAST(s.i AS BIGINT) AS chunk_id,
                   CAST(least({_CHUNK_LEN}, len(words) - s.i * {_CHUNK_STRIDE}) AS BIGINT) AS n_tokens,
                   CASE doc_id % {_PACK_PARTS} {pid_case} END AS pid
            FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) toks,
                 LATERAL (SELECT unnest(range(0, ((len(words) - 1) // {_CHUNK_STRIDE}) + 1)) AS i) s
        ),
        ordered AS MATERIALIZED (
            SELECT *, row_number() OVER (PARTITION BY pid ORDER BY doc_id, chunk_id) AS rn
            FROM chunks
        ),
        walk AS (
            SELECT pid, 0::BIGINT AS rn, 0::BIGINT AS used, 0::BIGINT AS seq,
                   CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS chunk_id,
                   CAST(NULL AS BIGINT) AS n_tokens
            FROM (SELECT DISTINCT pid FROM ordered)
            UNION ALL
            SELECT pid, rn,
                   CASE WHEN reset THEN tok ELSE used + tok END,
                   CASE WHEN reset THEN seq + 1 ELSE seq END,
                   doc_id, chunk_id, tok
            FROM (
                SELECT o.pid AS pid, o.rn AS rn, o.doc_id AS doc_id,
                       o.chunk_id AS chunk_id, o.n_tokens AS tok,
                       w.used AS used, w.seq AS seq,
                       (w.used > 0 AND w.used + o.n_tokens > {_PACK_BUDGET}) AS reset
                FROM walk w JOIN ordered o ON o.pid = w.pid AND o.rn = w.rn + 1
            )
        )
        SELECT doc_id, chunk_id, n_tokens,
               printf('p%04d_b%06d', pid, seq) AS batch_id
        FROM walk WHERE rn >= 1
    """

@register(
    "pipeline_pack_training_batches",
    oracle=_pack_oracle(),  # + invariants asserted in pytest
    doc=(
        "Training-batch packing: greedy first-fit of document chunks "
        f"into <= {_PACK_BUDGET}-token batches. Sequential logic made "
        "scalable: an explicit doc_id mod-class repartition (range "
        "partitioning samples its boundaries, which is not run-"
        "deterministic) + in-partition sort give each packer a "
        "deterministic slice; packers run in parallel and namespace "
        "their batch ids by partition id. "
        "pytest asserts no batch exceeds the budget, every chunk is "
        "packed exactly once, and assignment is deterministic."
    ),
    tags=("llm", "pipeline", "udf"),
)
def pipeline_pack_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import text_chunk_sliding_windows

    chunks = text_chunk_sliding_windows(spark, sf_dir).select(
        "doc_id", "chunk_id", "n_tokens"
    )
    return (
        chunks.repartition(_PACK_PARTS, F.pmod(F.col("doc_id"), F.lit(_PACK_PARTS)))
        .sortWithinPartitions("doc_id", "chunk_id")
        .mapInPandas(
            _greedy_pack,
            "doc_id bigint, chunk_id bigint, n_tokens bigint, batch_id string",
        )
    )


@register(
    "funnel_cohort_retention",
    oracle="""
        WITH first AS (
            SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
            FROM events
        )
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INT) AS week_offset,
               COUNT(DISTINCT a.user_id) AS n_active_users
        FROM activity a JOIN first f USING (user_id)
        GROUP BY f.cohort_week, week_offset
    """,
    doc=(
        "Cohort retention matrix over the event stream: cohort = ISO "
        "week of each user's first event; cell (cohort_week, "
        "week_offset) counts users from that cohort active offset weeks "
        "later. Both inputs are keyed by user_id, so the join is "
        "co-partitioned off one shuffle (first-touch agg reuses the "
        "activity shuffle's partitioning under AQE); the matrix agg is "
        "a second small shuffle. No window, no cross product — the "
        "standard product-analytics rollup at any scale."
    ),
    tags=("analytics", "events", "cohort"),
)
def funnel_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    e = t.events
    first = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("week")
    ).distinct()
    offset = (F.datediff("week", "cohort_week") / 7).cast("int")
    return (
        activity.join(first, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


@register(
    "funnel_rfm_segmentation",
    oracle="""
        WITH anchor AS (SELECT MAX(ts) AS now_ts FROM events),
        per_user AS (
            SELECT user_id,
                   date_diff('day', CAST(MAX(ts) AS DATE),
                             CAST((SELECT now_ts FROM anchor) AS DATE))
                       AS recency_days,
                   COUNT(*) AS frequency,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR)
                        AS DOUBLE) AS monetary
            FROM events GROUP BY user_id
        )
        SELECT user_id, recency_days, frequency, monetary,
               ntile(4) OVER (ORDER BY recency_days ASC, user_id) AS r_quartile,
               ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_quartile,
               ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_quartile
        FROM per_user
    """,
    doc=(
        "RFM segmentation: per-user recency (days before the corpus "
        "anchor), frequency, and decimal-exact monetary value, each cut "
        "into quartiles with deterministic tie-breaks. Each quartile is "
        "NTILE(4) in exact ANSI semantics, but computed WITHOUT a "
        "single-partition sort: three bucket-offset global row numbers "
        "(operators/scalable.py — bucket keys: recency day, negated "
        "frequency, negated monetary band, each monotone in its sort "
        "order) plus the closed-form tile assignment ntile_from_rn. "
        "The user table is checkpoint-cached once so the three rank "
        "passes and their bucket-count sides share one materialization."
    ),
    tags=("analytics", "events", "rfm"),
)
def funnel_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_row_number, ntile_from_rn

    t = Tables(spark, sf_dir)
    e = t.events
    anchor = e.agg(F.max("ts").alias("now_ts"))
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("user_max_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.expr("CAST(value AS DECIMAL(38,8))"))
            .cast("string")
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.to_date("now_ts"), F.to_date("user_max_ts")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
        .localCheckpoint(eager=False)  # 3 rank passes x 2 subtrees each reuse this
    )
    n = per_user.agg(F.count(F.lit(1)).alias("n"))
    ranked = bucketed_row_number(
        per_user, F.col("recency_days"), [F.asc("recency_days"), "user_id"], out="r_rn"
    )
    ranked = bucketed_row_number(
        ranked, -F.col("frequency"), [F.desc("frequency"), "user_id"], out="f_rn"
    )
    ranked = bucketed_row_number(
        ranked,
        F.floor(-F.col("monetary") / 100).cast("bigint"),
        [F.desc("monetary"), "user_id"],
        out="m_rn",
    )
    return ranked.crossJoin(F.broadcast(n)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        ntile_from_rn("r_rn", "n", 4).alias("r_quartile"),
        ntile_from_rn("f_rn", "n", 4).alias("f_quartile"),
        ntile_from_rn("m_rn", "n", 4).alias("m_quartile"),
    )


@register(
    "funnel_conversion_ordered",
    oracle="""
        WITH v AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
            FROM events GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        )
        SELECT '1_view' AS step, COUNT(t_view) AS n_users
        FROM v WHERE t_view IS NOT NULL
        UNION ALL SELECT '2_click', COUNT(*) FROM c
        UNION ALL SELECT '3_purchase', COUNT(*) FROM p
    """,
    doc=(
        "Ordered conversion funnel (view -> later click -> later "
        "purchase): each step's timestamp is the earliest event of that "
        "type STRICTLY AFTER the previous step — the sequence-matching "
        "semantics real funnels need (an early purchase before any view "
        "does not convert). Spark side is a SINGLE scan: three chained "
        "conditional-min windows on one user_id partitioning (each "
        "step's window reuses the prior step's column), then one tiny "
        "count aggregate; the oracle proves it equal to the naive "
        "3-pass CTE chain. One shuffle however many steps the funnel "
        "grows — vs one join per step in the textbook formulation."
    ),
    tags=("analytics", "events", "funnel"),
)
def funnel_conversion_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    e = t.events.select("user_id", "event_type", "ts")
    return ordered_funnel(e, ["view", "click", "purchase"])


def ordered_funnel(events: DataFrame, steps: list[str]) -> DataFrame:
    """N-step ordered funnel over (user_id, event_type, ts) rows.

    Step k's timestamp is the earliest event of its type strictly after
    step k-1's timestamp, per user. All step columns are chained
    conditional-min windows on ONE user_id partitioning — a single fact
    scan and a single shuffle for any N (property-tested against a
    brute-force replay in tests/test_property_oracle.py).
    Returns (step, n_users) with steps labeled '1_<type>', '2_<type>'…
    """
    w = W.partitionBy("user_id")
    staged = events
    prev: str | None = None
    for i, ev in enumerate(steps):
        cond = F.col("event_type") == ev
        if prev is not None:
            cond = cond & (F.col("ts") > F.col(prev))
        col = f"_t{i}"
        staged = staged.withColumn(col, F.min(F.when(cond, F.col("ts"))).over(w))
        prev = col
    per_user = staged.groupBy("user_id").agg(
        *[F.max(f"_t{i}").alias(f"_t{i}") for i in range(len(steps))]
    )
    counts = per_user.agg(
        *[F.count(f"_t{i}").alias(f"_n{i}") for i in range(len(steps))]
    )
    return counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"{i + 1}_{ev}").alias("step"),
                        F.col(f"_n{i}").alias("n_users"),
                    )
                    for i, ev in enumerate(steps)
                ]
            )
        ).alias("s")
    ).select("s.step", "s.n_users")


@register(
    "funnel_pareto_revenue_concentration",
    oracle="""
        WITH cust AS (
            SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(38,8))) AS rev
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, rev,
                   ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
            FROM cust
        ),
        by_decile AS (
            SELECT decile, COUNT(*) AS n_customers, SUM(rev) AS decile_rev
            FROM ranked GROUP BY decile
        ),
        tot AS (SELECT SUM(rev) AS total_rev FROM cust)
        SELECT decile, n_customers,
               CAST(CAST(decile_rev AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(total_rev AS VARCHAR) AS DOUBLE) AS decile_share,
               CAST(CAST(SUM(decile_rev) OVER (ORDER BY decile
                                               ROWS UNBOUNDED PRECEDING)
                         AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(total_rev AS VARCHAR) AS DOUBLE) AS cum_share
        FROM by_decile, tot
    """,
    doc=(
        "Revenue concentration (Pareto / Lorenz curve at decile "
        "granularity): customers ranked by lifetime revenue, cut into "
        "ntile(10) deciles, each decile's share and the cumulative "
        "share of total revenue. All sums are DECIMAL end-to-end — "
        "including the cumulative window sum — with doubles only in "
        "the two final share divisions, so every value is hash-exact. "
        "Plan: customer rollup shuffle, then the decile is exact "
        "NTILE(10) computed via the bucket-offset global row number + "
        "closed-form tile assignment (operators/scalable.py — bucket "
        "key: negated revenue band, monotone in the DESC order), so no "
        "single-partition sort ever sees the customer table; finally a "
        "10-row decile aggregate."
    ),
    tags=("funnel", "agg", "pareto"),
)
def funnel_pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .scalable import bucketed_row_number, ntile_from_rn

    t = Tables(spark, sf_dir)
    cust = t.orders.groupBy("o_custkey").agg(
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(38,8)))").alias("rev")
    ).localCheckpoint(eager=False)  # reused by rank pass + total
    n = cust.agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        bucketed_row_number(
            cust,
            F.floor(-F.col("rev") / 10000).cast("bigint"),
            [F.desc("rev"), "o_custkey"],
            out="rn",
        )
        .crossJoin(F.broadcast(n))
        .withColumn("decile", ntile_from_rn("rn", "n", 10))
    )
    by_decile = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev").alias("decile_rev"),
    )
    tot = cust.agg(F.sum("rev").alias("total_rev"))
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        by_decile.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            (F.col("decile_rev").cast("double") / F.col("total_rev").cast("double")).alias(
                "decile_share"
            ),
            (
                F.sum("decile_rev").over(wcum).cast("double")
                / F.col("total_rev").cast("double")
            ).alias("cum_share"),
        )
    )


@register(
    "funnel_time_to_convert",
    oracle="""
        WITH fv AS (
            SELECT user_id, MIN(ts) AS first_view
            FROM events WHERE event_type = 'view'
            GROUP BY user_id
        ),
        conv AS (
            SELECT e.user_id,
                   CAST(date_diff('second', f.first_view, MIN(e.ts)) AS BIGINT)
                       AS latency_s
            FROM events e JOIN fv f USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > f.first_view
            GROUP BY e.user_id, f.first_view
        ),
        ranked AS (
            SELECT latency_s,
                   row_number() OVER (ORDER BY latency_s, user_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM conv
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
               CAST(MIN(latency_s) AS BIGINT) AS min_s,
               MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                        THEN latency_s END) AS p50_s,
               MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                        THEN latency_s END) AS p90_s,
               CAST(MAX(latency_s) AS BIGINT) AS max_s
        FROM ranked
    """,
    doc=(
        "Time-to-convert distribution: per user, seconds from FIRST "
        "view to the first purchase AFTER it, summarized as exact "
        "rank-based percentiles (p50/p90 are actual observed latencies "
        "— disc, not interpolated, so hash-exact). The business twin "
        "of the ordered funnel: not just HOW MANY convert but HOW "
        "FAST. Plan: one conditional MIN per user for the view anchor, "
        "a user-keyed join + filtered MIN for the conversion, then the "
        "bucket-offset global rank (operators/scalable.py, day-grain "
        "latency buckets, user_id tie-break) over the users-sized "
        "latency table — no single-partition window at any grain."
    ),
    tags=("funnel", "stats", "window"),
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalable import bucketed_row_number

    t = Tables(spark, sf_dir)
    ev = t.events
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(
            (
                F.unix_timestamp(F.min("ts")) - F.unix_timestamp(F.col("first_view"))
            ).alias("latency_s")
        )
        .localCheckpoint(eager=False)  # reused by rank pass + count
    )
    ncnt = conv.agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        bucketed_row_number(
            conv.select("latency_s", "user_id"),
            F.floor(F.col("latency_s") / 86400).cast("bigint"),
            ["latency_s", "user_id"],
            out="rn",
        )
        .crossJoin(F.broadcast(ncnt))
        .select("latency_s", "rn", "n")
    )
    pick = lambda q: F.max(  # noqa: E731
        F.when(
            F.col("rn") == F.ceil(q * F.col("n")).cast("bigint"), F.col("latency_s")
        )
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_converted"),
        F.min("latency_s").cast("bigint").alias("min_s"),
        pick(0.5).alias("p50_s"),
        pick(0.9).alias("p90_s"),
        F.max("latency_s").cast("bigint").alias("max_s"),
    )


@register(
    "funnel_event_path_trigrams",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        paths AS (
            SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
            FROM seq WHERE e3 IS NOT NULL
            GROUP BY 1
        ),
        ranked AS (
            SELECT path, n,
                   row_number() OVER (ORDER BY n DESC, path) AS rn
            FROM paths
        )
        SELECT path, n FROM ranked WHERE rn <= 20
    """,
    doc=(
        "Top-20 three-step user paths (clickstream path mining): two "
        "leads over one per-user sort give consecutive event trigrams, "
        "counted and TakeOrdered'd. Ties on ts break by event_id so "
        "the sequence — and therefore the counts — are deterministic. "
        "One shuffle on user_id for the window, one hash agg keyed by "
        "path (bounded: |event_types|^3 keys), top-k without a global "
        "sort. The longer-memory companion of the Markov transition "
        "matrix (window_markov_transitions)."
    ),
    tags=("funnel", "window", "events"),
)
def funnel_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    paths = (
        seq.filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        paths.orderBy(F.col("n").desc(), "path").limit(20).select("path", "n")
    )


@register(
    "funnel_new_vs_returning_users",
    oracle="""
        WITH firsts AS (
            SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_d
            FROM events GROUP BY user_id
        ),
        dau AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
            FROM events GROUP BY d, user_id
        )
        SELECT dau.d AS day,
               CAST(COUNT(*) AS BIGINT) AS active_users,
               CAST(COUNT(CASE WHEN f.first_d = dau.d THEN 1 END) AS BIGINT)
                   AS new_users,
               CAST(COUNT(CASE WHEN f.first_d < dau.d THEN 1 END) AS BIGINT)
                   AS returning_users
        FROM dau JOIN firsts f USING (user_id)
        GROUP BY dau.d
    """,
    doc=(
        "Daily active users split into new vs returning — the growth "
        "dashboard's headline decomposition (DAU = acquisition + "
        "retention). One (day, user) dedup shuffle, a first-seen "
        "aggregate on the same user key (co-partitioned join, no extra "
        "exchange of the big side), then a day-grain rollup. All "
        "integer counts over exact date equality — hash-exact. At "
        "corpus scale the firsts table is users-sized and incrementally "
        "maintainable (MIN is associative — see "
        "cdc_incremental_mv_refresh for the maintenance pattern)."
    ),
    tags=("funnel", "agg", "timeseries", "dashboard"),
)
def funnel_new_vs_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    day = F.expr("CAST(date_trunc('day', ts) AS DATE)")
    firsts = t.events.groupBy("user_id").agg(F.min(day).alias("first_d"))
    dau = t.events.select(day.alias("d"), "user_id").distinct()
    return (
        dau.join(firsts, "user_id")
        .groupBy(F.col("d").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("active_users"),
            F.count(F.when(F.col("first_d") == F.col("d"), 1))
            .cast("bigint")
            .alias("new_users"),
            F.count(F.when(F.col("first_d") < F.col("d"), 1))
            .cast("bigint")
            .alias("returning_users"),
        )
    )


@register(
    "funnel_market_basket_lift",
    oracle="""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey AS basket, p_brand AS item
            FROM lineitem JOIN part ON l_partkey = p_partkey
        ),
        item_counts AS (
            SELECT item, COUNT(*) AS c FROM baskets GROUP BY item
        ),
        n AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM baskets),
        pairs AS (
            SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS pair_n
            FROM baskets a JOIN baskets b
              ON a.basket = b.basket AND a.item < b.item
            GROUP BY a.item, b.item
        ),
        scored AS (
            SELECT item_a, item_b, pair_n,
                   ca.c AS n_a, cb.c AS n_b,
                   CAST(pair_n AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
                   CAST(pair_n AS DOUBLE) / CAST(ca.c AS DOUBLE) AS confidence,
                   (CAST(pair_n AS DOUBLE) * CAST(n_baskets AS DOUBLE))
                     / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
            FROM pairs
            JOIN item_counts ca ON pairs.item_a = ca.item
            JOIN item_counts cb ON pairs.item_b = cb.item
            CROSS JOIN n
            WHERE pair_n >= 5
        )
        SELECT item_a, item_b, pair_n, n_a, n_b, support, confidence, lift
        FROM scored
        ORDER BY lift DESC, item_a, item_b
        LIMIT 20
    """,
    doc=(
        "Market-basket association rules over order baskets at the "
        "brand grain: one shuffle builds each order's sorted brand set, "
        "which emits the basket, its brands and its i<j brand pairs "
        "map-side (<=C(25,2) pairs per order, never a self-join); one "
        "aggregate counts all three, integer support counts, "
        "support/confidence/lift as exact integer ratios, top-20 lift "
        "via TakeOrderedAndProject. Scale: the count table is "
        "|brands|^2-bounded no matter how many orders, so it is gathered "
        "into one row and each pair looks its item and basket counts up "
        "there; the fact side is scanned once."
    ),
    tags=("funnel", "reco", "join"),
)
def funnel_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    # ONE shuffle on the basket key builds the per-order item set; pairs
    # explode map-side from the sorted array (each unordered pair once),
    # so the basket table is never self-joined — at 100 TB that removes
    # a fact-sized shuffle and the skew risk of a hot basket key.
    baskets = (
        t.lineitem.join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_orderkey").alias("basket"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("items"))
    )
    # each basket also emits itself (a = b = NULL) and each of its items
    # (b = NULL), so one aggregate counts baskets, items and pairs
    null = "CAST(NULL AS STRING)"
    rows = (
        f"concat(array(struct({null} AS a, {null} AS b)),"
        f" transform(items, x -> struct(x AS a, {null} AS b)),"
        f" {pair_structs('items', 'x AS a, y AS b')})"
    )
    counts = (
        baskets.select(F.inline(F.expr(rows)))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # <= 1 + |brands| + C(|brands|, 2) rows, gathered into one row: each
    # kept pair looks its item and basket counts up there, so the basket
    # table is read once and nothing is joined back to it
    scored = (
        counts.agg(F.collect_list(F.struct("a", "b", "c")).alias("g"))
        .select(
            "g",
            F.expr(
                "map_from_entries(transform(filter(g, r -> r.a IS NOT NULL AND r.b IS NULL),"
                " r -> struct(r.a, r.c)))"
            ).alias("n"),
            F.expr("aggregate(filter(g, r -> r.a IS NULL), 0L, (s, r) -> s + r.c)").alias("n_baskets"),
        )
        .select(
            F.expr(
                """inline(transform(filter(g, r -> r.b IS NOT NULL AND r.c >= 5), p -> struct(
                    p.a AS item_a, p.b AS item_b, p.c AS pair_n,
                    n[p.a] AS n_a, n[p.b] AS n_b, n_baskets)))"""
            )
        )
        .select(
            "item_a",
            "item_b",
            "pair_n",
            "n_a",
            "n_b",
            F.expr("CAST(pair_n AS DOUBLE) / CAST(n_baskets AS DOUBLE)").alias("support"),
            F.expr("CAST(pair_n AS DOUBLE) / CAST(n_a AS DOUBLE)").alias("confidence"),
            F.expr(
                "(CAST(pair_n AS DOUBLE) * CAST(n_baskets AS DOUBLE))"
                " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "item_a", "item_b").limit(20)


@register(
    "funnel_attribution_last_touch",
    oracle="""
        WITH tagged AS (
            SELECT user_id, ts, event_id, value,
                   CAST(NULL AS VARCHAR) AS t_type, 1 AS is_conv
            FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT user_id, ts, event_id, value, event_type, 0
            FROM events WHERE event_type != 'purchase'
        ),
        carried AS (
            SELECT user_id, value, is_conv,
                   last_value(t_type IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, is_conv, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS channel
            FROM tagged
        )
        SELECT COALESCE(channel, 'direct') AS channel,
               COUNT(*) AS n_conversions,
               CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                 AS attributed_revenue
        FROM carried WHERE is_conv = 1
        GROUP BY COALESCE(channel, 'direct')
    """,
    doc=(
        "Last-touch attribution: each purchase's value is credited to "
        "the user's most recent preceding non-purchase event type; "
        "purchases with no prior touch credit 'direct'. Same scalable "
        "union + last(ignorenulls) carry as the as-of join — one "
        "shuffle on user_id, no touch x conversion pair explosion — "
        "then a channel-grain decimal rollup. Equal-timestamp touches "
        "sort before the purchase (is_conv ASC), so a same-instant "
        "touch is attributable, matching the as-of convention."
    ),
    tags=("funnel", "attribution", "window"),
)
def funnel_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.lit(None).cast("string").alias("t_type"),
        F.lit(1).alias("is_conv"),
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.col("event_type").alias("t_type"),
        F.lit(0).alias("is_conv"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_conv", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = (
        conv.unionByName(touch)
        .select(
            "value",
            "is_conv",
            F.last("t_type", ignorenulls=True).over(w).alias("channel"),
        )
        .filter(F.col("is_conv") == 1)
    )
    return carried.groupBy(
        F.coalesce(F.col("channel"), F.lit("direct")).alias("channel")
    ).agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.expr(
            "CAST(SUM(CAST(value AS DECIMAL(38,8))) AS DOUBLE)"
        ).alias("attributed_revenue"),
    )


@register(
    "funnel_audience_overlap_jaccard",
    oracle="""
        WITH aud AS (
            SELECT DISTINCT event_type, user_id FROM events
        ),
        sizes AS (
            SELECT event_type, COUNT(*) AS n FROM aud GROUP BY event_type
        ),
        inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   COUNT(*) AS n_both
            FROM aud a JOIN aud b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        )
        SELECT type_a, type_b, n_both,
               sa.n AS n_a, sb.n AS n_b,
               CAST(n_both AS DOUBLE)
                 / CAST(sa.n + sb.n - n_both AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes sa ON inter.type_a = sa.event_type
        JOIN sizes sb ON inter.type_b = sb.event_type
    """,
    doc=(
        "Audience-overlap matrix: pairwise Jaccard between the distinct "
        "user sets of each event type. The self-join is on user_id "
        "AFTER dedup to the (type, user) grain, so each user "
        "contributes at most |types|^2 pairs — bounded by the type "
        "vocabulary, never by event volume; intersection and union "
        "sizes are exact integers with one final double ratio. The "
        "audience-overlap matrix is how growth teams find cannibalizing "
        "segments and how dataset curators detect near-identical "
        "source feeds."
    ),
    tags=("funnel", "setops", "join"),
)
def funnel_audience_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    aud = t.events.select("event_type", "user_id").distinct()
    sizes = aud.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = aud.select(F.col("event_type").alias("type_a"), "user_id")
    b = aud.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr(
                "CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE)"
            ).alias("jaccard"),
        )
    )


@register(
    "funnel_attribution_time_decay",
    oracle="""
        WITH conv AS (
            SELECT user_id, ts AS c_ts, value
            FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        ),
        touch AS (
            SELECT user_id, event_type AS channel, ts AS t_ts
            FROM events WHERE event_type != 'purchase'
        ),
        paired AS (
            SELECT t.channel,
                   CAST(datediff('day', CAST(t.t_ts AS DATE), CAST(c.c_ts AS DATE))
                        AS BIGINT) AS age_days,
                   CAST(round(c.value * 10000) AS BIGINT) AS v4
            FROM conv c JOIN touch t
              ON c.user_id = t.user_id
             AND t.t_ts <= c.c_ts
             AND t.t_ts > c.c_ts - INTERVAL 7 DAY
        ),
        weighted AS (
            SELECT channel,
                   CAST(64 / power(2, age_days) AS BIGINT) AS w,
                   v4
            FROM paired
        )
        SELECT channel,
               COUNT(*) AS n_touches,
               CAST(SUM(w) AS BIGINT) AS weight_points,
               CAST(SUM(v4 * w) AS BIGINT) AS value_points,
               CAST(SUM(w) AS DOUBLE)
                 / CAST(SUM(SUM(w)) OVER () AS DOUBLE) AS weight_share
        FROM weighted
        GROUP BY channel
    """,
    doc=(
        "Multi-touch attribution with exponential time decay (half-life "
        "= 1 day): every touch in the 7 days before a purchase earns "
        "weight 2^(6 - age_days) — INTEGER points (64, 32, ..., 1), so "
        "the whole decay ledger is exact integer arithmetic; no libm "
        "exp, no order-dependent float sums. The user-key pair join is "
        "bounded by touches-per-user-week (never all history, the "
        "window predicate is in the join condition), channel totals "
        "are one combine, and the final share is one double ratio of "
        "two integers. Complements funnel_attribution_last_touch with "
        "the fractional-credit model."
    ),
    tags=("funnel", "attribution", "join"),
)
def funnel_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events
    conv = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("user_id", F.col("ts").alias("c_ts"), "value")
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("event_type").alias("channel"), F.col("ts").alias("t_ts")
    )
    paired = conv.join(
        touch,
        (conv["user_id"] == touch["user_id"])
        & (touch["t_ts"] <= conv["c_ts"])
        & (touch["t_ts"] > conv["c_ts"] - F.expr("INTERVAL 7 DAY")),
    ).select(
        "channel",
        F.expr(
            "CAST(datediff(CAST(c_ts AS DATE), CAST(t_ts AS DATE)) AS BIGINT)"
        ).alias("age_days"),
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("v4"),
    )
    weighted = paired.select(
        "channel",
        F.expr("CAST(shiftright(64, CAST(age_days AS INT)) AS BIGINT)").alias("w"),
        "v4",
    )
    from pyspark.sql import Window as W

    agg = weighted.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("w").cast("bigint").alias("weight_points"),
        F.expr("CAST(SUM(v4 * w) AS BIGINT)").alias("value_points"),
    )
    tot = F.sum("weight_points").over(W.partitionBy())
    return agg.select(
        "channel",
        "n_touches",
        "weight_points",
        "value_points",
        (F.col("weight_points").cast("double") / tot.cast("double")).alias(
            "weight_share"
        ),
    )


@register(
    "funnel_bounce_rate_per_day",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                         OR datediff('second',
                                     lag(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id),
                                     ts) > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sess AS (
            SELECT user_id,
                   CAST(SUM(new_session) OVER (PARTITION BY user_id
                        ORDER BY ts, 0 - new_session
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_id,
                   ts
            FROM seq
        ),
        per_session AS (
            SELECT user_id, session_id,
                   CAST(MIN(ts) AS DATE) AS day,
                   COUNT(*) AS n_events
            FROM sess GROUP BY user_id, session_id
        )
        SELECT day,
               COUNT(*) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bounces,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS bounce_rate
        FROM per_session
        GROUP BY day
    """,
    doc=(
        "Daily bounce rate: 30-minute-gap sessionization (the lag + "
        "running-sum construction shared with the session-window "
        "family) rolled to sessions, then the share of single-event "
        "sessions per day — the engagement-health ratio every product "
        "dashboard carries. One user-key sort powers both windows; "
        "session and day rollups are integer counts with one final "
        "ratio. At-equal-ts ordering pins new_session rows first so "
        "the cumsum is deterministic under timestamp ties."
    ),
    tags=("funnel", "window", "session"),
)
def funnel_bounce_rate_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    seq = t.events.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(
            "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
            " IS NULL OR (unix_timestamp(ts) - unix_timestamp("
            "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) > 1800"
            " THEN 1 ELSE 0 END"
        ).alias("new_session"),
    )
    sess = seq.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(
            W.partitionBy("user_id")
            .orderBy("ts", F.expr("0 - new_session"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .cast("bigint")
        .alias("session_id"),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").cast("date").alias("day"), F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.expr("CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "n_bounces"
        ),
        F.expr(
            "CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)"
            " / CAST(COUNT(1) AS DOUBLE)"
        ).alias("bounce_rate"),
    )


@register(
    "funnel_survival_curve",
    oracle="""
        WITH lifetimes AS (
            SELECT user_id,
                   CAST(datediff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
                        AS BIGINT) AS lifetime_days
            FROM events GROUP BY user_id
        ),
        n AS (SELECT COUNT(*) AS n_users FROM lifetimes),
        grid AS (SELECT unnest(range(0, 31)) AS k)
        SELECT CAST(k AS BIGINT) AS day_k,
               CAST(COUNT(CASE WHEN lifetime_days >= k THEN 1 END) AS BIGINT)
                 AS n_surviving,
               CAST(COUNT(CASE WHEN lifetime_days >= k THEN 1 END) AS DOUBLE)
                 / CAST(MAX(n_users) AS DOUBLE) AS survival
        FROM grid CROSS JOIN lifetimes CROSS JOIN n
        GROUP BY k
    """,
    doc=(
        "Empirical survival (retention-lifetime CCDF) curve: the "
        "fraction of users still active k days after first being seen, "
        "for k = 0..30 — the engagement curve cohort tables summarize "
        "and growth models fit. Per-user lifetimes reduce in one "
        "combine, collapse to a day-grain HISTOGRAM (clamped at 30 — "
        "longer lifetimes survive every grid day identically), and the "
        "curve is the reverse running sum over the 31-row grid left-"
        "joined to it: n_surviving(k) = Σ_{d>=k} hist(d). ONE pass "
        "over users, no grid×users row blowup; the only window runs "
        "over 31 rows. All counts integer, one final ratio per row."
    ),
    tags=("funnel", "timeseries", "survival"),
)
def funnel_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    lifetimes = t.events.groupBy("user_id").agg(
        F.expr(
            "CAST(datediff(CAST(MAX(ts) AS DATE), CAST(MIN(ts) AS DATE)) AS BIGINT)"
        ).alias("lifetime_days")
    )
    hist = lifetimes.groupBy(
        F.least(F.col("lifetime_days"), F.lit(30)).alias("k")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    n = lifetimes.agg(F.count(F.lit(1)).alias("n_users"))
    grid = t.events.sparkSession.range(0, 31).select(F.col("id").alias("k"))
    # 31-row frame: the unpartitioned reverse cumsum is metadata-scale
    w_rev = W.orderBy(F.desc("k")).rowsBetween(W.unboundedPreceding, 0)
    return (
        grid.join(hist, "k", "left")
        .select("k", F.coalesce("cnt", F.lit(0)).alias("cnt"))
        .select("k", F.sum("cnt").over(w_rev).cast("bigint").alias("n_surviving"))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("k").cast("bigint").alias("day_k"),
            "n_surviving",
            (F.col("n_surviving").cast("double") / F.col("n_users").cast("double")).alias(
                "survival"
            ),
        )
    )


_ABSORB_STATE = "purchase"
_ABSORB_STEPS = 12
_ABSORB_SC = "1000000000000"  # 1e12 fixed-point probability scale


def _absorb_oracle() -> str:
    """DuckDB oracle: the 12-step absorption recurrence unrolled as
    chained CTEs over the (metadata-scale) transition-count matrix.
    Probabilities are 1e12-scaled integers; each step is
    (direct + SUM(cnt * p_prev)) // row_total — exact integer
    arithmetic, identical to the Spark iteration's truncation."""
    steps = []
    prev = "p0"
    for k in range(1, _ABSORB_STEPS + 1):
        steps.append(f"""p{k} AS (
            SELECT t.prev_type AS state,
                   CAST((CAST(MAX(t.n_to_absorb) AS HUGEINT) * {_ABSORB_SC}
                         + COALESCE(SUM(CAST(t.n AS HUGEINT) * p.p_scaled), 0))
                        // MAX(t.n_out) AS BIGINT) AS p_scaled
            FROM trans_m t
            LEFT JOIN {prev} p ON p.state = t.next_type
            GROUP BY t.prev_type
        )""")
        prev = f"p{k}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS next_type
            FROM events
        ),
        trans AS (
            SELECT event_type AS prev_type, next_type,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM seq
            WHERE next_type IS NOT NULL AND event_type <> '{_ABSORB_STATE}'
            GROUP BY 1, 2
        ),
        totals AS (
            SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_out,
                   CAST(COALESCE(SUM(CASE WHEN next_type = '{_ABSORB_STATE}'
                                          THEN n END), 0) AS BIGINT) AS n_to_absorb
            FROM trans GROUP BY prev_type
        ),
        trans_m AS (
            SELECT t.prev_type, t.next_type, t.n, tt.n_out, tt.n_to_absorb
            FROM trans t JOIN totals tt USING (prev_type)
            WHERE t.next_type <> '{_ABSORB_STATE}'
            UNION ALL
            -- keep states whose every transition absorbs (no non-absorbing
            -- edges would otherwise drop them from the GROUP BY)
            SELECT tt.prev_type, NULL, CAST(0 AS BIGINT), tt.n_out, tt.n_to_absorb
            FROM totals tt
        ),
        p0 AS (SELECT prev_type AS state, CAST(0 AS BIGINT) AS p_scaled
               FROM totals),
        {chain}
        SELECT t.prev_type AS state,
               t.n_out AS n_transitions,
               CAST(t.n_to_absorb AS DOUBLE) / t.n_out AS p_step1,
               CAST(p.p_scaled AS DOUBLE) / {_ABSORB_SC}.0 AS p_convert_{_ABSORB_STEPS}
        FROM totals t JOIN p{_ABSORB_STEPS} p ON p.state = t.prev_type
    """


def _transitions(t: Tables):
    """The event stream's Markov chain, collected once (metadata-scale:
    |states|^2 rows): ``m`` the (prev, next, n) counts of transitions
    that do not absorb, ``tot`` each state's (n_out, n_to_absorb). A
    lead window per user pairs each event with the next; nothing leaves
    the absorbing state."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        t.events.select("event_type", F.lead("event_type").over(w).alias("next_type"))
        .filter(F.col("next_type").isNotNull() & (F.col("event_type") != _ABSORB_STATE))
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()
    )
    m = [(s, nt, n) for s, nt, n in trans if nt != _ABSORB_STATE]
    tot: dict[str, tuple[int, int]] = {}
    for s, nt, n in trans:
        n_out, n_abs = tot.get(s, (0, 0))
        tot[s] = (n_out + n, n_abs + (n if nt == _ABSORB_STATE else 0))
    return m, tot


def _absorb(m, tot, removed: str | None) -> dict[str, int]:
    """Each state's probability of absorbing within ``_ABSORB_STEPS``
    steps, as a 1e12-scaled integer with truncating division per step
    (the oracle's unrolled-CTE recurrence, bit for bit), with state
    ``removed`` deleted from the chain: edges into it lose their mass
    and row totals keep their denominator. ``removed=None`` is the full
    chain."""
    sc = int(_ABSORB_SC)
    states = [s for s in tot if s != removed]
    p = {s: 0 for s in states}
    for _ in range(_ABSORB_STEPS):
        p = {
            s: (
                tot[s][1] * sc
                + sum(n * p.get(nt, 0) for pt, nt, n in m if pt == s and nt != removed)
            )
            // tot[s][0]
            for s in states
        }
    return p


@register(
    "funnel_markov_absorbing_conversion",
    oracle=_absorb_oracle(),
    doc=(
        "Markov-chain conversion modeling: treat the event stream as a "
        "per-user state chain, 'purchase' as the absorbing state, and "
        "compute each starting state's probability of converting "
        f"within {_ABSORB_STEPS} steps — the quantity the Markov "
        "attribution family (removal effect) is built from, and what "
        "last-touch/time-decay attribution approximates. The fact "
        "table is reduced ONCE to the |states|^2 transition-count "
        "matrix (a lag window per user, then a groupBy); the "
        f"{_ABSORB_STEPS}-step value iteration then runs on that "
        "metadata-scale matrix — driver-looped over a ~25-row "
        "DataFrame, the bounded-iteration pattern of kmeans/MMR. "
        "Probabilities iterate as 1e12-scaled integers with "
        "per-step truncating division, so every step is exact "
        "integer arithmetic and the oracle's unrolled-CTE recurrence "
        "hash-matches bit-for-bit (a float recurrence would drift "
        "with fold order)."
    ),
    tags=("funnel", "attribution", "graph"),
)
def funnel_markov_absorbing_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    m, tot = _transitions(Tables(spark, sf_dir))
    p = _absorb(m, tot, None)
    rows = [(s, tot[s][0], tot[s][1], p[s]) for s in sorted(tot)]
    out = spark.createDataFrame(
        rows, "state string, n_transitions bigint, n_to_absorb bigint, p_scaled bigint"
    )
    return out.select(
        "state",
        "n_transitions",
        (F.col("n_to_absorb").cast("double") / F.col("n_transitions")).alias(
            "p_step1"
        ),
        (F.col("p_scaled").cast("double") / float(_ABSORB_SC)).alias(
            f"p_convert_{_ABSORB_STEPS}"
        ),
    )


_MARKOV_CHANNELS = ("click", "error", "signup", "view")  # non-absorbing states


def _removal_chain_sql(tag: str, removed: str | None) -> str:
    """A 12-step absorption chain over trans_m with state ``removed``
    deleted: excluding it from every step's output makes edges INTO it
    find no match in the LEFT JOIN, so their probability mass is lost
    while row totals keep their original denominator — the standard
    removal-effect convention. ``removed=None`` is the base chain."""
    where = f"WHERE t.prev_type <> '{removed}'" if removed else ""
    steps = [
        f"""{tag}0 AS (
            SELECT prev_type AS state, CAST(0 AS BIGINT) AS p_scaled
            FROM totals {f"WHERE prev_type <> '{removed}'" if removed else ""})"""
    ]
    for k in range(1, _ABSORB_STEPS + 1):
        steps.append(f"""{tag}{k} AS (
            SELECT t.prev_type AS state,
                   CAST((CAST(MAX(t.n_to_absorb) AS HUGEINT) * {_ABSORB_SC}
                         + COALESCE(SUM(CAST(t.n AS HUGEINT) * p.p_scaled), 0))
                        // MAX(t.n_out) AS BIGINT) AS p_scaled
            FROM trans_m t
            LEFT JOIN {tag}{k - 1} p ON p.state = t.next_type
            {where}
            GROUP BY t.prev_type
        )""")
    return ",\n        ".join(steps)


def _removal_total_sql(tag: str, removed: str | None) -> str:
    """Start-weighted overall conversion for one chain, 1e12-scaled."""
    where = f"WHERE s.state <> '{removed}'" if removed else ""
    return f"""(
        SELECT CAST(SUM(CAST(s.n_start AS HUGEINT)
                        * COALESCE(p.p_scaled, 0))
                    // MAX(u.n_users) AS BIGINT)
        FROM starts s
        LEFT JOIN {tag}{_ABSORB_STEPS} p ON p.state = s.state
        CROSS JOIN users_n u
        {where}
    )"""


def _markov_removal_oracle() -> str:
    chains = [_removal_chain_sql("b", None)]
    totals_exprs = [f"{_removal_total_sql('b', None)} AS base_scaled"]
    for i, ch in enumerate(_MARKOV_CHANNELS):
        chains.append(_removal_chain_sql(f"r{i}", ch))
        totals_exprs.append(f"{_removal_total_sql(f'r{i}', ch)} AS rem_{i}")
    chain_sql = ",\n        ".join(chains)
    sel = ",\n               ".join(totals_exprs)
    rows = " UNION ALL ".join(
        f"SELECT '{ch}' AS channel, rem_{i} AS rem_scaled FROM sums"
        for i, ch in enumerate(_MARKOV_CHANNELS)
    )
    # MATERIALIZED: the five 12-step chains reference these base CTEs
    # ~65 times; DuckDB would otherwise inline (re-evaluate) the event
    # scan into every step and the oracle never finishes at sf0.01+
    return f"""
        WITH seq AS MATERIALIZED (
            SELECT user_id, ts, event_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS next_type
            FROM events
        ),
        trans AS MATERIALIZED (
            SELECT event_type AS prev_type, next_type,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM seq
            WHERE next_type IS NOT NULL AND event_type <> '{_ABSORB_STATE}'
            GROUP BY 1, 2
        ),
        totals AS MATERIALIZED (
            SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_out,
                   CAST(COALESCE(SUM(CASE WHEN next_type = '{_ABSORB_STATE}'
                                          THEN n END), 0) AS BIGINT) AS n_to_absorb
            FROM trans GROUP BY prev_type
        ),
        trans_m AS MATERIALIZED (
            SELECT t.prev_type, t.next_type, t.n, tt.n_out, tt.n_to_absorb
            FROM trans t JOIN totals tt USING (prev_type)
            WHERE t.next_type <> '{_ABSORB_STATE}'
            UNION ALL
            SELECT tt.prev_type, NULL, CAST(0 AS BIGINT), tt.n_out, tt.n_to_absorb
            FROM totals tt
        ),
        firsts AS (
            SELECT user_id, event_type AS state FROM (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ) WHERE rn = 1
        ),
        starts AS MATERIALIZED (
            SELECT state, CAST(COUNT(*) AS BIGINT) AS n_start
            FROM firsts WHERE state <> '{_ABSORB_STATE}' GROUP BY state
        ),
        users_n AS (SELECT CAST(SUM(n_start) AS BIGINT) AS n_users FROM starts),
        {chain_sql},
        sums AS (SELECT {sel}),
        channels AS ({rows})
        SELECT c.channel,
               COALESCE(s.n_start, 0) AS n_starts,
               CAST(m.base_scaled AS DOUBLE) / {_ABSORB_SC}.0 AS p_conv_base,
               CAST(c.rem_scaled AS DOUBLE) / {_ABSORB_SC}.0 AS p_conv_removed,
               CAST(m.base_scaled - c.rem_scaled AS DOUBLE) / {_ABSORB_SC}.0
                   AS removal_effect,
               CASE WHEN t.eff_total = 0 THEN NULL
                    ELSE CAST(m.base_scaled - c.rem_scaled AS DOUBLE)
                         / CAST(t.eff_total AS DOUBLE) END AS attribution_share
        FROM channels c
        CROSS JOIN sums m
        CROSS JOIN (SELECT SUM(base_scaled - rem_scaled) AS eff_total
                    FROM (SELECT m2.base_scaled, c2.rem_scaled
                          FROM channels c2 CROSS JOIN sums m2)) t
        LEFT JOIN starts s ON s.state = c.channel
    """


@register(
    "funnel_markov_removal_attribution",
    oracle=_markov_removal_oracle(),
    doc=(
        "Markov removal-effect attribution (Anderl et al. 2016): each "
        "channel's credit is how much the overall start-weighted "
        f"{_ABSORB_STEPS}-step conversion probability drops when that "
        "channel is deleted from the chain (its inbound probability "
        "mass lost, denominators unchanged), normalized across "
        "channels — the data-driven alternative to last-touch/"
        "time-decay heuristics, and the model both of those "
        "approximate. Five exact value iterations (base + one per "
        "channel) run on the collected states^2 matrix — metadata-"
        "scale, the kmeans/MMR bounded-iteration pattern — with "
        "probabilities as 1e12-scaled integers, so the oracle's five "
        "unrolled-CTE chains hash-match bit-for-bit. The fact table "
        "is touched twice (transition counts; per-user first states), "
        "both partial-agg shuffles."
    ),
    tags=("funnel", "attribution", "graph"),
)
def funnel_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    m, tot = _transitions(t)
    starts = (
        t.events.groupBy("user_id")
        .agg(F.expr("min_by(event_type, struct(ts, event_id))").alias("state"))
        .filter(F.col("state") != _ABSORB_STATE)
        .groupBy("state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_start"))
    )
    st = {r["state"]: r["n_start"] for r in starts.collect()}
    n_users = sum(st.values())
    sc = int(_ABSORB_SC)

    def iterate(removed):
        if n_users == 0:
            return 0  # zero-row input: no users, no conversion mass
        p = _absorb(m, tot, removed)
        return sum(st[s] * p.get(s, 0) for s in st if s != removed) // n_users

    base = iterate(None)
    rems = {ch: iterate(ch) for ch in _MARKOV_CHANNELS}
    eff_total = sum(base - r for r in rems.values())
    rows = [(ch, st.get(ch, 0), base, rems[ch], base - rems[ch]) for ch in _MARKOV_CHANNELS]
    out = spark.createDataFrame(
        rows,
        "channel string, n_starts bigint, base_scaled bigint,"
        " rem_scaled bigint, eff_scaled bigint",
    )
    return out.select(
        "channel",
        "n_starts",
        (F.col("base_scaled").cast("double") / sc).alias("p_conv_base"),
        (F.col("rem_scaled").cast("double") / sc).alias("p_conv_removed"),
        (F.col("eff_scaled").cast("double") / sc).alias("removal_effect"),
        (
            F.col("eff_scaled").cast("double") / float(eff_total)
            if eff_total
            else F.lit(None).cast("double")
        ).alias("attribution_share"),
    )


_KM_SC = "1000000000"  # 1e9 fixed-point survival scale


#: the recursive KM core, the oracle side (DuckDB WITH RECURSIVE):
#: survival iterates as a 1e9-scaled integer,
#: S_k = floor(S_{k-1} * (n_k - d_k) / n_k). Both engines compute the
#: BIGINT product exactly, the same correctly-rounded double division,
#: and the same floor — engine-identical at every step while the
#: product stays under 2^53 (users <= ~9e6 per study; beyond that,
#: shard studies by cohort). km_steps is the per-engine prelude
#: (DATE arithmetic dialects differ), and carries death times only.
_KM_CORE = f"""
    walk AS (
        SELECT CAST(0 AS BIGINT) AS rn, CAST({_KM_SC} AS BIGINT) AS s
        UNION ALL
        SELECT k.rn,
               CAST(floor((w.s * (k.n_at_risk - k.d)) / k.n_at_risk) AS BIGINT)
        FROM km_steps k JOIN walk w ON k.rn = w.rn + 1
    )
    SELECT k.t_days, k.n_at_risk, k.d AS n_deaths, k.c AS n_censored,
           CAST(w.s AS DOUBLE) / {_KM_SC}.0 AS survival
    FROM km_steps k JOIN walk w ON w.rn = k.rn
    ORDER BY k.t_days
"""

#: the same walk on the Spark side as one lazy plan: the step table
#: (one row per death day; follow-up is at most 5 days, so at most 6
#: steps at any scale) is gathered into one sorted array and folded by
#: aggregate() with _KM_CORE's step expression, then exploded back.
_KM_FOLD = f"""
    folded AS (
        SELECT steps,
               slice(aggregate(steps, CAST(array({_KM_SC}) AS ARRAY<BIGINT>),
                     (s, k) -> concat(s, array(CAST(floor(
                         (element_at(s, -1) * (k.n_at_risk - k.d)) / k.n_at_risk)
                         AS BIGINT)))), 2, size(steps)) AS s
        FROM (SELECT array_sort(collect_list(struct(rn, t_days, n_at_risk, d, c)))
                     AS steps
              FROM km_steps)
    ),
    walk AS (SELECT inline(arrays_zip(steps, s)) FROM folded)
    SELECT steps.t_days, steps.n_at_risk, steps.d AS n_deaths,
           steps.c AS n_censored, CAST(s AS DOUBLE) / {_KM_SC}.0 AS survival
    FROM walk
    ORDER BY t_days
"""


def _km_steps_sql(day_diff, events: str = "events") -> str:
    """Engine-specific prelude to the KM walk: per-user time to
    first purchase under staggered follow-up (each user observed for
    1 + user_id %% 5 days — the rolling-enrollment study shape that
    right-censors users whose window ends before they convert), then
    death/censor counts per day, at-risk via the day-grain cumulative
    sum, death times numbered for the walk. ``day_diff(a, b)`` renders
    whole days from a to b; ``events`` names the events relation."""
    return f"""
    users AS (
        SELECT user_id,
               MIN(CAST(ts AS DATE)) AS first_day,
               MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
                   AS purchase_day,
               CAST(1 + user_id % 5 AS BIGINT) AS followup_days
        FROM {events} GROUP BY user_id
    ),
    times AS (
        SELECT CASE WHEN purchase_day IS NOT NULL
                     AND {day_diff('first_day', 'purchase_day')} <= followup_days
                    THEN {day_diff('first_day', 'purchase_day')} END AS t_dead,
               followup_days AS t_cens_at
        FROM users
    ),
    per_day AS (
        SELECT COALESCE(t_dead, t_cens_at) AS t_days,
               CAST(COUNT(t_dead) AS BIGINT) AS d,
               CAST(COUNT(CASE WHEN t_dead IS NULL THEN 1 END) AS BIGINT) AS c
        FROM times GROUP BY 1
    ),
    at_risk AS (
        -- r11: SUM(..) OVER () instead of a scalar subquery — the
        -- subquery re-ran the whole events->users->times->per_day
        -- pipeline a second time (second fact scan + two exchanges);
        -- the unpartitioned window reads the same day-grain rows once
        -- (bounded by the calendar span). Same total, same rows.
        SELECT t_days, d, c,
               CAST(SUM(d + c) OVER () AS BIGINT)
                 - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS n_at_risk
        FROM per_day
    ),
    km_steps AS (
        SELECT CAST(row_number() OVER (ORDER BY t_days) AS BIGINT) AS rn,
               t_days, n_at_risk, d, c
        FROM at_risk WHERE d > 0
    )"""


@register(
    "funnel_kaplan_meier_conversion",
    oracle=(
        "WITH RECURSIVE "
        + _km_steps_sql(lambda a, b: f"datediff('day', {a}, {b})")
        + ",\n" + _KM_CORE
    ),
    doc=(
        "Kaplan-Meier survival for time-to-first-purchase under "
        "staggered follow-up (each user observed 1 + user_id %% 5 "
        "days) — the right-censored estimator funnel_survival_curve "
        "(a naive CCDF) cannot replace: users whose observation "
        "window closes before they convert contribute to the at-risk "
        "denominators up to their censor time instead of polluting "
        "the event counts. The product-limit estimator iterates "
        "survival as a 1e9-scaled integer so every step is engine-"
        "identical arithmetic: the oracle walks it with a WITH "
        "RECURSIVE CTE (_KM_CORE); Spark gathers the step table into "
        "one sorted array and folds _KM_CORE's step expression over it "
        "with aggregate() — one lazy plan, no per-step jobs. The fact "
        "table reduces to per-user first/purchase days in one shuffle; "
        "everything after is the calendar-bounded step table (at most "
        "6 death days: follow-up ends after 5)."
    ),
    tags=("funnel", "timeseries", "stats"),
)
def funnel_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        "WITH "
        + _km_steps_sql(lambda a, b: f"datediff({b}, {a})", events="{events}")
        + ",\n"
        + _KM_FOLD,
        events=Tables(spark, sf_dir).events,
    )


_LR_SC = "10000000000"  # 1e10 exactness scale for the log-rank folds


def _logrank_steps_sql(day_diff, events: str = "events") -> str:
    """Two-arm (user_id % 2) version of the KM prelude: per death time,
    total and arm-A at-risk counts and death counts."""
    return f"""
    users AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS arm,
               MIN(CAST(ts AS DATE)) AS first_day,
               MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
                   AS purchase_day,
               CAST(1 + user_id % 5 AS BIGINT) AS followup_days
        FROM {events} GROUP BY user_id
    ),
    times AS (
        SELECT arm,
               CASE WHEN purchase_day IS NOT NULL
                     AND {day_diff('first_day', 'purchase_day')} <= followup_days
                    THEN {day_diff('first_day', 'purchase_day')} END AS t_dead,
               followup_days AS t_cens_at
        FROM users
    ),
    per_day AS (
        SELECT COALESCE(t_dead, t_cens_at) AS t_days,
               CAST(COUNT(t_dead) AS BIGINT) AS d,
               CAST(COUNT(CASE WHEN t_dead IS NULL THEN 1 END) AS BIGINT) AS c,
               CAST(COUNT(CASE WHEN arm = 0 THEN t_dead END) AS BIGINT) AS d_a,
               CAST(COUNT(CASE WHEN arm = 0 AND t_dead IS NULL THEN 1 END)
                    AS BIGINT) AS c_a
        FROM times GROUP BY 1
    ),
    at_risk AS (
        -- r11: SUM(..) OVER () replaces the two scalar subqueries that
        -- each re-ran the events->users->times->per_day pipeline (two
        -- extra fact scans); the unpartitioned windows read the same
        -- day-grain rows once. Same totals, same rows.
        SELECT t_days, d, d_a,
               CAST(SUM(d + c) OVER () AS BIGINT)
                 - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS n,
               CAST(SUM(d_a + c_a) OVER () AS BIGINT)
                 - CAST(COALESCE(SUM(d_a + c_a) OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS n_a
        FROM per_day
    )"""


def _logrank_final(dbl, int_div, big: str) -> str:
    """Shared-shape log-rank fold: observed-minus-expected and the
    hypergeometric variance per death time, folded EXACTLY as
    1e10-scaled integers (``int_div`` renders the engine's floor
    division, ``big`` its 128-bit integer type), then one shared
    chi-square closed form."""
    ome = (
        f"SUM(d_a * {_LR_SC} - "
        + int_div(f"CAST(n_a AS {big}) * d * {_LR_SC}", "n")
        + ")"
    )
    v = (
        "SUM("
        + int_div(
            f"CAST(n_a AS {big}) * (n - n_a) * d * (n - d) * {_LR_SC}",
            f"CAST(n AS {big}) * n * (n - 1)",
        )
        + ")"
    )
    return f"""
        sums AS (
            SELECT CAST(SUM(d) AS BIGINT) AS total_deaths,
                   CAST(SUM(d_a) AS BIGINT) AS deaths_arm0,
                   CAST({ome} AS BIGINT) AS ome_scaled,
                   CAST({v} AS BIGINT) AS v_scaled
            FROM at_risk WHERE d > 0 AND n > 1
        )
        SELECT total_deaths, deaths_arm0,
               {dbl('ome_scaled')} / {_LR_SC}.0 AS observed_minus_expected,
               {dbl('v_scaled')} / {_LR_SC}.0 AS variance,
               CASE WHEN v_scaled = 0 THEN NULL
                    ELSE ({dbl('ome_scaled')} / {_LR_SC}.0)
                         * ({dbl('ome_scaled')} / {_LR_SC}.0)
                         / ({dbl('v_scaled')} / {_LR_SC}.0)
               END AS chi2_logrank
        FROM sums
    """


@register(
    "stats_logrank_two_arm",
    oracle=(
        "WITH "
        + _logrank_steps_sql(lambda a, b: f"datediff('day', {a}, {b})")
        + ",\n"
        + _logrank_final(
            lambda x: f"CAST(CAST({x} AS VARCHAR) AS DOUBLE)",
            lambda num, den: f"(({num}) // ({den}))",
            "HUGEINT",
        )
    ),
    doc=(
        "Log-rank test between the even/odd user arms of the "
        "Kaplan-Meier study (funnel_kaplan_meier_conversion's exact "
        "two-sample companion): per death time, arm-A's observed "
        "minus hypergeometric-expected deaths and the "
        "hypergeometric variance, folded EXACTLY as 1e10-scaled "
        "integers (float folds of per-time rationals are "
        "accumulation-order-dependent), then chi2 = (O-E)^2/V as one "
        "shared closed form. The survival-analysis A/B test — "
        "censoring-aware where the two-proportion z-test is not. "
        "Same plan shape as KM minus the recursion: one per-user "
        "shuffle, then the calendar-bounded step table."
    ),
    tags=("stats", "ab", "funnel", "timeseries"),
)
def stats_logrank_two_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        "WITH "
        + _logrank_steps_sql(lambda a, b: f"datediff({b}, {a})", events="{events}")
        + ",\n"
        + _logrank_final(
            lambda x: f"CAST({x} AS DOUBLE)",
            lambda num, den: f"(({num}) DIV ({den}))",
            "DECIMAL(38,0)",
        ),
        events=Tables(spark, sf_dir).events,
    )


def _na_final(dbl, int_div) -> str:
    """Nelson-Aalen over the KM step table: discrete hazard d/n per
    death time and the cumulative hazard H(t) = SUM d/n folded as
    exact 1e10-scaled integers (running window over the bounded step
    table), with the classic exp-free survival bound pair left to the
    caller (exp is libm-territory)."""
    step = int_div(f"CAST(d AS BIGINT) * {_LR_SC}", "n_at_risk")
    return f"""
        hazards AS (
            SELECT t_days, n_at_risk, d,
                   CAST({step} AS BIGINT) AS h_scaled,
                   CAST(SUM({step}) OVER (ORDER BY t_days
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS ch_scaled
            FROM km_steps
        )
        SELECT t_days, n_at_risk, d AS n_deaths,
               {dbl('h_scaled')} / {_LR_SC}.0 AS hazard,
               {dbl('ch_scaled')} / {_LR_SC}.0 AS cumulative_hazard
        FROM hazards
        ORDER BY t_days
    """


@register(
    "stats_nelson_aalen_hazard",
    oracle=(
        "WITH "
        + _km_steps_sql(lambda a, b: f"datediff('day', {a}, {b})")
        + ",\n"
        + _na_final(
            lambda x: f"CAST(CAST({x} AS VARCHAR) AS DOUBLE)",
            lambda num, den: f"(({num}) // ({den}))",
        )
    ),
    doc=(
        "Nelson-Aalen cumulative hazard over the same right-censored "
        "time-to-purchase study as funnel_kaplan_meier_conversion — "
        "the additive counterpart of KM's product-limit estimator "
        "(H(t) = Σ d/n; exp(-H) bounds KM's S from above), and the "
        "curve a hazard-regression model is fit against. Per-step "
        "hazards fold as exact 1e10-scaled integers through a "
        "running window over the calendar-bounded step table (a "
        "float Σ d/n would be accumulation-order-dependent), so no "
        "recursion is needed — this is the closed-form sibling of "
        "the KM walk, same one-shuffle plan."
    ),
    tags=("stats", "funnel", "timeseries"),
)
def stats_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        "WITH "
        + _km_steps_sql(lambda a, b: f"datediff({b}, {a})", events="{events}")
        + ",\n"
        + _na_final(
            lambda x: f"CAST({x} AS DOUBLE)",
            lambda num, den: f"(({num}) DIV ({den}))",
        ),
        events=Tables(spark, sf_dir).events,
    )


# -- Shapley-value attribution (r4) ------------------------------------------
#
# Completes the attribution family (last-touch, time-decay, Markov
# absorbing-chain, Markov removal-effect): the cooperative-game credit
# split.  Characteristic function v(S) = number of converted users whose
# pre-purchase channel set is contained in S; the Shapley value of
# channel c is the factorially-weighted mean marginal contribution over
# all coalitions.  With |channels| = 4 the coalition lattice has 16
# nodes, so the WHOLE game collapses to a 16-row conversion-per-mask
# table — the fact table is touched exactly twice (first-purchase agg +
# touch agg, both keyed on user_id), and the Shapley fold is a
# broadcast equi-join against a STATIC 64-row (mask, channel,
# weight-sum) lookup precomputed in Python, never a subset cross join.
# All arithmetic is integer until the single final division by 4! = 24.

_SHAP_BITS = (("signup", 1), ("click", 2), ("view", 4), ("error", 8))
_SHAP_FACT = {0: 6, 1: 2, 2: 2, 3: 6}  # |S|! * (4-|S|-1)!  (denominator 24)


def _shapley_lookup_rows() -> list[tuple[int, str, int]]:
    """Static (mask, channel, total_weight) rows: total_weight =
    sum over coalitions S not containing c with mask <= S u {c} and
    c in mask of |S|!(n-|S|-1)!."""
    from itertools import combinations

    out: dict[tuple[int, str], int] = {}
    bits = dict(_SHAP_BITS)
    for ch, cb in _SHAP_BITS:
        others = [b for _, b in _SHAP_BITS if b != cb]
        for r in range(len(others) + 1):
            for combo in combinations(others, r):
                smask = sum(combo)
                w = _SHAP_FACT[r]
                for m in range(16):
                    if (m & ~(smask | cb)) == 0 and (m & cb):
                        out[(m, ch)] = out.get((m, ch), 0) + w
    return sorted((m, ch, w) for (m, ch), w in out.items())


def _shapley_lookup_values() -> str:
    return ", ".join(f"({m}, '{ch}', {w})" for m, ch, w in _shapley_lookup_rows())


_SHAPLEY_MASK_SQL_SPARK = " + ".join(
    f"MAX(CASE WHEN event_type = '{ch}' THEN {b} ELSE 0 END)" for ch, b in _SHAP_BITS
)


def _shapley_oracle() -> str:
    mask_bits = " + ".join(
        f"MAX(CASE WHEN t.event_type = '{ch}' THEN {b} ELSE 0 END)" for ch, b in _SHAP_BITS
    )
    return f"""
        WITH fp1 AS (
            SELECT user_id, MIN(ts) AS fp_ts
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        first_purchase AS (
            SELECT e.user_id, f.fp_ts, MIN(e.event_id) AS fp_id
            FROM events e JOIN fp1 f
              ON e.user_id = f.user_id AND e.ts = f.fp_ts
            WHERE e.event_type = 'purchase'
            GROUP BY e.user_id, f.fp_ts
        ),
        touch AS (
            SELECT f.user_id, {mask_bits} AS mask
            FROM first_purchase f JOIN events t ON t.user_id = f.user_id
            WHERE t.event_type != 'purchase'
              AND (t.ts < f.fp_ts
                   OR (t.ts = f.fp_ts AND t.event_id < f.fp_id))
            GROUP BY f.user_id
        ),
        user_mask AS (
            SELECT f.user_id, COALESCE(t.mask, 0) AS mask
            FROM first_purchase f LEFT JOIN touch t ON f.user_id = t.user_id
        ),
        conv AS (
            SELECT mask, COUNT(*) AS n_conv FROM user_mask GROUP BY mask
        ),
        lookup(mask, channel, wsum) AS (
            VALUES {_shapley_lookup_values()}
        )
        SELECT l.channel,
               CAST(SUM(c.n_conv * l.wsum) AS BIGINT) AS weighted_num,
               CAST(SUM(c.n_conv * l.wsum) AS DOUBLE) / 24.0e0 AS shapley_conversions
        FROM conv c JOIN lookup l ON c.mask = l.mask
        GROUP BY l.channel
        ORDER BY channel
    """


@register(
    "funnel_shapley_attribution",
    oracle=_shapley_oracle(),
    doc=(
        "A36 Shapley-value attribution (r4) — the cooperative-game "
        "credit split that completes the attribution family: "
        "v(S) = conversions whose pre-first-purchase channel set is "
        "contained in S; credit(c) = factorially-weighted mean marginal "
        "contribution. The fact table is reduced ONCE to a <=16-row "
        "conversions-per-mask table (two user-keyed shuffles), and the "
        "coalition fold is a broadcast equi-join against a static "
        "64-row (mask, channel, weight) lookup precomputed in Python — "
        "no subset cross join exists in the plan at any scale. Exact "
        "integers until the single final division by 4!; 'strictly "
        "before first purchase' is pinned by (ts, event_id) ordering "
        "so equal-timestamp touches resolve identically on both "
        "engines."
    ),
    tags=("funnel", "attribution", "agg", "llm"),
)
def funnel_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("fp"))
        .select("user_id", F.col("fp.ts").alias("fp_ts"), F.col("fp.event_id").alias("fp_id"))
    )
    touches = (
        ev.filter(F.col("event_type") != "purchase")
        .join(fp, "user_id")
        .filter(
            (F.col("ts") < F.col("fp_ts"))
            | ((F.col("ts") == F.col("fp_ts")) & (F.col("event_id") < F.col("fp_id")))
        )
        .groupBy("user_id")
        .agg(F.expr(_SHAPLEY_MASK_SQL_SPARK).alias("mask"))
    )
    user_mask = fp.join(touches, "user_id", "left").select(
        "user_id", F.coalesce(F.col("mask"), F.lit(0)).alias("mask")
    )
    conv = user_mask.groupBy("mask").agg(F.count(F.lit(1)).alias("n_conv"))
    lookup = spark.createDataFrame(
        _shapley_lookup_rows(), "mask int, channel string, wsum int"
    )
    return (
        conv.join(F.broadcast(lookup), "mask")
        .groupBy("channel")
        .agg(
            F.sum(F.col("n_conv") * F.col("wsum")).cast("bigint").alias("weighted_num"),
            (F.sum(F.col("n_conv") * F.col("wsum")).cast("double") / F.lit(24.0)).alias(
                "shapley_conversions"
            ),
        )
        .orderBy("channel")
    )


# -- windowed funnel levels (ClickHouse windowFunnel semantics, r4) ----------

_WF_WINDOW_S = 3 * 24 * 3600  # chain must complete within 3 days of its start


def _window_funnel_oracle() -> str:
    return f"""
        WITH v AS (
            SELECT user_id, ts AS t1 FROM events WHERE event_type = 'view'
        ),
        c2 AS (
            SELECT v.user_id, v.t1, MIN(c.ts) AS t2
            FROM v JOIN events c
              ON c.user_id = v.user_id AND c.event_type = 'click'
             AND c.ts > v.t1
             AND c.ts <= v.t1 + INTERVAL {_WF_WINDOW_S} SECONDS
            GROUP BY v.user_id, v.t1
        ),
        done AS (
            SELECT DISTINCT c2.user_id
            FROM c2 JOIN events p
              ON p.user_id = c2.user_id AND p.event_type = 'purchase'
             AND p.ts > c2.t2
             AND p.ts <= c2.t1 + INTERVAL {_WF_WINDOW_S} SECONDS
        ),
        lvl AS (
            SELECT u.user_id,
                   CASE WHEN d.user_id IS NOT NULL THEN 3
                        WHEN c.user_id IS NOT NULL THEN 2
                        WHEN v.user_id IS NOT NULL THEN 1
                        ELSE 0 END AS level
            FROM (SELECT DISTINCT user_id FROM events) u
            LEFT JOIN (SELECT DISTINCT user_id FROM v) v ON u.user_id = v.user_id
            LEFT JOIN (SELECT DISTINCT user_id FROM c2) c ON u.user_id = c.user_id
            LEFT JOIN done d ON u.user_id = d.user_id
        )
        SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM lvl GROUP BY level ORDER BY level
    """


@register(
    "funnel_window_funnel_levels",
    oracle=_window_funnel_oracle(),
    doc=(
        "A37 windowed funnel (r4) — ClickHouse windowFunnel semantics: "
        "per user, the deepest view -> later click -> later purchase "
        "chain that COMPLETES within 3 days of its starting view, "
        "evaluated over EVERY candidate start (a user whose first view "
        "never converts still levels up via a later view). The greedy "
        "reduction makes this declarative and exact: taking the "
        "EARLIEST in-window click after each view maximizes the "
        "remaining purchase window (exchange argument), so min-per-"
        "start joins compute the true existential chain. All joins are "
        "user-keyed equi-joins with time-range predicates; the per-"
        "start fan-out is bounded by per-user activity (hub-user skew "
        "at 100 TB routes through the documented salting remedy, or "
        "the applyInPandasWithState sequential form for degenerate "
        "keys). funnel_conversion_ordered is the unwindowed twin."
    ),
    tags=("analytics", "events", "funnel", "window"),
)
def funnel_window_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ev = t.events
    win = F.expr(f"INTERVAL {_WF_WINDOW_S} SECONDS")
    v = ev.filter(F.col("event_type") == "view").select("user_id", F.col("ts").alias("t1"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    c2 = (
        v.join(clicks, (F.col("user_id") == F.col("c_user"))
               & (F.col("c_ts") > F.col("t1"))
               & (F.col("c_ts") <= F.col("t1") + win))
        .groupBy("user_id", "t1")
        .agg(F.min("c_ts").alias("t2"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    done = (
        c2.join(purchases, (F.col("user_id") == F.col("p_user"))
                & (F.col("p_ts") > F.col("t2"))
                & (F.col("p_ts") <= F.col("t1") + win))
        .select("user_id")
        .distinct()
        .withColumn("lvl3", F.lit(True))
    )
    has_v = v.select("user_id").distinct().withColumn("lvl1", F.lit(True))
    has_c = c2.select("user_id").distinct().withColumn("lvl2", F.lit(True))
    lvl = (
        ev.select("user_id").distinct()
        .join(has_v, "user_id", "left")
        .join(has_c, "user_id", "left")
        .join(done, "user_id", "left")
        .select(
            F.when(F.col("lvl3"), 3)
            .when(F.col("lvl2"), 2)
            .when(F.col("lvl1"), 1)
            .otherwise(0)
            .alias("level")
        )
    )
    return (
        lvl.groupBy("level")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("level")
    )


_PATHS_TOP = 20


@register(
    "funnel_top_paths_3step",
    oracle=f"""
        WITH ranked AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        paths AS (
            SELECT user_id,
                   MAX(CASE WHEN rn = 1 THEN event_type END) AS e1,
                   MAX(CASE WHEN rn = 2 THEN event_type END) AS e2,
                   MAX(CASE WHEN rn = 3 THEN event_type END) AS e3
            FROM ranked WHERE rn <= 3
            GROUP BY user_id
        )
        SELECT e1 || '>' || e2 || '>' || e3 AS path,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM paths
        WHERE e3 IS NOT NULL
        GROUP BY e1 || '>' || e2 || '>' || e3
        ORDER BY n_users DESC, path
        LIMIT {_PATHS_TOP}
    """,
    doc=(
        "A38: top opening paths — each user's first three events "
        "(ordered by (ts, event_id), the unique tie-free key) joined "
        "into a path string, counted, top-{0} — the Sankey/flow query "
        "behind every onboarding dashboard and the empirical prior "
        "under the Markov attribution chain already in the battery. "
        "The ranking window partitions by user (never global); rn <= 3 "
        "caps the carried rows before the path fold; top-k plans as "
        "TakeOrderedAndProject with the path tiebreak. Users with "
        "fewer than three events drop (no partial paths)."
        .format(_PATHS_TOP)
    ),
    tags=("funnel", "topk"),
)
def funnel_top_paths_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    ranked = t.events.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    ).filter(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("e1"),
        F.max(F.when(F.col("rn") == 2, F.col("event_type"))).alias("e2"),
        F.max(F.when(F.col("rn") == 3, F.col("event_type"))).alias("e3"),
    )
    return (
        paths.filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(_PATHS_TOP)
    )


#: power-of-two padding buckets: n_chars in (2^(k-1), 2^k] pads to 2^k
_PAD_BUCKETS = [(1 << k, (1 << (k - 1)) + 1, 1 << k) for k in range(1, 22)]
_PAD_BUCKETS[0] = (2, 1, 2)  # fold n = 1 into the smallest bucket
#: ADVICE r6: the inner range join silently dropped n_chars = 0 and
#: n_chars > 2^21 — catch both with sentinel buckets (pad_to 0 = empty/
#: invalid, pad_to -1 = over-max, padding undefined) so the report
#: always accounts for every document
_PAD_BUCKETS_ALL = _PAD_BUCKETS + [
    (0, -(1 << 62), 0),
    (-1, (1 << 21) + 1, 1 << 62),
]


def _pad_bucket_values_sql() -> str:
    return ", ".join(f"({p}, {lo}, {hi})" for p, lo, hi in _PAD_BUCKETS_ALL)


@register(
    "pipeline_length_bucket_padding_waste",
    oracle=f"""
        WITH buckets(pad_to, lo, hi) AS (VALUES {_pad_bucket_values_sql()}),
        assigned AS (
            SELECT b.pad_to, d.n_chars
            FROM documents d JOIN buckets b
              ON d.n_chars BETWEEN b.lo AND b.hi
        )
        SELECT CAST(pad_to AS BIGINT) AS pad_to,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CASE WHEN pad_to > 0
                    THEN CAST(COUNT(*) * pad_to AS BIGINT) END AS padded_chars,
               CASE WHEN pad_to > 0
                    THEN 1.0 - CAST(SUM(n_chars) AS DOUBLE)
                             / CAST(COUNT(*) * pad_to AS DOUBLE)
               END AS waste_ratio
        FROM assigned
        GROUP BY pad_to
        ORDER BY pad_to
    """,
    doc=(
        "X7j: sequence-length bucketing report — assign each document "
        "to its power-of-two padding bucket (n in (2^(k-1), 2^k] pads "
        "to 2^k) and report per-bucket document count, real characters, "
        "padded characters, and the padding waste ratio: the batching "
        "diagnostic that decides between fixed-length padding and "
        "sequence packing (pipeline_pack_training_batches) before a "
        "training run, since waste is GPU-hours at scale. The bucket "
        "table is a 23-row literal broadcast range-join (each doc "
        "matches exactly one bucket — two sentinel buckets catch "
        "n_chars <= 0 and n_chars > 2^21, ADVICE r6, so no document "
        "silently vanishes from the report); counts and char sums are "
        "exact BIGINTs, the waste ratio one shared division (NULL for "
        "the sentinel buckets, where padding is undefined)."
    ),
    tags=("pipeline", "llm", "sampling"),
)
def pipeline_length_bucket_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    buckets = spark.createDataFrame(_PAD_BUCKETS_ALL, "pad_to LONG, lo LONG, hi LONG")
    assigned = t.documents.join(
        F.broadcast(buckets),
        (F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")),
    )
    return (
        assigned.groupBy("pad_to")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.when(
                F.col("pad_to") > 0,
                (F.count(F.lit(1)) * F.col("pad_to").cast("bigint")).cast("bigint"),
            ).alias("padded_chars"),
        )
        .select(
            F.col("pad_to").cast("bigint").alias("pad_to"),
            "n_docs",
            "total_chars",
            "padded_chars",
            F.expr(
                "CASE WHEN pad_to > 0 THEN"
                " 1.0 - CAST(total_chars AS DOUBLE) / CAST(padded_chars AS DOUBLE)"
                " END"
            ).alias("waste_ratio"),
        )
        .orderBy("pad_to")
    )


# ---------------------------------------------------------------------------
# Round-8 addition (SURVEY §2.18 X7o): WARC record plumbing — the wire
# format 100 TB text pipelines actually ingest (Common Crawl). Records
# are synthesized from the documents table as byte-faithful
# header+payload blocks, then genuinely re-parsed; the oracle predicts
# every field from the synthesis arithmetic, so a mis-parse (wrong
# boundary, off-by-one on CRLF, broken Content-Length) breaks the hash.
# ---------------------------------------------------------------------------

#: CRLF via chr() on both engines — string-literal escape semantics
#: differ between Spark and DuckDB, chr(13)||chr(10) does not
_CRLF = "(chr(13) || chr(10))"


def _warc_record_sql() -> str:
    c = _CRLF
    return f"""concat(
        'WARC/1.0', {c},
        'WARC-Type: ', CASE WHEN doc_id % 3 = 0 THEN 'response'
                            WHEN doc_id % 3 = 1 THEN 'request'
                            ELSE 'metadata' END, {c},
        'WARC-Record-ID: <urn:uuid:', md5(text), '>', {c},
        'WARC-Target-URI: https://example.com/', source, '/',
        CAST(doc_id AS STRING), {c},
        'Content-Length: ', CAST(length(text) AS STRING), {c},
        {c},
        text, {c}, {c})"""


@register(
    "pipeline_warc_record_extract",
    oracle=f"""
        SELECT doc_id,
               'WARC/1.0' AS warc_version,
               CASE WHEN doc_id % 3 = 0 THEN 'response'
                    WHEN doc_id % 3 = 1 THEN 'request'
                    ELSE 'metadata' END AS warc_type,
               'urn:uuid:' || md5(text) AS record_id,
               'https://example.com/' || source || '/'
                   || CAST(doc_id AS VARCHAR) AS target_uri,
               CAST(length(text) AS BIGINT) AS content_length,
               TRUE AS length_ok,
               TRUE AS payload_md5_ok
        FROM documents
        ORDER BY doc_id
    """,
    doc=(
        "X7o: WARC record round-trip — build byte-faithful WARC/1.0 "
        "records (version line, WARC-Type, Record-ID, Target-URI, "
        "Content-Length, CRLF-CRLF boundary, payload, trailing "
        "CRLF-CRLF) from the documents table, then RE-PARSE them the "
        "way a Common Crawl ingest stage does: header fields via "
        "regexp_extract, the payload by locating the first blank line, "
        "and two integrity verdicts — the re-read Content-Length must "
        "equal the extracted payload's length, and the Record-ID's "
        "uuid must equal the md5 of the extracted payload (so a "
        "boundary off-by-one fails BOTH engines' hash, not just "
        "eyeballs). CRLFs are chr(13)||chr(10) on both engines "
        "(string-escape semantics differ); multibyte (zh) payloads "
        "keep character semantics through length(). Map-only "
        "row-local string work, zero shuffles, codegen end-to-end."
    ),
    tags=("pipeline", "text", "llm"),
)
def pipeline_warc_record_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    c = _CRLF
    rec = t.documents.selectExpr("doc_id", f"{_warc_record_sql()} AS rec")
    blank = f"({c} || {c})"
    parsed = rec.selectExpr(
        "doc_id",
        "regexp_extract(rec, '^(WARC/[0-9.]+)', 1) AS warc_version",
        "regexp_extract(rec, 'WARC-Type: ([a-z]+)', 1) AS warc_type",
        "regexp_extract(rec, 'WARC-Record-ID: <([^>]+)>', 1) AS record_id",
        "regexp_extract(rec, 'WARC-Target-URI: ([^\\r]+)', 1) AS target_uri",
        "CAST(regexp_extract(rec, 'Content-Length: ([0-9]+)', 1) AS BIGINT)"
        " AS content_length",
        f"substring(rec, instr(rec, {blank}) + 4,"
        f" length(rec) - instr(rec, {blank}) - 7) AS payload",
    )
    return parsed.selectExpr(
        "doc_id",
        "warc_version",
        "warc_type",
        "record_id",
        "target_uri",
        "content_length",
        "length(payload) = content_length AS length_ok",
        "'urn:uuid:' || md5(payload) = record_id AS payload_md5_ok",
    ).orderBy("doc_id")
