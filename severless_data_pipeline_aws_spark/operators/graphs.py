"""Iterative graph traversal as repeated DataFrame joins.

The second iterative algorithm family after label-propagation
connected components (`dedup.py::dedup_connected_components`): BFS
shortest hop distance, the Pregel pattern expressed as a bounded loop
of shuffle joins. Each round is frontier ⋈ edges → anti-join visited —
one shuffle per hop, with the frontier materialized so lineage doesn't
re-expand. At 100 TB the same loop runs unchanged on a cluster: the
edge list is hash-partitioned on src once and every round reuses that
partitioning; the visited set stays bucketed by node.

Nothing here is persisted: the part-supplier frames that more than one
job reads, which grow with lineitem, go through ``materialize()``, so a
query leaves no blocks in the session-shared cache. Every nation
co-trade query starts from the pairs of ``_co_pairs`` and is one lazy
plan: the ones over ``_co_edges`` read the edge list several times
within one action, and the iterative ones fold their rounds over the
<= 25-node graph that ``_nation_graph`` gathers into one row.

Reference parity: the reference has no graph operators — this extends
the engine for supply-chain-reach / contamination-radius questions a
training-data pipeline asks of its document-source graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import Tables
from ..registry import register
from ._helpers import materialize


def _co_pairs(t: Tables, min_price: int) -> DataFrame:
    """Distinct directed nation co-trade pairs (a, b) with a <> b:
    customer nation -> supplier nation on orders priced above
    ``min_price``, in the nation keys' own int type. Callers that need
    bigint cast after the distinct (same set, same output schema)."""
    return (
        t.orders.filter(F.col("o_totalprice") > min_price)
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("a"), F.col("s_nationkey").alias("b"))
        .distinct()
    )


def _co_edges(t: Tables):
    """Spark twin of ``_CO_EDGE_SQL``: (ordered u < v edge list of the
    high-value co-trade graph, degree table)."""
    # callers read the edge list 3-6 times in one plan (degree union,
    # symmetric expansion, the triangle 3-join). The <= 300 edges are
    # gathered into one row and exploded: no filter a reader adds passes
    # the explode, so every read is the same subtree and the 4-table
    # join's exchange runs once, the other reads being ReusedExchange.
    uv = F.struct(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
    e = _co_pairs(t, 400000).agg(F.collect_set(uv).alias("e")).select(F.inline("e"))
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    return e, deg


def _nation_graph(t: Tables, min_price: int) -> DataFrame:
    """The ``_co_pairs`` graph gathered into one row, in the nation keys'
    own int type: ``e`` the directed (a, b) pairs sorted, ``vs`` the
    sorted node list, ``adj`` the symmetric neighbor map (sorted lists).
    The graph has at most 25 nodes, so the iterative nation queries fold
    their rounds over this row with ``aggregate()`` in one lazy plan. On
    an empty graph both arrays are empty and a fold explodes to no rows."""
    graph = _co_pairs(t, min_price).agg(
        F.array_sort(F.collect_list(F.struct("a", "b"))).alias("e"),
        F.array_sort(F.array_union(F.collect_set("a"), F.collect_set("b"))).alias("vs"),
    )
    return graph.select(
        "e",
        "vs",
        F.expr(
            """map_from_arrays(vs, transform(vs, v -> array_sort(array_union(
                transform(filter(e, x -> x.a = v), x -> x.b),
                transform(filter(e, x -> x.b = v), x -> x.a)))))"""
        ).alias("adj"),
    )


_MAX_HOPS = 3


@register(
    "graph_bfs_part_supplier_hops",
    oracle=f"""
        WITH RECURSIVE
        pairs AS (
            SELECT DISTINCT 'p:' || CAST(l_partkey AS VARCHAR) AS a,
                            's:' || CAST(l_suppkey AS VARCHAR) AS b
            FROM lineitem
        ),
        sym AS (
            SELECT a AS src, b AS dst FROM pairs
            UNION ALL
            SELECT b AS src, a AS dst FROM pairs
        ),
        walk(node, hop) AS (
            SELECT 'p:' || CAST((SELECT MIN(l_partkey) FROM lineitem)
                                AS VARCHAR), 0
            UNION
            SELECT sym.dst, walk.hop + 1
            FROM walk JOIN sym ON sym.src = walk.node
            WHERE walk.hop < {_MAX_HOPS}
        )
        SELECT node, CAST(MIN(hop) AS BIGINT) AS hop
        FROM walk GROUP BY node
    """,
    doc=(
        "BFS hop distance (<=3) from the lowest part key over the "
        "bipartite part-supplier co-occurrence graph of lineitem. "
        "Spark side is the Pregel shape — per round: frontier ⋈ "
        "symmetric edge list, distinct, anti-join against the visited "
        "set, union — so min-distance holds by construction (a node "
        "is claimed the first round it appears and excluded after). "
        "The seed is a one-row min() aggregate inside the plan; the "
        "edge list, the seed and each round's frontier are "
        "materialized once to cut lineage re-execution. The oracle is "
        "the same traversal as a DuckDB recursive CTE whose UNION "
        "dedups (node, hop) pairs, keeping the recursion polynomial "
        "instead of path-enumerating."
    ),
    tags=("graph", "join", "iterative"),
)
def graph_bfs_part_supplier_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    li = t.lineitem
    pairs = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("a"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("b"),
    ).distinct()
    # materialize the edge index ONCE — every BFS round joins against the
    # same pre-shuffled edge list instead of re-running the distinct over
    # the fact table per round (lineage re-execution is the classic
    # iterative-algorithm trap; on a cluster this is the hash-partitioned
    # edge RDD every Pregel round reuses)
    sym = materialize(
        pairs.selectExpr("a AS src", "b AS dst")
        .union(pairs.selectExpr("b AS src", "a AS dst"))
        .repartition("src")  # the checkpoint keeps the join-key partitioning:
    )                        # no round re-shuffles the edge side

    visited = frontier = materialize(_seed(li, "hop"))
    for hop in range(1, _MAX_HOPS + 1):
        nxt = materialize(
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(hop).cast("bigint"))
        )
        visited = visited.union(nxt)
        frontier = nxt
    return visited


def _seed(li: DataFrame, dist: str) -> DataFrame:
    """One row (node = 'p:' || min(l_partkey), ``dist`` = 0), built in the
    plan: on an empty lineitem the node is NULL, as in the oracle."""
    return li.agg(
        F.concat(F.lit("p:"), F.min("l_partkey").cast("string")).alias("node")
    ).select("node", F.lit(0).cast("bigint").alias(dist))


@register(
    "graph_triangle_count",
    oracle="""
        WITH co AS (
            SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_totalprice > 400000
        ),
        e AS (
            SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v
            FROM co WHERE a <> b
            GROUP BY 1, 2
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
               CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
    """,
    doc=(
        "Triangle count over the nation co-trade graph (customer "
        "nation ↔ supplier nation on high-value orders) — the "
        "clustering-coefficient numerator, counted with the canonical "
        "ordered-edge 3-join (u < v on every edge, so each triangle is "
        "produced exactly once, no /6 correction). The edge list is "
        "nation-bounded (metadata scale) after the distinct, so the "
        "triple join is trivially broadcastable; on a big graph the "
        "same query runs with the standard degree-ordered orientation "
        "to bound the join fan-out."
    ),
    tags=("graph", "join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, _deg = _co_edges(Tables(spark, sf_dir))
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return tri.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles"),
        e.select(F.count(F.lit(1)).cast("bigint")).scalar().alias("n_edges"),
    )


_SSSP_ROUNDS = 3

#: one min-plus relaxation round, shared as the oracle's unrolled step
_RELAX_SQL = """
        SELECT node, MIN(cost) AS cost FROM (
            SELECT node, cost FROM {prev}
            UNION ALL
            SELECT s.dst AS node, {prev}.cost + s.w AS cost
            FROM {prev} JOIN sym s ON s.src = {prev}.node
        ) GROUP BY node
"""


@register(
    "graph_sssp_bounded_minplus",
    oracle=f"""
        WITH pairs AS (
            SELECT 'p:' || CAST(l_partkey AS VARCHAR) AS a,
                   's:' || CAST(l_suppkey AS VARCHAR) AS b,
                   CAST(MIN(l_quantity) AS BIGINT) AS w
            FROM lineitem GROUP BY a, b
        ),
        sym AS (
            SELECT a AS src, b AS dst, w FROM pairs
            UNION ALL
            SELECT b AS src, a AS dst, w FROM pairs
        ),
        d0 AS (
            SELECT 'p:' || CAST((SELECT MIN(l_partkey) FROM lineitem)
                                AS VARCHAR) AS node,
                   CAST(0 AS BIGINT) AS cost
        ),
        d1 AS ({_RELAX_SQL.format(prev="d0")}),
        d2 AS ({_RELAX_SQL.format(prev="d1")}),
        d3 AS ({_RELAX_SQL.format(prev="d2")})
        SELECT node, cost FROM d3
    """,
    doc=(
        "Bounded single-source shortest path (<= 3 relaxations) over "
        "the weighted part-supplier graph — BFS generalized to the "
        "min-plus semiring (edge weight = the pair's minimum shipped "
        "quantity, an exact integer). Each Spark round relaxes every "
        "edge once (frontier-less Bellman-Ford step: distances ⋈ "
        "edges, union, min-combine — two shuffles on the same key) "
        "with lineage cut per round; the materialized edge index carries "
        "its join-key partitioning across rounds. The oracle unrolls the "
        "identical three rounds as chained CTE aggregates, so costs "
        "are hash-exact — no recursion, no path enumeration."
    ),
    tags=("graph", "join", "iterative"),
)
def graph_sssp_bounded_minplus(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    li = t.lineitem
    pairs = li.groupBy(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("a"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("b"),
    ).agg(F.min("l_quantity").cast("bigint").alias("w"))
    sym = materialize(
        pairs.selectExpr("a AS src", "b AS dst", "w")
        .union(pairs.selectExpr("b AS src", "a AS dst", "w"))
        .repartition("src")
    )

    dist = _seed(li, "cost")
    for _ in range(_SSSP_ROUNDS):
        relaxed = dist.join(sym, dist["node"] == sym["src"]).select(
            F.col("dst").alias("node"), (F.col("cost") + F.col("w")).alias("cost")
        )
        dist = materialize(
            dist.union(relaxed).groupBy("node").agg(F.min("cost").alias("cost"))
        )
    return dist


_PR_ITERS = 3

#: one PageRank power-iteration round as a DuckDB CTE. The incoming
#: contributions fold in src order (list_reduce over an ORDER BY src
#: list), matching the Spark side's aggregate fold over the (src,
#: dst)-sorted edge list — so the double sums are bit-identical, not
#: just close, and the query is hash-exact instead of rows-only.
_PR_STEP_SQL = """
        SELECT nodes.v,
               CAST(0.15 AS DOUBLE) / CAST((SELECT cnt FROM n) AS DOUBLE)
               + CAST(0.85 AS DOUBLE) * COALESCE(c.s, CAST(0.0 AS DOUBLE)) AS r
        FROM nodes LEFT JOIN (
            SELECT co.b AS v,
                   list_reduce(list({prev}.r / deg.outdeg ORDER BY co.a),
                               (x, y) -> x + y) AS s
            FROM co
            JOIN {prev} ON {prev}.v = co.a
            JOIN deg ON deg.a = co.a
            GROUP BY co.b
        ) c ON c.v = nodes.v
"""


@register(
    "graph_pagerank_bounded",
    oracle=f"""
        WITH co AS (
            SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS a,
                            CAST(s.s_nationkey AS BIGINT) AS b
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_totalprice > 400000 AND c.c_nationkey <> s.s_nationkey
        ),
        nodes AS (
            SELECT DISTINCT v FROM (
                SELECT a AS v FROM co UNION ALL SELECT b FROM co
            )
        ),
        deg AS (SELECT a, COUNT(*) AS outdeg FROM co GROUP BY a),
        n AS (SELECT COUNT(*) AS cnt FROM nodes),
        r0 AS (
            SELECT v, CAST(1.0 AS DOUBLE) / CAST((SELECT cnt FROM n) AS DOUBLE) AS r
            FROM nodes
        ),
        r1 AS ({_PR_STEP_SQL.format(prev="r0")}),
        r2 AS ({_PR_STEP_SQL.format(prev="r1")}),
        r3 AS ({_PR_STEP_SQL.format(prev="r2")})
        SELECT v AS nationkey, r AS pagerank FROM r3
    """,
    doc=(
        "Bounded PageRank (3 power iterations, damping 0.85) over the "
        "directed nation co-trade graph (customer nation -> supplier "
        "nation on high-value orders; simplified variant: dangling "
        "mass is not redistributed, identically on both engines). "
        "The nation graph is metadata-scale (at most 25 nodes), so "
        "Spark gathers it into one row — the edge list sorted by "
        "(src, dst), the node list and an out-degree map — and runs "
        "the power iterations as an aggregate() over a rank map, all "
        "in one lazy plan with no per-round jobs. Each node's incoming "
        "contributions fold in src order (filter over the sorted edge "
        "list + sequential aggregate), so the double sums are "
        "bit-identical to the oracle's ordered list_reduce — the same "
        "order-pinning that makes the label-centroid query hash-exact. "
        "On a billion-node graph the rounds become ranks ⋈ edges ⋈ "
        "outdeg joins with the edge list bucketed by src and the "
        "ordered fold swapped for plain sum (order-pinning is an "
        "oracle-exactness device, not an algorithmic need)."
    ),
    tags=("graph", "join", "iterative"),
)
def graph_pagerank_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    graph = _nation_graph(Tables(spark, sf_dir), 400000).select(
        "e",
        "vs",
        F.expr(
            "map_from_arrays(vs, transform(vs, v -> size(filter(e, x -> x.a = v))))"
        ).alias("deg"),
        F.expr("CAST(size(vs) AS DOUBLE)").alias("n"),
    )
    # an empty graph has no nodes: transform never evaluates 1/n
    ranks = graph.select(
        "vs",
        F.expr(
            f"""aggregate(
                sequence(1, {_PR_ITERS}),
                map_from_arrays(vs, transform(vs, v -> CAST(1.0 AS DOUBLE) / n)),
                (r, i) -> map_from_arrays(vs, transform(vs, v ->
                    CAST(0.15 AS DOUBLE) / n + CAST(0.85 AS DOUBLE) * aggregate(
                        filter(e, x -> x.b = v), CAST(0.0 AS DOUBLE),
                        (acc, x) -> acc + r[x.a] / deg[x.a]))))"""
        ).alias("r")
    )
    # explode the node list, not the rank map: Spark infers a non-empty
    # filter on a generator's input, which would run the fold twice
    return ranks.select(F.explode("vs").alias("v"), "r").select(
        F.col("v").cast("bigint").alias("nationkey"), F.col("r")[F.col("v")].alias("pagerank")
    )


@register(
    "graph_modularity_by_region",
    oracle="""
        WITH co AS (
            SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_totalprice > 400000
        ),
        e AS (
            SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v
            FROM co WHERE a <> b
            GROUP BY 1, 2
        ),
        m AS (SELECT COUNT(*) AS m FROM e),
        reg AS (
            SELECT n_nationkey AS node, r_name AS community
            FROM nation JOIN region ON n_regionkey = r_regionkey
        ),
        deg AS (
            SELECT node, COUNT(*) AS degree
            FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            GROUP BY node
        ),
        intra AS (
            SELECT ru.community, COUNT(*) AS lc
            FROM e
            JOIN reg ru ON e.u = ru.node
            JOIN reg rv ON e.v = rv.node
            WHERE ru.community = rv.community
            GROUP BY ru.community
        ),
        dsum AS (
            SELECT r.community, CAST(SUM(d.degree) AS BIGINT) AS dc
            FROM deg d JOIN reg r ON d.node = r.node
            GROUP BY r.community
        )
        SELECT d.community,
               CAST(COALESCE(i.lc, 0) AS BIGINT) AS intra_edges,
               d.dc AS degree_sum,
               CAST(COALESCE(i.lc, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
                 - (CAST(d.dc AS DOUBLE) / CAST(2 * m.m AS DOUBLE))
                   * (CAST(d.dc AS DOUBLE) / CAST(2 * m.m AS DOUBLE)) AS q_term
        FROM dsum d
        LEFT JOIN intra i ON d.community = i.community
        CROSS JOIN m
    """,
    doc=(
        "Newman modularity of the REGION partition over the nation "
        "co-trade graph: per region, intra-community edge share minus "
        "the degree-based random expectation — the graph-evaluation "
        "companion to the CC/PageRank/triangle family (positive q_term "
        "= regional trade clusters more than chance). Edges, degrees, "
        "and intra counts are all integers over the nation-bounded "
        "edge list (metadata scale); the q terms are one shared closed "
        "form. Summing the 5 q_terms gives Q — left to the reader row "
        "rather than an unordered float SUM."
    ),
    tags=("graph", "eval", "agg"),
)
def graph_modularity_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    e, deg = _co_edges(t)
    m = e.agg(F.count(F.lit(1)).alias("m"))
    reg = (
        t.nation.join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("node"), F.col("r_name").alias("community"))
    )
    ru = reg.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    rv = reg.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    intra = (
        e.join(F.broadcast(ru), "u")
        .join(F.broadcast(rv), "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).alias("lc"))
    )
    dsum = (
        deg.join(F.broadcast(reg), "node")
        .groupBy("community")
        .agg(F.sum("d").cast("bigint").alias("dc"))
    )
    return (
        dsum.join(intra, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.expr("CAST(COALESCE(lc, 0) AS BIGINT)").alias("intra_edges"),
            F.col("dc").alias("degree_sum"),
            F.expr(
                "CAST(COALESCE(lc, 0) AS DOUBLE) / CAST(m AS DOUBLE)"
                " - (CAST(dc AS DOUBLE) / CAST(2 * m AS DOUBLE))"
                "   * (CAST(dc AS DOUBLE) / CAST(2 * m AS DOUBLE))"
            ).alias("q_term"),
        )
    )


@register(
    "graph_degree_distribution",
    oracle="""
        WITH edges AS (
            SELECT DISTINCT l_partkey AS part, l_suppkey AS supp FROM lineitem
        ),
        degrees AS (
            SELECT part, CAST(COUNT(*) AS BIGINT) AS degree
            FROM edges GROUP BY part
        )
        SELECT degree,
               CAST(length(bin(degree)) - 1 AS BIGINT) AS log2_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(degree) AS BIGINT) AS n_edges_covered
        FROM degrees
        GROUP BY degree
    """,
    doc=(
        "Degree distribution of the part-supplier bipartite graph "
        "(how many suppliers ship each part): the first diagnostic of "
        "any graph workload — a heavy-tailed histogram predicts skew "
        "in every downstream neighborhood join, and the hub buckets "
        "name the keys that need salting. Edges dedup with one "
        "map-side-combinable DISTINCT, degrees are a count per part, "
        "and the histogram collapses to |distinct degrees| rows — "
        "three cascading aggregations, each strictly smaller, no "
        "joins at all. floor(log2(degree)) is computed exactly as "
        "length(bin(degree)) - 1 — float log2 rounds below integer "
        "results at exact powers on some libm builds, bin() never."
    ),
    tags=("graph", "agg", "quality"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    edges = t.lineitem.select(
        F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp")
    ).distinct()
    degrees = edges.groupBy("part").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    return (
        degrees.groupBy("degree")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("degree").cast("bigint").alias("n_edges_covered"),
        )
        .select(
            "degree",
            F.expr("CAST(length(bin(degree)) - 1 AS BIGINT)").alias("log2_bucket"),
            "n_parts",
            "n_edges_covered",
        )
    )


_LINK_TOP = 25


@register(
    "graph_link_prediction_common_neighbors",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS supp, l_partkey AS part
            FROM lineitem
        ),
        deg AS (
            SELECT supp, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY supp
        ),
        cand AS (
            SELECT a.supp AS supp_a, b.supp AS supp_b,
                   CAST(COUNT(*) AS BIGINT) AS common_parts
            FROM edges a JOIN edges b
              ON a.part = b.part AND a.supp < b.supp
            GROUP BY a.supp, b.supp
        )
        SELECT c.supp_a, c.supp_b, c.common_parts,
               da.d AS deg_a, db.d AS deg_b,
               CAST(c.common_parts AS DOUBLE)
                   / (da.d + db.d - c.common_parts) AS jaccard
        FROM cand c
        JOIN deg da ON da.supp = c.supp_a
        JOIN deg db ON db.supp = c.supp_b
        ORDER BY jaccard DESC, c.supp_a, c.supp_b
        LIMIT {_LINK_TOP}
    """,
    doc=(
        "Link prediction by common-neighbor overlap: score supplier "
        "pairs by the Jaccard of their part portfolios — the classic "
        "'who will co-occur next' / competitor-similarity primitive. "
        "Candidates come from the inverted part->suppliers index (an "
        "equi-join on the shared part), so only pairs with >= 1 common "
        "part ever materialize — never an all-pairs product; per-pair "
        "counts reduce with map-side combine and the top-25 is a "
        "TakeOrdered. The canonical skew caveat applies: a part "
        "supplied by k suppliers fans out k^2/2 pairs, so at 100 TB "
        "hub parts get capped or salted first (the degree histogram "
        "op exists to find them). One int division per survivor."
    ),
    tags=("graph", "similarity", "topk"),
)
def graph_link_prediction_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    edges = t.lineitem.select(
        F.col("l_suppkey").alias("supp"), F.col("l_partkey").alias("part")
    ).distinct()
    deg = edges.groupBy("supp").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = edges.select(F.col("supp").alias("supp_a"), "part")
    b = edges.select(F.col("supp").alias("supp_b"), "part")
    cand = (
        a.join(b, ["part"])
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_parts"))
    )
    da = deg.select(F.col("supp").alias("supp_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("supp").alias("supp_b"), F.col("d").alias("deg_b"))
    return (
        cand.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "common_parts",
            "deg_a",
            "deg_b",
            F.expr(
                "CAST(common_parts AS DOUBLE) / (deg_a + deg_b - common_parts)"
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "supp_a", "supp_b")
        .limit(_LINK_TOP)
    )


_HITS_ITERS = 2


def _hits_half(prev: str, inn: str, out: str) -> str:
    """One HITS half-step as SQL: each node folds ``prev`` over its edges
    with x.<out> = v in neighbor order (``e`` is sorted), then the scores
    are divided by their total, folded in node order; a node with no such
    edge adds 0.0, which keeps the sums bit-identical to the oracle's.
    ``transform(array(raw), m -> ...)[0]`` evaluates the raw map once."""
    return f"""transform(
        array(map_from_arrays(vs, transform(vs, v -> aggregate(
            filter(e, x -> x.{out} = v), CAST(0.0 AS DOUBLE),
            (acc, x) -> acc + {prev}[x.{inn}])))),
        m -> transform_values(m, (k, x) -> x / aggregate(
            map_values(m), CAST(0.0 AS DOUBLE), (acc, y) -> acc + y)))[0]"""


#: one HITS half-step as a DuckDB CTE pair: raw = ordered fold of the
#: opposite score over {join_col}, then L1 normalization by the
#: node-ordered global fold (a scalar subquery — deterministic order)
_HITS_RAW_SQL = """
        SELECT co.{out} AS v,
               list_reduce(list({prev}.s / 1 ORDER BY co.{inn}),
                           (x, y) -> x + y) AS s
        FROM co JOIN {prev} ON {prev}.v = co.{inn}
        GROUP BY co.{out}
"""
_HITS_NORM_SQL = """
        SELECT nodes.v,
               COALESCE({raw}.s, CAST(0.0 AS DOUBLE))
               / (SELECT list_reduce(list(s ORDER BY v), (x, y) -> x + y)
                  FROM {raw}) AS s
        FROM nodes LEFT JOIN {raw} ON {raw}.v = nodes.v
"""


@register(
    "graph_hits_hubs_authorities",
    oracle=f"""
        WITH co AS (
            SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS a,
                            CAST(s.s_nationkey AS BIGINT) AS b
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_totalprice > 400000 AND c.c_nationkey <> s.s_nationkey
        ),
        nodes AS (
            SELECT DISTINCT v FROM (
                SELECT a AS v FROM co UNION ALL SELECT b FROM co
            )
        ),
        h0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS s FROM nodes),
        a1r AS ({_HITS_RAW_SQL.format(prev="h0", inn="a", out="b")}),
        a1 AS ({_HITS_NORM_SQL.format(raw="a1r")}),
        h1r AS ({_HITS_RAW_SQL.format(prev="a1", inn="b", out="a")}),
        h1 AS ({_HITS_NORM_SQL.format(raw="h1r")}),
        a2r AS ({_HITS_RAW_SQL.format(prev="h1", inn="a", out="b")}),
        a2 AS ({_HITS_NORM_SQL.format(raw="a2r")}),
        h2r AS ({_HITS_RAW_SQL.format(prev="a2", inn="b", out="a")}),
        h2 AS ({_HITS_NORM_SQL.format(raw="h2r")})
        SELECT nodes.v AS nationkey,
               a2.s AS authority,
               h2.s AS hub
        FROM nodes
        JOIN a2 ON a2.v = nodes.v
        JOIN h2 ON h2.v = nodes.v
    """,
    doc=(
        "HITS hubs-and-authorities (Kleinberg) over the directed "
        "nation co-trade graph, 2 full mutual-reinforcement rounds: "
        "authority(v) = sum of hub scores over in-edges, hub(u) = sum "
        "of authority scores over out-edges, each half-step L1-"
        "normalized (sum-normalization instead of the textbook L2 — "
        "same fixpoint direction, and it keeps every operation "
        "+,/ on doubles so the oracle can be bit-exact; sqrt-free). "
        "Per-node sums fold in neighbor order (filter over the sorted "
        "edge list + sequential aggregate == the oracle's ordered "
        "list_reduce) and the normalizing constant folds in node "
        "order, so all four rounds are hash-exact, not just close. "
        "The <= 25-node graph is gathered into one row and the "
        f"{2 * _HITS_ITERS} alternating half-steps fold over an "
        "(authority, hub) pair of score maps with aggregate(), in one "
        "lazy plan with no per-round jobs; an empty graph has no nodes "
        "and explodes to no rows, so no total is ever divided by. On a "
        "billion-node graph each half-step becomes scores ⋈ edges with "
        "the edge list bucketed by node and plain sums (order-pinning "
        "is an oracle-exactness device, not an algorithmic need)."
    ),
    tags=("graph", "join", "iterative"),
)
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _nation_graph(Tables(spark, sf_dir), 400000).select(
        "vs",
        F.expr(
            f"""aggregate(
                sequence(1, {2 * _HITS_ITERS}),
                named_struct(
                    'a', map_from_arrays(vs, transform(vs, v -> CAST(1.0 AS DOUBLE))),
                    'h', map_from_arrays(vs, transform(vs, v -> CAST(1.0 AS DOUBLE)))),
                (s, i) -> IF(i % 2 = 1,
                    named_struct('a', {_hits_half("s.h", "a", "b")}, 'h', s.h),
                    named_struct('a', s.a, 'h', {_hits_half("s.a", "b", "a")})))"""
        ).alias("s"),
    )
    return scores.select(F.explode("vs").alias("v"), "s").select(
        F.col("v").cast("bigint").alias("nationkey"),
        F.col("s.a")[F.col("v")].alias("authority"),
        F.col("s.h")[F.col("v")].alias("hub"),
    )


_KCORE_K = 2       # minimum in-core degree
# Fixed unrolled peel rounds. 4 suffices HERE because the graph is the
# <=25-node nation co-trade graph: each productive peel round removes at
# least one node, at most ~6 nodes sit below the k=3 degree bound in this
# graph family, and tests/test_r4_invariants.py asserts round 4 is a
# FIXPOINT (round 5 would remove nothing) at every test SF — so the
# unroll IS the converged k-core. A general deployment on an unbounded
# graph should instead iterate to fixpoint with one materialize() per
# round (the connected-components pattern in dedup.py), with the
# round count bounded by the graph's degeneracy-ordering depth.
_KCORE_ROUNDS = 4

#: one peel round as a DuckDB CTE pair: survivors = nodes with degree
#: >= k in the current subgraph; next subgraph = edges with BOTH
#: endpoints surviving
_KCORE_DEG_SQL = """
        SELECT u, COUNT(*) AS deg FROM {g} GROUP BY u
"""
_KCORE_EDGE_SQL = """
        SELECT g.u, g.v FROM {g} g
        JOIN (SELECT u FROM {d} WHERE deg >= {k}) ku ON ku.u = g.u
        JOIN (SELECT u FROM {d} WHERE deg >= {k}) kv ON kv.u = g.v
"""


@register(
    "graph_kcore_decomposition",
    oracle=f"""
        WITH base AS (
            SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS a,
                            CAST(s.s_nationkey AS BIGINT) AS b
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_totalprice > 450000 AND c.c_nationkey <> s.s_nationkey
        ),
        g0 AS (
            SELECT a AS u, b AS v FROM base
            UNION
            SELECT b AS u, a AS v FROM base
        ),
        d0 AS ({_KCORE_DEG_SQL.format(g="g0")}),
        g1 AS ({_KCORE_EDGE_SQL.format(g="g0", d="d0", k=_KCORE_K)}),
        d1 AS ({_KCORE_DEG_SQL.format(g="g1")}),
        g2 AS ({_KCORE_EDGE_SQL.format(g="g1", d="d1", k=_KCORE_K)}),
        d2 AS ({_KCORE_DEG_SQL.format(g="g2")}),
        g3 AS ({_KCORE_EDGE_SQL.format(g="g2", d="d2", k=_KCORE_K)}),
        d3 AS ({_KCORE_DEG_SQL.format(g="g3")}),
        g4 AS ({_KCORE_EDGE_SQL.format(g="g3", d="d3", k=_KCORE_K)}),
        d4 AS ({_KCORE_DEG_SQL.format(g="g4")})
        SELECT u AS nationkey, CAST(deg AS BIGINT) AS core_degree
        FROM d4 WHERE deg >= {_KCORE_K}
    """,
    doc=(
        f"k-core decomposition (k={_KCORE_K}) of the undirected nation "
        "co-trade graph: iteratively peel nodes of degree < k until "
        "only the k-core remains — the standard coreness filter for "
        "'dense trading cluster' questions (and, on a document-link "
        "graph, for isolating well-connected citation neighborhoods "
        f"before expensive downstream passes). {_KCORE_ROUNDS} peel "
        "rounds are unrolled IDENTICALLY on both engines (each round: "
        "degree count -> survivor set -> edge restriction via two "
        "semi-joins), and a pytest asserts the peel reaches its "
        "fixpoint within the unroll at the test SFs, so the fixed "
        "unroll IS the converged k-core, not an approximation. All "
        "arithmetic is integer degree counting — hash-exact with no "
        "float anywhere. Spark gathers the <= 25-node graph into one "
        "row and folds the peel rounds over its neighbor map with "
        "aggregate(): a node keeps a neighbor only while both have at "
        "least k neighbors, all in one lazy plan with no per-round "
        "jobs. On a billion-node graph each round is a degree count "
        "and two semi-joins with edges bucketed by endpoint (two "
        "shuffles per round), and the round count is bounded by the "
        "graph's degeneracy ordering depth."
    ),
    tags=("graph", "join", "iterative"),
)
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    core = _nation_graph(Tables(spark, sf_dir), 450000).select(
        "vs",
        F.expr(
            f"""aggregate(sequence(1, {_KCORE_ROUNDS}), adj,
                (m, i) -> transform_values(m, (v, ns) -> filter(ns,
                    w -> size(ns) >= {_KCORE_K} AND size(m[w]) >= {_KCORE_K})))"""
        ).alias("m"),
    )
    return (
        core.select(F.explode("vs").alias("v"), "m")
        .select(
            F.col("v").cast("bigint").alias("nationkey"),
            F.size(F.col("m")[F.col("v")]).cast("bigint").alias("core_degree"),
        )
        .filter(F.col("core_degree") >= _KCORE_K)
    )


# --- G11: closeness centrality (r5) ----------------------------------------

# Unrolled multi-source BFS rounds. 6 suffices HERE for the same reason
# _KCORE_ROUNDS=4 does: the co-trade graph has <=25 nation nodes and is
# dense (high-value order pairs), so its diameter is far below 6, and
# tests/test_r5_invariants.py checks every (root, node, dist) row against
# an unbounded BFS at every test SF — the unroll IS the converged
# all-pairs table. A general deployment iterates to fixpoint with one
# materialize() per round (the connected-components pattern in dedup.py).
_CLOSENESS_ROUNDS = 6


def _nation_hops(t: Tables) -> DataFrame:
    """(root, node, dist, n_nodes): hop distance from every node of the
    undirected high-value co-trade graph to each node it reaches within
    ``_CLOSENESS_ROUNDS`` hops (root itself at 0), plus the graph's node
    count. One lazy plan over ``_nation_graph``'s row: the roots are
    exploded, and each root folds its reachable-set layers L0 = {root},
    L(i) = L(i-1) plus the neighbors of L(i-1). A node's hop count is the
    number of layers that do not contain it; a node no layer contains is
    unreachable."""
    graph = _nation_graph(t, 400000)
    layers = graph.select(F.explode("vs").alias("root"), "vs", "adj").select(
        "root",
        "vs",
        F.expr(
            f"""aggregate(sequence(1, {_CLOSENESS_ROUNDS}), array(array(root)),
                (ls, i) -> concat(ls, array(array_union(ls[i - 1],
                    flatten(transform(ls[i - 1], x -> adj[x]))))))"""
        ).alias("layers"),
    )
    return (
        layers.select(
            "root", F.explode("vs").alias("node"), "layers", F.size("vs").alias("n_nodes")
        )
        .select(
            "root",
            "node",
            F.expr("size(filter(layers, l -> NOT array_contains(l, node)))")
            .cast("bigint")
            .alias("dist"),
            "n_nodes",
        )
        .filter(F.col("dist") <= _CLOSENESS_ROUNDS)
    )


@register(
    "graph_closeness_centrality",
    oracle=f"""
        WITH RECURSIVE co AS (
            SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_totalprice > 400000
        ),
        sym AS (
            SELECT a AS src, b AS dst FROM co WHERE a <> b
            UNION
            SELECT b AS src, a AS dst FROM co WHERE a <> b
        ),
        nodes AS (SELECT DISTINCT src AS node FROM sym),
        walk(root, node, hop) AS (
            SELECT node, node, 0 FROM nodes
            UNION
            SELECT walk.root, sym.dst, walk.hop + 1
            FROM walk JOIN sym ON sym.src = walk.node
            WHERE walk.hop < {_CLOSENESS_ROUNDS}
        ),
        dists AS (
            SELECT root, node, MIN(hop) AS dist FROM walk GROUP BY root, node
        ),
        agg AS (
            SELECT root,
                   CAST(COUNT(*) - 1 AS BIGINT) AS n_reachable,
                   CAST(SUM(dist) AS BIGINT) AS total_dist,
                   CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes
            FROM dists GROUP BY root
        )
        SELECT CAST(root AS BIGINT) AS nationkey, n_reachable, total_dist,
               CASE WHEN total_dist = 0 THEN 0.0
                    ELSE (CAST(n_reachable AS DOUBLE) / (n_nodes - 1))
                         * (CAST(n_reachable AS DOUBLE) / total_dist) END
                   AS closeness
        FROM agg ORDER BY nationkey
    """,
    doc=(
        "G11: closeness centrality of every nation in the undirected "
        "high-value co-trade graph (Wasserman-Faust form, so "
        "disconnected components are scored fairly: (r/(n-1))*(r/d) "
        "with r = reachable peers, d = total hop distance) — on a "
        "document-citation graph this ranks the most central corpus "
        "hubs before sampling around them. Multi-source BFS with "
        f"{_CLOSENESS_ROUNDS} unrolled expansions, seeded from EVERY "
        "node: the graph is bounded (<=25 nations), so it is gathered "
        "into one row and each root folds its reachable-set layers "
        "with aggregate() in one lazy plan (no per-round jobs); hop "
        "count = number of layers missing the node. The distances are "
        "checked against an unbounded BFS in pytest. All arithmetic "
        "is integer until the two final IEEE divisions, written "
        "identically on both engines. The "
        "oracle replays the traversal as a multi-source recursive CTE "
        "whose UNION dedups (root, node, hop)."
    ),
    tags=("graph", "join", "iterative"),
)
def graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _nation_hops(Tables(spark, sf_dir)).groupBy("root", "n_nodes").agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_reachable"),
        F.sum("dist").cast("bigint").alias("total_dist"),
    )
    return (
        agg.select(
            F.col("root").cast("bigint").alias("nationkey"),
            "n_reachable",
            "total_dist",
            F.expr(
                "CASE WHEN total_dist = 0 THEN 0.0 "
                "ELSE (CAST(n_reachable AS DOUBLE) / (n_nodes - 1)) "
                "* (CAST(n_reachable AS DOUBLE) / total_dist) END"
            ).alias("closeness"),
        )
        .orderBy("nationkey")
    )


_LPA_ROUNDS = 3

_LPA_STEP_SQL = """
            SELECT v, lbl FROM (
                SELECT s.src AS v, l.lbl,
                       row_number() OVER (PARTITION BY s.src
                                          ORDER BY COUNT(*) DESC, l.lbl)
                           AS rn
                FROM sym s JOIN {prev} l ON l.v = s.dst
                GROUP BY s.src, l.lbl
            ) WHERE rn = 1
"""


@register(
    "graph_label_propagation_communities",
    oracle=f"""
        WITH co AS (
            SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS a,
                            CAST(s.s_nationkey AS BIGINT) AS b
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_totalprice > 400000 AND c.c_nationkey <> s.s_nationkey
        ),
        sym AS (
            SELECT a AS src, b AS dst FROM co
            UNION
            SELECT b AS src, a AS dst FROM co
        ),
        l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM sym),
        l1 AS ({_LPA_STEP_SQL.format(prev="l0")}),
        l2 AS ({_LPA_STEP_SQL.format(prev="l1")}),
        l3 AS ({_LPA_STEP_SQL.format(prev="l2")})
        SELECT v AS nationkey, lbl AS community FROM l3
    """,
    doc=(
        "Label-propagation community detection (synchronous, "
        f"{_LPA_ROUNDS} rounds) over the undirected high-value nation "
        "co-trade graph: every node adopts its neighborhood's most "
        "frequent label each round, ties broken by MINIMUM label — the "
        "near-linear-time community algorithm (Raghavan et al.) that "
        "needs no modularity objective or cluster count. The "
        "deterministic tie-break makes synchronous LPA a pure integer "
        "fixpoint. Spark gathers the <= 25-node graph into one row "
        "and folds the rounds over a label map with aggregate(), in "
        "one lazy plan with no per-round jobs: each node takes the "
        "minimum of (-count, label) over its neighbors' distinct "
        "labels. On a billion-node graph each round is one "
        "edges-to-labels equi-join + per-(node,label) count + a "
        "row_number pick, with the edge list hash-partitioned by dst "
        "once. Rounds are unrolled in the oracle as chained CTEs; all "
        "quantities are integers, so the hash match is exact. The "
        "round count is a deliberate CAP, not a convergence claim: "
        "synchronous LPA can 2-cycle on dense graphs (this one does — "
        "rounds 3 and 5 agree, pinned in tests/test_r5_invariants.py), "
        "which is the textbook caveat; production deployments either "
        "cap rounds exactly like this or serialize updates "
        "(semi-synchronous coloring) to force convergence."
    ),
    tags=("graph", "join", "iterative"),
)
def graph_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _nation_graph(Tables(spark, sf_dir), 400000).select(
        "vs",
        F.expr(
            f"""aggregate(sequence(1, {_LPA_ROUNDS}), map_from_arrays(vs, vs),
                (l, i) -> map_from_arrays(vs, transform(vs, v -> array_min(transform(
                    array_distinct(transform(adj[v], w -> l[w])),
                    c -> named_struct('n', -size(filter(adj[v], w -> l[w] = c)), 'c', c))).c)))"""
        ).alias("l"),
    )
    return labels.select(F.explode("vs").alias("v"), "l").select(
        F.col("v").cast("bigint").alias("nationkey"),
        F.col("l")[F.col("v")].cast("bigint").alias("community"),
    )


_RA_TOP = 25
_RA_SCALE = 1_000_000_000_000  # 1e12 fixed-point for the 1/deg terms


@register(
    "graph_resource_allocation_link_prediction",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS supp, l_partkey AS part
            FROM lineitem
        ),
        pdeg AS (
            SELECT part, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY part
        )
        SELECT a.supp AS supp_a, b.supp AS supp_b,
               CAST(COUNT(*) AS BIGINT) AS common_parts,
               CAST(CAST(SUM({_RA_SCALE} // pd.d) AS VARCHAR) AS DOUBLE)
                   / CAST({_RA_SCALE} AS DOUBLE) AS ra_score
        FROM edges a
        JOIN edges b ON a.part = b.part AND a.supp < b.supp
        JOIN pdeg pd ON pd.part = a.part
        GROUP BY a.supp, b.supp
        ORDER BY ra_score DESC, supp_a, supp_b
        LIMIT {_RA_TOP}
    """,
    doc=(
        "Resource-allocation link prediction over the supplier-part "
        "bipartite graph: score supplier pairs by sum over common "
        "parts z of 1/deg(z) — RA weights RARE shared neighbors high "
        "where common-neighbor Jaccard counts a ubiquitous hub part "
        "the same as an exclusive one (Zhou/Lu/Zhang 2009; the "
        "deliberately ln-free cousin of Adamic-Adar, whose 1/ln(deg) "
        "needs a libm ln that measurably diverges between the JVM and "
        "DuckDB). Each 1/deg term is quantized to 1e-12 by exact "
        "integer division (1e12 DIV d — floor semantics pinned on "
        "both engines; never round(double)), so the per-pair sum is "
        "an exact BIGINT and the final score one shared division. "
        "Candidates come from the part->suppliers inverted index "
        "with the degree broadcast-joined at part grain; the hub "
        "fan-out caveat and its salting remedy are the same as the "
        "Jaccard variant's."
    ),
    tags=("graph", "similarity", "topk"),
)
def graph_resource_allocation_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = Tables(spark, sf_dir)
    edges = t.lineitem.select(
        F.col("l_suppkey").alias("supp"), F.col("l_partkey").alias("part")
    ).distinct()
    pdeg = edges.groupBy("part").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    # The pair join explodes ~15x (sum of C(deg,2) over parts), but AQE
    # coalesces the small distinct-edges exchange to 1-2 partitions and
    # would run the explosion nearly serial; pin the probe side to one
    # partition per core (scale-adaptive, not a constant).
    a = edges.select(F.col("supp").alias("supp_a"), "part").repartition(
        spark.sparkContext.defaultParallelism, "part"
    )
    b = edges.select(F.col("supp").alias("supp_b"), "part")
    return (
        a.join(b, ["part"])
        .filter(F.col("supp_a") < F.col("supp_b"))
        .join(F.broadcast(pdeg), "part")
        .groupBy("supp_a", "supp_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_parts"),
            F.expr(
                f"CAST(SUM({_RA_SCALE} DIV d) AS DOUBLE)"
                f" / CAST({_RA_SCALE} AS DOUBLE)"
            ).alias("ra_score"),
        )
        .orderBy(F.desc("ra_score"), "supp_a", "supp_b")
        .limit(_RA_TOP)
    )


_ASSORT_R = (
    "(nd * sxy_d - sx_d * sy_d)"
    " / (sqrt(nd * sxx_d - sx_d * sx_d) * sqrt(nd * syy_d - sy_d * sy_d))"
)


@register(
    "graph_degree_assortativity",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS supp, l_partkey AS part
            FROM lineitem
        ),
        sdeg AS (SELECT supp, CAST(COUNT(*) AS BIGINT) AS ds FROM edges GROUP BY supp),
        pdeg AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS dp FROM edges GROUP BY part),
        pairs AS (
            SELECT sd.ds AS x, pd.dp AS y
            FROM edges e
            JOIN sdeg sd ON sd.supp = e.supp
            JOIN pdeg pd ON pd.part = e.part
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
                   CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx_d,
                   CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sy_d,
                   CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxy_d,
                   CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx_d,
                   CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS syy_d
            FROM pairs
        )
        SELECT n_edges, {_ASSORT_R} AS assortativity
        FROM s
    """,
    doc=(
        "Degree assortativity of the supplier-part bipartite graph: "
        "Pearson correlation of (supplier degree, part degree) across "
        "EDGES — do high-degree suppliers attach to high-degree parts "
        "(assortative, r > 0) or to exclusive ones (disassortative, "
        "r < 0)? The one-number topology summary that predicts "
        "neighborhood-join skew behavior: a disassortative graph's "
        "hubs fan into low-degree partners, so salting the hub side "
        "alone suffices; an assortative one multiplies hub x hub. "
        "Two degree tables broadcast-join back onto the edge list "
        "(each strictly smaller than the edges), integer degree "
        "products accumulate as DECIMAL, and r evaluates in the "
        "shared Pearson template (_ASSORT_R) ending in IEEE sqrt — "
        "hash-exact. Three cascading aggregates + two broadcast "
        "joins, no pair explosion anywhere."
    ),
    tags=("graph", "agg", "stats"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    edges = t.lineitem.select(
        F.col("l_suppkey").alias("supp"), F.col("l_partkey").alias("part")
    ).distinct()
    sdeg = edges.groupBy("supp").agg(F.count(F.lit(1)).cast("bigint").alias("ds"))
    pdeg = edges.groupBy("part").agg(F.count(F.lit(1)).cast("bigint").alias("dp"))
    pairs = (
        edges.join(F.broadcast(sdeg), "supp")
        .join(F.broadcast(pdeg), "part")
        .select(F.col("ds").alias("x"), F.col("dp").alias("y"))
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.expr("CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE)").alias("sx_d"),
        F.expr("CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE)").alias("sy_d"),
        F.expr("CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE)").alias("sxy_d"),
        F.expr("CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE)").alias("sxx_d"),
        F.expr("CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE)").alias("syy_d"),
    )
    return s.select("n_edges", F.expr(_ASSORT_R).alias("assortativity"))


@register(
    "graph_clustering_coefficient",
    oracle="""
        WITH co AS (
            SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_totalprice > 400000
        ),
        e AS (
            SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v
            FROM co WHERE a <> b
            GROUP BY 1, 2
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
                SELECT u AS node FROM e UNION ALL SELECT v FROM e
            ) GROUP BY node
        ),
        tri AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
        ),
        triads AS (
            SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_open FROM deg
        )
        SELECT n_triangles, n_open AS n_connected_triples,
               3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_open AS DOUBLE)
                   AS global_clustering_coefficient
        FROM tri, triads
    """,
    doc=(
        "Global clustering coefficient (transitivity) of the nation "
        "co-trade graph: 3 x triangles / connected triples, where the "
        "triple count is the pure degree sum d(d-1)/2 — no path "
        "enumeration. Completes the triangle-count op into the actual "
        "'how cliquish is this graph' ratio that predicts whether "
        "neighborhood joins explode (transitivity near 1 means every "
        "2-hop candidate set closes into pairs). Ordered-edge 3-join "
        "counts each triangle once; the degree table is one "
        "aggregation; since each DuckDB integer division d*(d-1)/2 is "
        "exact on even products, the final coefficient is one shared "
        "double ratio. Everything after the distinct edge list is "
        "metadata-scale."
    ),
    tags=("graph", "agg"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, deg = _co_edges(Tables(spark, sf_dir))
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    triads = deg.agg(
        F.expr("CAST(SUM(d * (d - 1) DIV 2) AS BIGINT)").alias("n_connected_triples")
    )
    return tri.crossJoin(F.broadcast(triads)).select(
        "n_triangles",
        "n_connected_triples",
        F.expr(
            "3.0 * CAST(n_triangles AS DOUBLE)"
            " / CAST(n_connected_triples AS DOUBLE)"
        ).alias("global_clustering_coefficient"),
    )


_JC_TOP = 25


@register(
    "graph_jaccard_link_prediction",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS supp, l_partkey AS part
            FROM lineitem
        ),
        sdeg AS (
            SELECT supp, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY supp
        ),
        pairs AS (
            SELECT a.supp AS supp_a, b.supp AS supp_b,
                   CAST(COUNT(*) AS BIGINT) AS common_parts
            FROM edges a
            JOIN edges b ON a.part = b.part AND a.supp < b.supp
            GROUP BY a.supp, b.supp
        )
        SELECT p.supp_a, p.supp_b, p.common_parts,
               da.d AS deg_a, db.d AS deg_b,
               CAST(p.common_parts AS DOUBLE)
                   / CAST(da.d + db.d - p.common_parts AS DOUBLE) AS jaccard
        FROM pairs p
        JOIN sdeg da ON da.supp = p.supp_a
        JOIN sdeg db ON db.supp = p.supp_b
        ORDER BY jaccard DESC, supp_a, supp_b
        LIMIT {_JC_TOP}
    """,
    doc=(
        "G16: Jaccard link prediction over the supplier-part bipartite "
        "graph: |N(a) ∩ N(b)| / |N(a) ∪ N(b)| per supplier pair — the "
        "degree-NORMALIZED completion of the raw common-neighbor count "
        "(graph_link_prediction_common_neighbors), which RA (1/deg "
        "weighting) and this normalization bracket from both sides. "
        "Candidates come from the part->suppliers inverted index "
        "(equi-join, never all-pairs); supplier degrees broadcast; "
        "the score is one shared division of exact integers "
        "(union = deg_a + deg_b - common by inclusion-exclusion). "
        "Top-{0} plans as TakeOrderedAndProject with the (supp_a, "
        "supp_b) tiebreak, so the limit is deterministic. The hub "
        "fan-out caveat + salting remedy match the RA variant's."
        .format(_JC_TOP)
    ),
    tags=("graph", "similarity", "topk"),
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    edges = t.lineitem.select(
        F.col("l_suppkey").alias("supp"), F.col("l_partkey").alias("part")
    ).distinct()
    sdeg = edges.groupBy("supp").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    # Same AQE-coalescing guard as the RA variant: the pair explosion
    # needs parallelism sized to its output, not its ~10MB input.
    a = edges.select(F.col("supp").alias("supp_a"), "part").repartition(
        spark.sparkContext.defaultParallelism, "part"
    )
    b = edges.select(F.col("supp").alias("supp_b"), "part")
    pairs = (
        a.join(b, ["part"])
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_parts"))
    )
    da = sdeg.select(F.col("supp").alias("supp_a"), F.col("d").alias("deg_a"))
    db = sdeg.select(F.col("supp").alias("supp_b"), F.col("d").alias("deg_b"))
    return (
        pairs.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "common_parts",
            "deg_a",
            "deg_b",
            F.expr(
                "CAST(common_parts AS DOUBLE)"
                " / CAST(deg_a + deg_b - common_parts AS DOUBLE)"
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "supp_a", "supp_b")
        .limit(_JC_TOP)
    )


@register(
    "graph_katz_centrality_bounded",
    oracle="""
        WITH co AS (
            SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_totalprice > 400000
        ),
        e AS (
            SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v
            FROM co WHERE a <> b GROUP BY 1, 2
        ),
        se AS (
            SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
        ),
        p1 AS (
            SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS c1 FROM se GROUP BY u
        ),
        p2 AS (
            SELECT se.u AS node, CAST(SUM(p1.c1) AS BIGINT) AS c2
            FROM se JOIN p1 ON p1.node = se.v GROUP BY se.u
        ),
        p3 AS (
            SELECT se.u AS node, CAST(SUM(p2.c2) AS BIGINT) AS c3
            FROM se JOIN p2 ON p2.node = se.v GROUP BY se.u
        )
        SELECT p1.node, p1.c1 AS paths_1, p2.c2 AS paths_2, p3.c3 AS paths_3,
               CAST(p1.c1 AS DOUBLE) / 8.0 + CAST(p2.c2 AS DOUBLE) / 64.0
                   + CAST(p3.c3 AS DOUBLE) / 512.0 AS katz_score
        FROM p1 JOIN p2 USING (node) JOIN p3 USING (node)
        ORDER BY node
    """,
    doc=(
        "G17: 3-hop truncated Katz centrality over the nation co-trade "
        "graph (the triangle/k-core edge basis): katz(i) = sum_L "
        "beta^L * (walks of length L from i), beta = 1/8 (dyadic, so "
        "every term is an exact integer divided by a power of two — "
        "no pow(), no drift), truncated at L=3 — the standard bounded "
        "approximation when the full (I - beta*A)^-1 resolvent is a "
        "solver job, and the walk-counting completion of the degree "
        "(L=1) and neighbor-degree views. Each hop is one equi-join "
        "of the symmetric edge list against the previous hop's count "
        "vector (the Pregel-shaped message sum); the final score is "
        "one shared IEEE expression over three exact BIGINT walk "
        "counts."
    ),
    tags=("graph",),
)
def graph_katz_centrality_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, _deg = _co_edges(Tables(spark, sf_dir))
    se = e.select("u", "v").unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    p1 = se.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c1")
    )
    p2 = (
        se.join(p1.select(F.col("node").alias("v"), "c1"), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.sum("c1").cast("bigint").alias("c2"))
    )
    p3 = (
        se.join(p2.select(F.col("node").alias("v"), "c2"), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.sum("c2").cast("bigint").alias("c3"))
    )
    return (
        p1.join(p2, "node")
        .join(p3, "node")
        .select(
            "node",
            F.col("c1").alias("paths_1"),
            F.col("c2").alias("paths_2"),
            F.col("c3").alias("paths_3"),
            F.expr(
                "CAST(c1 AS DOUBLE) / 8.0 + CAST(c2 AS DOUBLE) / 64.0"
                " + CAST(c3 AS DOUBLE) / 512.0"
            ).alias("katz_score"),
        )
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Round-7 additions (SURVEY §2.17): reciprocity/density and the rich-club
# curve over the event HANDOFF graph — a directed edge u -> v for each
# consecutive event pair (by ts, event_id) within an event type where the
# actor changes: the interaction-flow graph of a shared activity stream.
# ---------------------------------------------------------------------------

_HANDOFF_SQL = """
        seq AS (
            SELECT event_type, user_id,
                   lag(user_id) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) AS prev_user
            FROM events
        ),
        edges AS (
            SELECT DISTINCT prev_user AS src, user_id AS dst
            FROM seq
            WHERE prev_user IS NOT NULL AND prev_user <> user_id
        )
"""


def _handoff_edges(t: Tables) -> DataFrame:
    from pyspark.sql import Window as W

    seq = t.events.select(
        "event_type",
        "user_id",
        F.lag("user_id")
        .over(W.partitionBy("event_type").orderBy("ts", "event_id"))
        .alias("prev_user"),
    )
    return (
        seq.filter(
            F.col("prev_user").isNotNull() & (F.col("prev_user") != F.col("user_id"))
        )
        .select(F.col("prev_user").alias("src"), F.col("user_id").alias("dst"))
        .distinct()
    )


@register(
    "graph_reciprocity_density",
    oracle=f"""
        WITH {_HANDOFF_SQL},
        nodes AS (
            SELECT COUNT(*) AS n FROM (
                SELECT src AS u FROM edges UNION SELECT dst FROM edges
            )
        ),
        recip AS (
            SELECT COUNT(*) AS r
            FROM edges a JOIN edges b ON a.src = b.dst AND a.dst = b.src
        ),
        m AS (SELECT COUNT(*) AS e FROM edges)
        SELECT CAST(n AS BIGINT) AS n_nodes,
               CAST(e AS BIGINT) AS n_edges,
               CAST(r AS BIGINT) AS n_reciprocated,
               CAST(r AS DOUBLE) / CAST(e AS DOUBLE) AS reciprocity,
               CAST(e AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS density
        FROM nodes CROSS JOIN recip CROSS JOIN m
    """,
    doc=(
        "G18: reciprocity and density of the directed handoff graph — "
        "the two first-order shape numbers of any interaction network "
        "(is attention mutual, and how saturated is the possible edge "
        "space?). Reciprocated edges come from ONE self-equi-join on "
        "the reversed key (src, dst) = (dst, src) — never an all-pairs "
        "scan; node count is a distinct union fold. All counts exact "
        "BIGINT; the two ratios are shared divisions (one-row scalar "
        "cross-assembly, documented-bounded BNLJ)."
    ),
    tags=("graph", "agg"),
)
def graph_reciprocity_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    edges = _handoff_edges(t)
    nodes = (
        edges.select(F.col("src").alias("u"))
        .union(edges.select(F.col("dst").alias("u")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = edges.join(rev, ["src", "dst"]).agg(F.count(F.lit(1)).alias("r"))
    m = edges.agg(F.count(F.lit(1)).alias("e"))
    return (
        nodes.crossJoin(F.broadcast(recip))
        .crossJoin(F.broadcast(m))
        .select(
            F.col("n").cast("bigint").alias("n_nodes"),
            F.col("e").cast("bigint").alias("n_edges"),
            F.col("r").cast("bigint").alias("n_reciprocated"),
            F.expr("CAST(r AS DOUBLE) / CAST(e AS DOUBLE)").alias("reciprocity"),
            F.expr(
                "CAST(e AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))"
            ).alias("density"),
        )
    )


@register(
    "graph_rich_club_coefficient",
    oracle=f"""
        WITH {_HANDOFF_SQL},
        und AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM edges
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
            GROUP BY node
        ),
        ks(k) AS (VALUES (2), (4), (8), (16)),
        club AS (
            SELECT k.k, d.node
            FROM ks k JOIN deg d ON d.deg >= k.k
        ),
        club_n AS (
            SELECT k, CAST(COUNT(*) AS BIGINT) AS nc FROM club GROUP BY k
        ),
        club_e AS (
            SELECT c1.k, CAST(COUNT(*) AS BIGINT) AS ec
            FROM und e
            JOIN club c1 ON c1.node = e.u
            JOIN club c2 ON c2.node = e.v AND c2.k = c1.k
            GROUP BY c1.k
        )
        SELECT n.k AS degree_threshold, n.nc AS n_club,
               COALESCE(e.ec, 0) AS e_club,
               CASE WHEN n.nc >= 2
                    THEN 2.0 * CAST(COALESCE(e.ec, 0) AS DOUBLE)
                         / (CAST(n.nc AS DOUBLE) * (CAST(n.nc AS DOUBLE) - 1.0))
               END AS phi
        FROM club_n n LEFT JOIN club_e e ON e.k = n.k
        ORDER BY degree_threshold
    """,
    doc=(
        "G19: rich-club coefficient curve over the undirected handoff "
        "graph — phi(k) = realized / possible edges among nodes of "
        "degree >= k, at the 4-point threshold grid (2, 4, 8, 16): do "
        "the hubs preferentially interconnect (the core-periphery "
        "signature PageRank alone cannot see)? Degrees fold from the "
        "symmetrized distinct edge list; club membership is a 4-row "
        "grid broadcast join, and club-internal edges come from two "
        "equi-joins of the edge list against the membership table — "
        "never an all-pairs construction. Exact integers, one shared "
        "division per threshold (clubs below 2 nodes emit NULL phi)."
    ),
    tags=("graph", "agg"),
)
def graph_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    edges = _handoff_edges(t)
    und = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    ks = t.events.sparkSession.createDataFrame([(2,), (4,), (8,), (16,)], "k int")
    club = F.broadcast(ks).join(deg, F.col("deg") >= F.col("k")).select("k", "node")
    club_n = club.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    c1 = club.select(F.col("k"), F.col("node").alias("u"))
    c2 = club.select(F.col("k"), F.col("node").alias("v"))
    club_e = (
        und.join(c1, "u")
        .join(c2, ["k", "v"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ec"))
    )
    return (
        club_n.join(club_e, "k", "left")
        .select(
            F.col("k").alias("degree_threshold"),
            F.col("nc").alias("n_club"),
            F.coalesce(F.col("ec"), F.lit(0)).cast("bigint").alias("e_club"),
            F.expr(
                "CASE WHEN nc >= 2 THEN 2.0 * CAST(COALESCE(ec, 0) AS DOUBLE)"
                " / (CAST(nc AS DOUBLE) * (CAST(nc AS DOUBLE) - 1.0)) END"
            ).alias("phi"),
        )
        .orderBy("degree_threshold")
    )


@register(
    "graph_bipartite_projection_topk",
    oracle="""
        WITH ps AS (
            SELECT DISTINCT l_partkey AS part, l_suppkey AS supp
            FROM lineitem
        ),
        pairs AS (
            SELECT a.supp AS supp_a, b.supp AS supp_b,
                   CAST(COUNT(*) AS BIGINT) AS shared_parts
            FROM ps a JOIN ps b ON a.part = b.part AND a.supp < b.supp
            GROUP BY a.supp, b.supp
        ),
        deg AS (
            SELECT supp, CAST(COUNT(*) AS BIGINT) AS n_parts
            FROM ps GROUP BY supp
        )
        SELECT p.supp_a, p.supp_b, p.shared_parts,
               da.n_parts AS parts_a, db.n_parts AS parts_b,
               CAST(p.shared_parts AS DOUBLE)
                   / CAST(da.n_parts + db.n_parts - p.shared_parts AS DOUBLE)
                 AS overlap_jaccard
        FROM pairs p
        JOIN deg da ON da.supp = p.supp_a
        JOIN deg db ON db.supp = p.supp_b
        ORDER BY shared_parts DESC, supp_a, supp_b
        LIMIT 25
    """,
    doc=(
        "G20: weighted bipartite projection — collapse the part-"
        "supplier graph onto suppliers, weighting each supplier pair "
        "by shared-part count (the co-purchasing / co-occurrence "
        "projection under supplier-substitution and recommendation "
        "analyses), with the overlap Jaccard from broadcast per-"
        "supplier degrees. Candidate pairs come from the INVERTED "
        "equi-join on part (a part's supplier list is the posting — "
        "pair space is sum of per-part list squares, never "
        "|suppliers|^2); top-25 strongest pairs by the deterministic "
        "(weight DESC, pair) order plan as TakeOrderedAndProject. "
        "Exact integers + one shared division."
    ),
    tags=("graph", "join", "topk"),
)
def graph_bipartite_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    ps = t.lineitem.select(
        F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp")
    ).distinct()
    a = ps.select("part", F.col("supp").alias("supp_a"))
    b = ps.select("part", F.col("supp").alias("supp_b"))
    pairs = (
        a.join(b, "part")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_parts"))
    )
    deg = ps.groupBy("supp").agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    da = deg.select(F.col("supp").alias("supp_a"), F.col("n_parts").alias("parts_a"))
    db = deg.select(F.col("supp").alias("supp_b"), F.col("n_parts").alias("parts_b"))
    return (
        pairs.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "shared_parts",
            "parts_a",
            "parts_b",
            F.expr(
                "CAST(shared_parts AS DOUBLE)"
                " / CAST(parts_a + parts_b - shared_parts AS DOUBLE)"
            ).alias("overlap_jaccard"),
        )
        .orderBy(F.desc("shared_parts"), "supp_a", "supp_b")
        .limit(25)
    )


@register(
    "graph_edge_triangle_support",
    oracle=f"""
        WITH {_HANDOFF_SQL},
        und AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM edges
        ),
        tri AS (
            SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM und e1
            JOIN und e2 ON e2.u = e1.v
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        sup AS (
            SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support
            FROM (
                SELECT x AS u, y AS v FROM tri
                UNION ALL SELECT y, z FROM tri
                UNION ALL SELECT x, z FROM tri
            )
            GROUP BY u, v
        )
        SELECT u, v, support
        FROM sup
        ORDER BY support DESC, u, v
        LIMIT 20
    """,
    doc=(
        "G21: per-edge triangle support over the undirected handoff "
        "graph — how many triangles each edge participates in, the "
        "quantity under k-truss decomposition and the strongest "
        "tie-strength signal short of it (an edge with high support "
        "sits inside a dense community; a zero-support edge is a "
        "bridge). Triangles enumerate once via the ordered-edge "
        "3-join (u < v everywhere, the graph_triangle_count shape), "
        "then each triangle contributes to its three edges through a "
        "UNION ALL explode + one hash agg — never a per-edge "
        "neighborhood join. Top-20 by (support DESC, edge) plans as "
        "TakeOrderedAndProject."
    ),
    tags=("graph", "join", "topk"),
)
def graph_edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    edges = _handoff_edges(t)
    und = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    e1 = und.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = und.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = und.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    sup = (
        tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
        .unionAll(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
        .unionAll(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    return sup.orderBy(F.desc("support"), "u", "v").limit(20)


# ---------------------------------------------------------------------------
# Round-8 additions (SURVEY §2.18): preferential-attachment link
# prediction (completing the CN / Jaccard / resource-allocation family)
# and harmonic centrality + eccentricity on the bounded co-trade BFS.
# ---------------------------------------------------------------------------


@register(
    "graph_preferential_attachment_scores",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS supp, l_partkey AS part
            FROM lineitem
        ),
        deg AS (
            SELECT supp, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY supp
        ),
        cand AS (
            SELECT a.supp AS supp_a, b.supp AS supp_b,
                   CAST(COUNT(*) AS BIGINT) AS common_parts
            FROM edges a JOIN edges b
              ON a.part = b.part AND a.supp < b.supp
            GROUP BY a.supp, b.supp
        )
        SELECT c.supp_a, c.supp_b, c.common_parts,
               da.d AS deg_a, db.d AS deg_b,
               CAST(da.d * db.d AS BIGINT) AS pa_score
        FROM cand c
        JOIN deg da ON da.supp = c.supp_a
        JOIN deg db ON db.supp = c.supp_b
        ORDER BY pa_score DESC, c.supp_a, c.supp_b
        LIMIT {_LINK_TOP}
    """,
    doc=(
        "G23: preferential-attachment link prediction — score supplier "
        "pairs by deg(a) * deg(b), the rich-get-richer baseline every "
        "other link predictor is benchmarked against (and the only one "
        "needing NO neighborhood intersection, so it is the cheapest "
        "at scale). Candidates still come from the inverted part index "
        "(>= 1 shared part), keeping the pair space equi-join-bounded; "
        "the score itself is an exact BIGINT product of broadcast "
        "degrees, so ranking has no float anywhere — completing the "
        "common-neighbors / Jaccard / resource-allocation prediction "
        "family with its degree-only member. Top-25 TakeOrdered with "
        "deterministic tie-break."
    ),
    tags=("graph", "similarity", "topk"),
)
def graph_preferential_attachment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    edges = t.lineitem.select(
        F.col("l_suppkey").alias("supp"), F.col("l_partkey").alias("part")
    ).distinct()
    deg = edges.groupBy("supp").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = edges.select(F.col("supp").alias("supp_a"), "part")
    b = edges.select(F.col("supp").alias("supp_b"), "part")
    cand = (
        a.join(b, ["part"])
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_parts"))
    )
    da = deg.select(F.col("supp").alias("supp_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("supp").alias("supp_b"), F.col("d").alias("deg_b"))
    return (
        cand.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "common_parts",
            "deg_a",
            "deg_b",
            (F.col("deg_a") * F.col("deg_b")).cast("bigint").alias("pa_score"),
        )
        .orderBy(F.desc("pa_score"), "supp_a", "supp_b")
        .limit(_LINK_TOP)
    )


@register(
    "graph_harmonic_centrality_bounded",
    oracle=f"""
        WITH RECURSIVE co AS (
            SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_totalprice > 400000 AND c.c_nationkey <> s.s_nationkey
        ),
        sym AS (
            SELECT a AS src, b AS dst FROM co
            UNION
            SELECT b AS src, a AS dst FROM co
        ),
        nodes AS (SELECT DISTINCT src AS node FROM sym),
        walk(root, node, hop) AS (
            SELECT node, node, 0 FROM nodes
            UNION
            SELECT walk.root, sym.dst, walk.hop + 1
            FROM walk JOIN sym ON sym.src = walk.node
            WHERE walk.hop < {_CLOSENESS_ROUNDS}
        ),
        dists AS (
            SELECT root, node, MIN(hop) AS dist FROM walk GROUP BY root, node
        ),
        agg AS (
            SELECT root,
                   CAST(COUNT(*) - 1 AS BIGINT) AS n_reachable,
                   CAST(SUM(CASE WHEN dist > 0 THEN 60 // dist ELSE 0 END)
                        AS BIGINT) AS harmonic_x60,
                   CAST(MAX(dist) AS BIGINT) AS eccentricity,
                   CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes
            FROM dists GROUP BY root
        )
        SELECT CAST(root AS BIGINT) AS nationkey, n_reachable, eccentricity,
               CAST(harmonic_x60 AS DOUBLE) / 60.0 AS harmonic,
               CAST(harmonic_x60 AS DOUBLE)
                   / (60.0 * CAST(n_nodes - 1 AS DOUBLE))
                   AS harmonic_normalized
        FROM agg ORDER BY nationkey
    """,
    doc=(
        "G24: harmonic centrality + eccentricity of every nation in "
        "the bounded co-trade graph — harmonic = Sum(1/d) over "
        "reachable peers, the centrality that stays well-defined on "
        "DISCONNECTED graphs (where classic closeness needs the "
        "Wasserman-Faust patch the G11 op applies); eccentricity = "
        "max hop, whose maximum over roots is the graph diameter. "
        "Because the BFS is hop-bounded at 6, every distance divides "
        "60, so Sum(1/d) is kept as the EXACT integer Sum(60/d) "
        "(integer division, remainder provably zero) until one shared "
        "final division — no float accumulation across peers in any "
        "order. Same one-plan multi-source BFS as closeness (the "
        "<= 25-node graph in one row, reachable-set layers folded per "
        "root); oracle replays it as the recursive-CTE walk."
    ),
    tags=("graph", "join", "iterative"),
)
def graph_harmonic_centrality_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _nation_hops(Tables(spark, sf_dir)).groupBy("root", "n_nodes").agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_reachable"),
        F.expr(
            "CAST(SUM(CASE WHEN dist > 0 THEN 60 DIV dist ELSE 0 END) AS BIGINT)"
        ).alias("harmonic_x60"),
        F.max("dist").cast("bigint").alias("eccentricity"),
    )
    return (
        agg.select(
            F.col("root").cast("bigint").alias("nationkey"),
            "n_reachable",
            "eccentricity",
            F.expr("CAST(harmonic_x60 AS DOUBLE) / 60.0").alias("harmonic"),
            F.expr(
                "CAST(harmonic_x60 AS DOUBLE) / (60.0 * CAST(n_nodes - 1 AS DOUBLE))"
            ).alias("harmonic_normalized"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Round-9 additions (SURVEY §2.19): per-node local clustering and the
# weighted average-neighbor-degree (knn) curve — the node-grain
# companions to the global transitivity and assortativity ops.
# ---------------------------------------------------------------------------

#: shared SQL preamble: the high-value nation co-trade graph as an
#: ordered distinct edge list (the triangle/katz/clustering contract)
#: MATERIALIZED: the edge list is referenced 3-6 times downstream
#: (triangle 3-join, degree union, symmetric expansion) — without it
#: DuckDB re-executes the 4-table co-occurrence join per reference
_CO_EDGE_SQL = """
        co AS MATERIALIZED (
            SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_totalprice > 400000
        ),
        e AS MATERIALIZED (
            SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v
            FROM co WHERE a <> b GROUP BY 1, 2
        ),
        deg AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
                SELECT u AS node FROM e UNION ALL SELECT v FROM e
            ) GROUP BY node
        )
"""


@register(
    "graph_local_clustering_per_node",
    oracle=f"""
        WITH {_CO_EDGE_SQL},
        tri AS (
            SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
        ),
        tv AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ) GROUP BY node
        )
        SELECT d.node, d.d AS degree,
               CAST(COALESCE(tv.n_tri, 0) AS BIGINT) AS n_triangles,
               CASE WHEN d.d < 2 THEN 0.0
                    ELSE 2.0 * CAST(COALESCE(tv.n_tri, 0) AS DOUBLE)
                         / CAST(d.d * (d.d - 1) AS DOUBLE) END AS c_local
        FROM deg d LEFT JOIN tv ON tv.node = d.node
        ORDER BY d.node
    """,
    doc=(
        "G25: per-node LOCAL clustering coefficient of the nation "
        "co-trade graph — c(v) = 2*tri(v) / (d(v)*(d(v)-1)), the "
        "node-grain refinement of the global transitivity op: it "
        "locates WHERE the graph is cliquish, which is what decides "
        "whether a specific node's 2-hop neighborhood join explodes. "
        "Each ordered triangle (x<y<z) from the 3-join credits all "
        "three member nodes via one union-all + count; degree-<2 "
        "nodes pin c = 0 per the classical convention. Integer "
        "counts until one shared division. Everything after the "
        "distinct edge list is metadata-scale."
    ),
    tags=("graph",),
)
def graph_local_clustering_per_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    e, deg = _co_edges(t)
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    tv = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select(F.col("y").alias("node")))
        .union(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    return (
        deg.join(tv, "node", "left")
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.expr(
                "CASE WHEN d < 2 THEN 0.0"
                " ELSE 2.0 * CAST(COALESCE(n_tri, 0) AS DOUBLE)"
                " / CAST(d * (d - 1) AS DOUBLE) END"
            ).alias("c_local"),
        )
        .orderBy("node")
    )


@register(
    "graph_knn_degree_correlation",
    oracle=f"""
        WITH {_CO_EDGE_SQL},
        se AS (
            SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
        ),
        nbr AS (
            SELECT se.u AS node,
                   CAST(SUM(dn.d) AS BIGINT) AS snd
            FROM se JOIN deg dn ON dn.node = se.v
            GROUP BY se.u
        )
        SELECT d.d AS degree,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(n.snd) AS BIGINT) AS sum_neighbor_degrees,
               CAST(SUM(d.d) AS BIGINT) AS sum_degrees,
               CAST(SUM(n.snd) AS DOUBLE) / CAST(SUM(d.d) AS DOUBLE)
                   AS knn_weighted
        FROM deg d JOIN nbr n ON n.node = d.node
        GROUP BY d.d
        ORDER BY degree
    """,
    doc=(
        "G26: average-neighbor-degree curve knn(k) — for each degree "
        "class, the edge-weighted mean degree of neighbors: rising "
        "knn(k) = assortative (hubs prefer hubs), falling = "
        "disassortative (hubs fan out to leaves) — the CURVE behind "
        "the single assortativity coefficient, and the shape that "
        "predicts hub-key skew in neighborhood joins. The weighted "
        "form sum(neighbor degrees) / sum(degrees) per class is an "
        "exact integer ratio (the unweighted mean-of-ratios would be "
        "an order-dependent float sum and is deliberately avoided). "
        "One symmetric edge expansion, one degree equi-join, two "
        "integer aggregations, one shared division per class."
    ),
    tags=("graph",),
)
def graph_knn_degree_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    e, deg = _co_edges(t)
    se = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nbr = (
        se.join(deg.select(F.col("node").alias("v"), "d"), "v")
        .groupBy("u")
        .agg(F.sum("d").cast("bigint").alias("snd"))
        .select(F.col("u").alias("node"), "snd")
    )
    return (
        deg.join(nbr, "node")
        .groupBy(F.col("d").alias("degree"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("snd").cast("bigint").alias("sum_neighbor_degrees"),
            F.sum("d").cast("bigint").alias("sum_degrees"),
        )
        .select(
            "degree",
            "n_nodes",
            "sum_neighbor_degrees",
            "sum_degrees",
            (
                F.col("sum_neighbor_degrees").cast("double")
                / F.col("sum_degrees").cast("double")
            ).alias("knn_weighted"),
        )
        .orderBy("degree")
    )


@register(
    "graph_four_cycle_count",
    oracle=f"""
        WITH {_CO_EDGE_SQL},
        sym AS (
            SELECT u AS a, v AS x FROM e
            UNION ALL
            SELECT v AS a, u AS x FROM e
        ),
        cod AS (
            SELECT s1.a AS p, s2.a AS q, COUNT(*) AS cn
            FROM sym s1 JOIN sym s2 ON s1.x = s2.x AND s1.a < s2.a
            GROUP BY 1, 2
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_codegree_pairs,
               CAST(MAX(cn) AS BIGINT) AS max_codegree,
               CAST(SUM((cn * (cn - 1)) // 2) AS BIGINT) AS sum_c2,
               CAST(SUM((cn * (cn - 1)) // 2) // 2 AS BIGINT) AS four_cycles
        FROM cod
    """,
    doc=(
        "G27: four-cycle (C4 / rectangle) count — the quadrilateral "
        "companion of triangle counting, the motif behind bipartite-"
        "style redundancy in co-occurrence graphs (two nodes sharing "
        "two+ common neighbors). Identity: every C4 has exactly two "
        "diagonal pairs, and each unordered pair (u, w) contributes "
        "C(codeg(u,w), 2) cycles, so #C4 = (1/2) * sum over pairs of "
        "C(codeg, 2) — all exact integers (the sum is even by "
        "construction; both engines integer-divide). Codegrees come "
        "from one equi-self-join of the symmetric adjacency on the "
        "shared-neighbor key (the common-neighbors link-prediction "
        "shape) over the lazy co-trade edge list (<= 300 edges) — "
        "metadata-scale at any SF; on a real 100 TB graph the "
        "same plan is the standard codegree shuffle, never an "
        "all-pairs scan."
    ),
    tags=("graph",),
)
def graph_four_cycle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    e, _deg = _co_edges(t)
    sym = e.selectExpr("u AS a", "v AS x").union(e.selectExpr("v AS a", "u AS x"))
    s2 = sym.selectExpr("a AS b", "x")
    cod = (
        sym.join(s2, "x")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    return cod.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_codegree_pairs"),
        F.max("cn").cast("bigint").alias("max_codegree"),
        F.expr("CAST(SUM((cn * (cn - 1)) div 2) AS BIGINT)").alias("sum_c2"),
        F.expr("CAST(SUM((cn * (cn - 1)) div 2) div 2 AS BIGINT)").alias(
            "four_cycles"
        ),
    )


_TRUSS_K = 10
_TRUSS_ROUNDS = 3


def _truss_round_sql(i: int) -> str:
    """One peel round as DuckDB CTEs: per-edge triangle support within
    the current edge set, then restriction to support >= k-2."""
    k = _TRUSS_K
    return f"""sym{i} AS (
            SELECT u AS a, v AS x FROM g{i}
            UNION ALL
            SELECT v AS a, u AS x FROM g{i}
        ),
        sup{i} AS (
            SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS sup
            FROM g{i} e
            JOIN sym{i} s1 ON s1.a = e.u
            JOIN sym{i} s2 ON s2.a = e.v AND s2.x = s1.x
            GROUP BY e.u, e.v
        ),
        g{i + 1} AS (SELECT u, v FROM sup{i} WHERE sup >= {k - 2})"""


@register(
    "graph_ktruss_decomposition",
    oracle=f"""
        WITH {_CO_EDGE_SQL},
        g0 AS (SELECT u, v FROM e),
        {_truss_round_sql(0)},
        {_truss_round_sql(1)},
        {_truss_round_sql(2)},
        fin AS (
            SELECT u, v, sup FROM sup{_TRUSS_ROUNDS - 1}
            WHERE sup >= {_TRUSS_K - 2}
        )
        SELECT u, v, sup AS truss_support,
               (SELECT COUNT(*) FROM g{_TRUSS_ROUNDS - 1})
                 = (SELECT COUNT(*) FROM fin) AS converged
        FROM fin
        ORDER BY u, v
    """,
    doc=(
        f"G28: k-truss decomposition (k={_TRUSS_K}) of the co-trade "
        "graph — the EDGE-grain analog of the k-core: keep only edges "
        f"participating in >= k-2 = {_TRUSS_K - 2} triangles within "
        "the surviving subgraph, peeling iteratively. Trusses are the "
        "standard community-core primitive (stricter than k-core: "
        "every retained relationship is embedded in many closed "
        f"triads). {_TRUSS_ROUNDS} peel rounds unroll IDENTICALLY in "
        "both engines (each round: per-edge triangle support within "
        "the current edge set, then restriction to support >= k-2); "
        "the fixpoint-within-unroll property is asserted by pytest "
        "at the test SFs (the k-core contract), AND every output row "
        "carries a converged flag (last-round edge count == final "
        "filtered count) so a non-converged truncation on some other "
        "corpus is visible in the output itself, not only in a test "
        "(r10 advice). Integer triangle counting end to end. Spark "
        "folds the peel over the sorted u < v edge array of the "
        "gathered graph row (support = common neighbors within the "
        "current array), flag included, in one lazy plan with no "
        "per-round jobs; on a real graph this is the standard "
        "support-peel with edges bucketed by endpoint, round count "
        "bounded by the truss peeling depth."
    ),
    tags=("graph", "join", "iterative"),
)
def graph_ktruss_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    def nbrs(n: str) -> str:
        return f"transform(filter(g, y -> y.u = {n} OR y.v = {n}), y -> IF(y.u = {n}, y.v, y.u))"

    sup = f"CAST(size(array_intersect({nbrs('x.u')}, {nbrs('x.v')})) AS BIGINT)"
    # the finish step keeps the last round's edge count next to the
    # final filter: the unroll is a true truss iff that filter removed
    # nothing, so convergence is visible in the output (r10 advice)
    peeled = _nation_graph(Tables(spark, sf_dir), 400000).select(
        F.expr(
            f"""aggregate(sequence(1, {_TRUSS_ROUNDS - 1}),
                array_sort(array_distinct(transform(e, x ->
                    named_struct('u', least(x.a, x.b), 'v', greatest(x.a, x.b))))),
                (g, i) -> filter(g, x -> {sup} >= {_TRUSS_K - 2}),
                g -> named_struct('n', size(g), 'fin', filter(
                    transform(g, x -> named_struct('u', x.u, 'v', x.v, 'sup', {sup})),
                    x -> x.sup >= {_TRUSS_K - 2})))"""
        ).alias("t")
    )
    return (
        peeled.select(
            F.explode("t.fin").alias("x"), (F.col("t.n") == F.size("t.fin")).alias("converged")
        )
        .select("x.u", "x.v", F.col("x.sup").alias("truss_support"), "converged")
        .orderBy("u", "v")
    )
