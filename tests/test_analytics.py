"""Behavioral tests for the warehouse-analytics operators (regression,
triangles, SCD2, funnel, PMI, incremental aggregation) — semantics on
hand-built inputs, independent of the DuckDB oracle sweep."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_grouped_ols_matches_numpy(spark):
    from magmapandas_spark.operators.regression import grouped_ols

    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    ys = [2.1, 3.9, 6.2, 8.1, 9.8]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], ["g", "x", "y"]
    )
    row = grouped_ols(df, ["g"], "x", "y").collect()[0]
    slope_np, icept_np = np.polyfit(xs, ys, 1)
    assert row["n_rows"] == 5
    assert abs(row["slope"] - slope_np) < 1e-9
    assert abs(row["intercept"] - icept_np) < 1e-9
    r = np.corrcoef(xs, ys)[0, 1]
    assert abs(row["r2"] - r * r) < 1e-9


def test_grouped_ols_constant_x_is_null(spark):
    from magmapandas_spark.operators.regression import grouped_ols

    df = spark.createDataFrame(
        [("g", 2.0, 1.0), ("g", 2.0, 3.0)], ["g", "x", "y"]
    )
    row = grouped_ols(df, ["g"], "x", "y").collect()[0]
    assert row["slope"] is None and row["r2"] is None


def test_triangle_count_k4(spark):
    from magmapandas_spark.operators.graph import triangle_count

    # K4 has 4 triangles, 6 edges, every node in 3 triangles;
    # wedges = 4 * C(3,2) = 12 -> transitivity = 3*4/12 = 1.0
    edges = [(a, b) for a in range(4) for b in range(4) if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = triangle_count(df, top_k=10).collect()
    assert len(out) == 4
    for r in out:
        assert r["tri_count"] == 3
        assert r["n_edges"] == 6
        assert r["n_triangles"] == 4
        assert r["transitivity_ppm"] == 1_000_000


def test_triangle_count_path_graph_has_none(spark):
    from magmapandas_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], ["src", "dst"]
    )
    assert triangle_count(df).count() == 0


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_scd2_collapses_noop_updates(spark):
    from magmapandas_spark.operators.analytics import scd2_build

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 7, "a"),
        (2, _ts("2024-01-02T00:00:00"), 7, "a"),  # no-op: collapses
        (3, _ts("2024-01-03T00:00:00"), 7, "b"),
        (4, _ts("2024-01-04T00:00:00"), 7, "a"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    )
    out = scd2_build(df).orderBy("version").collect()
    assert [r["state"] for r in out] == ["a", "b", "a"]
    assert [r["version"] for r in out] == [1, 2, 3]
    # intervals chain: each valid_to == next valid_from; last open
    assert out[0]["valid_to_us"] == out[1]["valid_from_us"]
    assert out[1]["valid_to_us"] == out[2]["valid_from_us"]
    assert out[2]["valid_to_us"] is None
    assert [r["is_current"] for r in out] == [False, False, True]


def test_scd2_equal_ts_ordered_by_seq(spark):
    from magmapandas_spark.operators.analytics import scd2_build

    t = _ts("2024-01-01T00:00:00")
    rows = [(2, t, 1, "b"), (1, t, 1, "a")]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    )
    out = scd2_build(df).orderBy("version").collect()
    assert [r["state"] for r in out] == ["a", "b"]


def test_funnel_strictly_after(spark):
    from magmapandas_spark.operators.analytics import funnel_steps

    rows = [
        # user 1 completes a->b in order
        (1, "a", _ts("2024-01-01T00:00:00")),
        (1, "b", _ts("2024-01-01T01:00:00")),
        # user 2: b at the SAME instant as a -> must NOT count
        (2, "a", _ts("2024-01-01T00:00:00")),
        (2, "b", _ts("2024-01-01T00:00:00")),
        # user 3: b strictly before a -> must NOT count
        (3, "b", _ts("2024-01-01T00:00:00")),
        (3, "a", _ts("2024-01-01T01:00:00")),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = funnel_steps(df, steps=["a", "b"]).collect()[0]
    assert out["n_users"] == 3
    assert out["n_a"] == 3
    assert out["n_b"] == 1
    assert out["conv_b_ppm"] == 1_000_000 // 3
    assert out["mean_funnel_us"] == 3_600_000_000


def test_token_pmi_small(spark):
    from magmapandas_spark.operators.analytics import token_pmi

    # "x y" always adjacent; "p q" never co-occur adjacently
    docs = spark.createDataFrame(
        [("x y p", ), ("x y q", ), ("x y p q x y", )], ["text"]
    )
    out = token_pmi(docs, min_count=2, top_k=10).collect()
    by_bigram = {r["bigram"]: r for r in out}
    assert "x y" in by_bigram
    r = by_bigram["x y"]
    # N=12 tokens, c_ab=4, c_x=4, c_y=4
    assert r["c_ab"] == 4 and r["c_a"] == 4 and r["c_b"] == 4
    assert r["pmi_ratio_ppm"] == (4 * 12 * 1_000_000) // 16


def test_incremental_merge_equals_recompute(spark):
    from magmapandas_spark.operators.analytics import (
        agg_state,
        merge_states,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cut = "1999-01-01"
    merged = merge_states(
        agg_state(li.filter(F.col("l_shipdate") < cut)),
        agg_state(li.filter(F.col("l_shipdate") >= cut)),
    )
    direct = agg_state(li)
    m = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in merged.collect()
    }
    d = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in direct.collect()
    }
    assert set(m) == set(d)
    for k in d:
        assert m[k]["n_rows"] == d[k]["n_rows"]
        assert m[k]["sq"] == d[k]["sq"]
        assert m[k]["sp"] == d[k]["sp"]
        assert m[k]["min_ship_day"] == d[k]["min_ship_day"]
        assert m[k]["max_ship_day"] == d[k]["max_ship_day"]


def test_cohort_retention_small(spark):
    from magmapandas_spark.operators.analytics import cohort_retention

    rows = [
        # users 1,2 start week 0; user 1 active weeks 0,1; user 2 only 0
        (1, _ts("1970-01-01T10:00:00")),
        (1, _ts("1970-01-08T10:00:00")),
        (2, _ts("1970-01-02T10:00:00")),
        # user 3 starts week 1
        (3, _ts("1970-01-09T10:00:00")),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        (r["cohort_week"], r["week_offset"]): r
        for r in cohort_retention(df).collect()
    }
    assert out[(0, 0)]["n_active"] == 2
    assert out[(0, 0)]["n_cohort"] == 2
    assert out[(0, 0)]["retention_ppm"] == 1_000_000
    assert out[(0, 1)]["n_active"] == 1
    assert out[(0, 1)]["retention_ppm"] == 500_000
    assert out[(1, 0)]["n_active"] == 1 and out[(1, 0)]["n_cohort"] == 1


def test_event_transitions_small(spark):
    from magmapandas_spark.operators.analytics import event_transitions

    rows = [
        (1, 1, _ts("2024-01-01T00:00:00"), "a"),
        (2, 1, _ts("2024-01-01T01:00:00"), "b"),
        (3, 1, _ts("2024-01-01T02:00:00"), "a"),
        (4, 2, _ts("2024-01-01T00:00:00"), "a"),
        (5, 2, _ts("2024-01-01T01:00:00"), "a"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    out = {
        (r["from_state"], r["to_state"]): r
        for r in event_transitions(df).collect()
    }
    # from 'a': a->b (user1) and a->a (user2) -> 500000 each
    assert out[("a", "b")]["n_trans"] == 1
    assert out[("a", "b")]["prob_ppm"] == 500_000
    assert out[("a", "a")]["prob_ppm"] == 500_000
    # from 'b': only b->a
    assert out[("b", "a")]["prob_ppm"] == 1_000_000


def test_ab_chi2_known_table(spark):
    from magmapandas_spark.operators.analytics import ab_chi2

    # even users 0,2: one purchase-heavy (conv), one error-heavy;
    # odd users 1,3: both error-heavy -> a=1 b=1 c=0 d=2
    rows = []
    eid = 0

    def emit(u, t, n):
        nonlocal eid
        for _ in range(n):
            rows.append((eid, u, _ts("2024-01-01T00:00:00"), t))
            eid += 1

    emit(0, "purchase", 3); emit(0, "error", 1)
    emit(2, "error", 3)
    emit(1, "error", 2)
    emit(3, "error", 2); emit(3, "purchase", 1)
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    r = ab_chi2(df).collect()[0]
    a, b, c, d = r["a"], r["b"], r["c"], r["d"]
    assert (a, b, c, d) == (1, 1, 0, 2)
    n = a + b + c + d
    expected = (n * (a * d - b * c) ** 2 * 1_000_000) // (
        (a + b) * (c + d) * (a + c) * (b + d)
    )
    assert r["chi2_micro"] == expected


def test_ab_chi2_degenerate_margin_is_null(spark):
    from magmapandas_spark.operators.analytics import ab_chi2

    # every user converts -> b = d = 0 -> chi2 NULL, no error
    rows = [
        (1, 0, _ts("2024-01-01T00:00:00"), "purchase"),
        (2, 1, _ts("2024-01-01T00:00:00"), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    r = ab_chi2(df).collect()[0]
    assert r["chi2_micro"] is None


def test_kmv_setops_estimates_bracket_truth(spark):
    from magmapandas_spark.operators.sketches import kmv_setops

    rows = []
    eid = 0
    # 300 viewers (users 0..299), 150 purchasers (users 150..299):
    # true union 300, intersection 150
    for u in range(300):
        rows.append((eid, u, _ts("2024-01-01T00:00:00"), "view"))
        eid += 1
    for u in range(150, 300):
        rows.append((eid, u, _ts("2024-01-01T00:00:00"), "purchase"))
        eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    r = kmv_setops(df).collect()[0]
    assert r["exact_union"] == 300 and r["exact_inter"] == 150
    # k=64 bottom-k sketch: ~12% relative error bound at 3 sigma
    assert abs(r["est_union"] - 300) < 120
    assert abs(r["est_inter"] - 150) < 100


def test_kmv_setops_small_sets_exact(spark):
    from magmapandas_spark.operators.sketches import kmv_setops

    rows = [
        (1, 1, _ts("2024-01-01T00:00:00"), "view"),
        (2, 2, _ts("2024-01-01T00:00:00"), "view"),
        (3, 2, _ts("2024-01-01T00:00:00"), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    r = kmv_setops(df).collect()[0]
    # below-k sketches degrade to exact counts
    assert r["est_union"] == r["exact_union"] == 2
    assert r["est_inter"] == r["exact_inter"] == 1


def test_grouped_ols2_matches_numpy(spark):
    from magmapandas_spark.operators.regression import grouped_ols2

    rng = np.random.RandomState(7)
    x1 = np.round(rng.uniform(1, 50, 40), 2)
    x2 = np.round(rng.uniform(0, 0.1, 40), 2)
    y = np.round(3.0 + 2.5 * x1 - 40.0 * x2 + rng.normal(0, 1, 40), 2)
    df = spark.createDataFrame(
        [("g", float(a), float(b), float(c))
         for a, b, c in zip(x1, x2, y)],
        ["g", "x1", "x2", "y"],
    )
    row = grouped_ols2(df, ["g"], "x1", "x2", "y").collect()[0]
    X = np.column_stack([np.ones_like(x1), x1, x2])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert abs(row["beta0"] - beta[0]) < 1e-6
    assert abs(row["beta1"] - beta[1]) < 1e-6
    assert abs(row["beta2"] - beta[2]) < 1e-6
    pred = X @ beta
    sst = ((y - y.mean()) ** 2).sum()
    sse = ((y - pred) ** 2).sum()
    assert abs(row["r2"] - (1 - sse / sst)) < 1e-6


def test_grouped_ols2_collinear_is_null(spark):
    from magmapandas_spark.operators.regression import grouped_ols2

    # x2 = 2*x1 -> singular Gram matrix
    rows = [("g", float(i), float(2 * i), float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, ["g", "x1", "x2", "y"])
    r = grouped_ols2(df, ["g"], "x1", "x2", "y").collect()[0]
    assert r["beta0"] is None and r["r2"] is None


def test_session_paths_gap_split_and_truncation(spark):
    from magmapandas_spark.operators.analytics import session_paths

    rows = [
        # user 1: 7 events 1 min apart -> one session, path truncated
        # to 5 steps
        *[(i, 1, _ts(f"2024-01-01T00:0{i}:00"), t)
          for i, t in enumerate(["a", "b", "c", "d", "e", "f", "g"])],
        # user 2: two events 40 min apart -> two sessions
        (100, 2, _ts("2024-01-01T00:00:00"), "a"),
        (101, 2, _ts("2024-01-01T00:40:00"), "b"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    out = {r["path"]: r for r in session_paths(df).collect()}
    assert out["a>b>c>d>e"]["n_sessions"] == 1
    assert out["a"]["n_sessions"] == 1
    assert out["b"]["n_sessions"] == 1
    # 3 sessions total
    assert out["a"]["share_ppm"] == 1_000_000 // 3


def test_incremental_join_identity_equals_recompute(spark):
    from magmapandas_spark.operators.analytics import (
        _join_agg,
        incremental_join_state,
    )

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cut = "2000-01-01"
    state = incremental_join_state(
        o.filter(F.col("o_orderdate") < cut),
        o.filter(F.col("o_orderdate") >= cut),
        li.filter(F.col("l_shipdate") < cut),
        li.filter(F.col("l_shipdate") >= cut),
    )
    direct = _join_agg(o, li)
    m = {r["o_orderpriority"]: r for r in state.collect()}
    d = {r["o_orderpriority"]: r for r in direct.collect()}
    assert set(m) == set(d)
    for k in d:
        assert m[k]["n_rows"] == d[k]["n_rows"]
        assert m[k]["rev"] == d[k]["rev"]  # exact decimal equality
