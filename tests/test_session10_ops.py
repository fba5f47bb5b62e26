"""Round-7 session-10 tests: categorical effect size / agreement /
multiple testing / attribution / bot scoring / FD audit / skyline."""

from __future__ import annotations

import math

import duckdb
import pytest


def _duck(con, name, rows, decl):
    con.execute(
        f"CREATE TABLE {name} AS SELECT * FROM (VALUES "
        + ",".join(rows)
        + f") t({decl})"
    )


# -- cramers_v -------------------------------------------------------------


def test_cramers_v_hand_computed(spark):
    """2x2 table: obs (x,1)=1 (x,2)=1 (y,1)=2 -> chi2 = 4/3,
    V = sqrt((4/3)/4 / 1) = 0.577350; corrected phi2 clamps to 0."""
    from harmonize_search_analyze_spark.operators.analytics import (
        cramers_v,
    )

    df = spark.createDataFrame(
        [("x", "1"), ("x", "2"), ("y", "1"), ("y", "1")], "a string, b string"
    )
    r = cramers_v(df, "a", "b").collect()[0]
    assert (r.n, r.ka, r.kb) == (4, 2, 2)
    assert r.chi2 == pytest.approx(1.333333, abs=1e-6)
    assert r.v == pytest.approx(0.57735, abs=1e-5)
    assert r.v_corrected == 0.0


def test_cramers_v_perfect_association(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        cramers_v,
    )

    df = spark.createDataFrame(
        [("u", "p"), ("u", "p"), ("v", "q")], "a string, b string"
    )
    r = cramers_v(df, "a", "b").collect()[0]
    assert r.chi2 == pytest.approx(3.0, abs=1e-6)
    assert r.v == pytest.approx(1.0, abs=1e-6)


def test_cramers_v_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        cramers_v,
        cramers_v_sql,
    )

    rows = [(f"a{i % 3}", f"b{(i * 2) % 4}") for i in range(60)]
    df = spark.createDataFrame(rows, "a string, b string")
    df.createOrReplaceTempView("s10_cv")
    want = cramers_v(df, "a", "b").collect()[0]
    got = spark.sql(cramers_v_sql("s10_cv", "a", "b", "spark")).collect()[0]
    assert (want.n, want.chi2, want.v, want.v_corrected) == (
        got.n, got.chi2, got.v, got.v_corrected,
    )
    con = duckdb.connect()
    _duck(con, "s10_cv", [f"('{a}','{b}')" for a, b in rows], "a, b")
    duck = con.execute(
        cramers_v_sql("s10_cv", "a", "b", "duckdb")
    ).fetchall()[0]
    assert duck == (want.n, want.ka, want.kb, want.chi2, want.v,
                    want.v_corrected)


# -- fleiss_kappa ----------------------------------------------------------


def test_fleiss_kappa_hand_computed(spark):
    """Items: i1=[a,a,b] P=1/3, i2=[a,a] P=1, i3=[b] dropped.
    P_bar=2/3; pooled a=4/5, b=1/5 -> P_e=0.68;
    kappa=(2/3-0.68)/0.32=-0.041667."""
    from harmonize_search_analyze_spark.operators.analytics import (
        fleiss_kappa,
    )

    df = spark.createDataFrame(
        [("i1", "a"), ("i1", "a"), ("i1", "b"),
         ("i2", "a"), ("i2", "a"), ("i3", "b")],
        "item string, cat string",
    )
    r = fleiss_kappa(df, "item", "cat").collect()[0]
    assert (r.n_items, r.n_ratings, r.n_categories) == (2, 5, 2)
    assert r.p_bar == pytest.approx(2 / 3, abs=1e-6)
    assert r.p_e == pytest.approx(0.68, abs=1e-6)
    assert r.kappa == pytest.approx(-0.041667, abs=1e-6)


def test_fleiss_kappa_perfect_and_vacuous(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        fleiss_kappa,
    )

    # perfect agreement across two categories -> kappa = 1
    df = spark.createDataFrame(
        [("i1", "a"), ("i1", "a"), ("i2", "b"), ("i2", "b")],
        "item string, cat string",
    )
    assert fleiss_kappa(df, "item", "cat").collect()[0].kappa == 1.0
    # single pooled category -> P_e = 1 -> NULL kappa
    one = spark.createDataFrame(
        [("i1", "a"), ("i1", "a")], "item string, cat string"
    )
    assert fleiss_kappa(one, "item", "cat").collect()[0].kappa is None


def test_fleiss_kappa_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        fleiss_kappa,
        fleiss_kappa_sql,
    )

    rows = [(f"i{i % 7}", f"c{(i * 3) % 4}") for i in range(50)]
    df = spark.createDataFrame(rows, "item string, cat string")
    df.createOrReplaceTempView("s10_fk")
    want = fleiss_kappa(df, "item", "cat").collect()[0]
    got = spark.sql(
        fleiss_kappa_sql("s10_fk", "item", "cat", "spark")
    ).collect()[0]
    assert tuple(want) == tuple(got)
    con = duckdb.connect()
    _duck(con, "s10_fk", [f"('{a}','{b}')" for a, b in rows], "item, cat")
    duck = con.execute(
        fleiss_kappa_sql("s10_fk", "item", "cat", "duckdb")
    ).fetchall()[0]
    assert duck == tuple(want)


# -- benjamini_hochberg ------------------------------------------------------


def test_benjamini_hochberg_hand_computed(spark):
    """Two groups [0,0,0,0] vs [10,10,10,10]: global sd = sqrt(200/7),
    |z| = 5 / (sd/2) = 1.870829, two-sided p = 1 - erf(|z|/sqrt(2))
    = 0.061368; bh_critical = 0.025 / 0.05 -> nothing rejected."""
    from harmonize_search_analyze_spark.operators.analytics import (
        benjamini_hochberg,
    )

    rows = [("a", 0.0)] * 4 + [("b", 10.0)] * 4
    df = spark.createDataFrame(rows, "g string, v double")
    out = benjamini_hochberg(df, ["g"], "v").collect()
    assert [r.rank for r in out] == [1, 2]
    assert [r.g0 for r in out] == ["a", "b"]  # p-tie broken by key
    sd = math.sqrt(200.0 / 7.0)
    z = 5.0 / (sd / 2.0)
    p = 1.0 - math.erf(z / math.sqrt(2.0))
    for r in out:
        assert abs(r.z) == pytest.approx(z, abs=1e-4)
        assert r.p_value == pytest.approx(p, abs=1e-4)
        assert not r.rejected
    assert [r.bh_critical for r in out] == [0.025, 0.05]


def test_benjamini_hochberg_rejects_strong_shift(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        benjamini_hochberg,
    )

    rows = (
        [("shift", 100.0 + (i % 3) * 0.01) for i in range(50)]
        + [(f"g{i % 5}", float((i * 7) % 11)) for i in range(250)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = benjamini_hochberg(df, ["g"], "v").collect()
    byg = {r.g0: r for r in out}
    assert byg["shift"].rank == 1
    assert byg["shift"].rejected
    # step-up property: rejected set is a rank prefix
    ranks = sorted(r.rank for r in out if r.rejected)
    assert ranks == list(range(1, len(ranks) + 1))


def test_benjamini_hochberg_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        benjamini_hochberg,
        benjamini_hochberg_sql,
    )

    rows = [(f"g{i % 6}", float((i * 13) % 17)) for i in range(120)]
    df = spark.createDataFrame(rows, "g string, v double")
    df.createOrReplaceTempView("s10_bh")
    want = [tuple(r) for r in benjamini_hochberg(df, ["g"], "v").collect()]
    got = [
        tuple(r)
        for r in spark.sql(
            benjamini_hochberg_sql("s10_bh", ["g"], "v", "spark")
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(con, "s10_bh", [f"('{g}',{v})" for g, v in rows], "g, v")
    duck = con.execute(
        benjamini_hochberg_sql("s10_bh", ["g"], "v", "duckdb")
    ).fetchall()
    assert [tuple(r) for r in duck] == want


# -- attribution_linear ------------------------------------------------------


def test_attribution_linear_hand_computed(spark):
    """u1: click+view inside the window before a 10.0 purchase -> each
    channel gets 0.5 conversions / 5.0 value; u2's click comes AFTER
    its purchase -> no credit; u3 purchase with no touches -> none."""
    from harmonize_search_analyze_spark.operators.analytics import (
        attribution_linear,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 0.0),
        (2, "2024-01-02 00:00:00", 1, "view", 0.0),
        (3, "2024-01-03 00:00:00", 1, "purchase", 10.0),
        (4, "2024-01-05 00:00:00", 2, "purchase", 7.0),
        (5, "2024-01-06 00:00:00", 2, "click", 0.0),
        (6, "2024-01-07 00:00:00", 3, "purchase", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    out = attribution_linear(df, ["click", "view"], "purchase").collect()
    got = {r.channel: r for r in out}
    assert set(got) == {"click", "view"}
    for ch in ("click", "view"):
        assert got[ch].touches == 1
        assert got[ch].credited_conversions == 0.5
        assert got[ch].credited_value == 5.0


def test_attribution_linear_lookback_excludes_old_touches(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        attribution_linear,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 0.0),
        (2, "2024-01-20 00:00:00", 1, "purchase", 8.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    assert attribution_linear(df, ["click"], "purchase").count() == 0
    wide = attribution_linear(
        df, ["click"], "purchase", lookback_s=30 * 86400
    ).collect()
    assert wide[0].credited_conversions == 1.0


# -- bot_score ---------------------------------------------------------------


def test_bot_score_flags_metronome(spark):
    """30 same-type events 1 s apart: rate = 30/(29/60+1) > 1, cv = 0,
    type_ratio = 1/30 > 0.02 -> score 2. The irregular 5-type user
    scores 0 and sorts after."""
    from harmonize_search_analyze_spark.operators.analytics import (
        bot_score,
    )

    import datetime as dt

    rows = []
    for i in range(30):
        rows.append((i, f"2024-01-01 00:00:{i:02d}", 1, "view", 0.0))
    offsets = [0, 3600, 7200, 11000, 15000, 16000, 30000, 31000, 50000,
               50500, 70000, 71000, 90000, 95000, 99000, 120000, 121000,
               150000, 151000, 180000]
    types = ["view", "click", "purchase", "signup", "error"]
    base = dt.datetime(2024, 2, 1)
    for j, off in enumerate(offsets):
        ts = (base + dt.timedelta(seconds=off)).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        rows.append((100 + j, ts, 2, types[j % 5], 0.0))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    out = bot_score(df, min_events=20).collect()
    byu = {r.user_id: r for r in out}
    assert byu[1].score == 2
    assert byu[1].gap_cv == 0.0
    assert byu[1].n_types == 1
    assert out[0].user_id == 1  # sorts first on score


def test_bot_score_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        bot_score,
        bot_score_sql,
    )

    rows = [
        (i, f"2024-01-01 {i // 3600:02d}:{(i // 60) % 60:02d}:{i % 60:02d}",
         i % 4, ["view", "click"][i % 2], float(i % 7))
        for i in range(0, 7200, 37)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    df.createOrReplaceTempView("s10_bot")
    want = [tuple(r) for r in bot_score(df, min_events=5).collect()]
    got = [
        tuple(r)
        for r in spark.sql(
            bot_score_sql("s10_bot", "spark", min_events=5)
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(
        con, "s10_bot",
        [
            f"({e},TIMESTAMP '{t}',{u},'{ty}',{v})"
            for e, t, u, ty, v in rows
        ],
        "event_id, ts, user_id, event_type, value",
    )
    duck = con.execute(
        bot_score_sql("s10_bot", "duckdb", min_events=5)
    ).fetchall()
    assert [tuple(r) for r in duck] == want


# -- fd_violations -----------------------------------------------------------


def test_fd_violations_hand_computed(spark):
    """id -> lang holds (3 groups, 0 violations); txt -> lang violated
    by t1 carrying en+fr (1 of 2 groups, 3 rows inside, fan-out 2)."""
    from harmonize_search_analyze_spark.operators.curation import (
        fd_violations,
    )

    df = spark.createDataFrame(
        [(1, "t1", "en"), (2, "t1", "fr"), (3, "t1", "en"),
         (4, "t2", "de")],
        "id long, txt string, lang string",
    )
    out = {
        r.fd: r
        for r in fd_violations(
            df, [("id", "lang"), ("txt", "lang")]
        ).collect()
    }
    hold = out["id -> lang"]
    assert (hold.n_groups, hold.violating_groups, hold.violating_rows,
            hold.max_distinct_rhs) == (4, 0, 0, 1)
    assert hold.violation_rate == 0.0
    broke = out["txt -> lang"]
    assert (broke.n_groups, broke.violating_groups, broke.violating_rows,
            broke.max_distinct_rhs) == (2, 1, 3, 2)
    assert broke.violation_rate == 0.5


def test_fd_violations_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.curation import (
        fd_violations,
        fd_violations_sql,
    )

    rows = [(i, f"t{i % 5}", f"l{(i * 2) % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, txt string, lang string")
    df.createOrReplaceTempView("s10_fd")
    fds = [("id", "lang"), ("txt", "lang")]
    want = sorted(tuple(r) for r in fd_violations(df, fds).collect())
    got = sorted(
        tuple(r)
        for r in spark.sql(fd_violations_sql("s10_fd", fds, "spark"))
        .collect()
    )
    assert want == got
    con = duckdb.connect()
    _duck(
        con, "s10_fd",
        [f"({i},'{t}','{l}')" for i, t, l in rows], "id, txt, lang",
    )
    duck = sorted(
        tuple(r)
        for r in con.execute(
            fd_violations_sql("s10_fd", fds, "duckdb")
        ).fetchall()
    )
    assert duck == want


# -- prefix_max / pareto_front ------------------------------------------------


def test_prefix_max_matches_window(spark):
    from pyspark.sql import Window, functions as F
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_max,
    )

    rows = [(float(k), float((k * 17) % 23)) for k in range(60)]
    df = spark.createDataFrame(rows, "k double, x double")
    got_inc = {
        r.k: r.m
        for r in prefix_max(
            df, ["k"], {"x": "m"}, num_partitions=5
        ).collect()
    }
    got_exc = {
        r.k: r.m
        for r in prefix_max(
            df, ["k"], {"x": "m"}, inclusive=False, num_partitions=5
        ).collect()
    }
    w = Window.orderBy("k")
    want_inc = {
        r.k: r.m
        for r in df.select(
            "k",
            F.max("x")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("m"),
        ).collect()
    }
    want_exc = {
        r.k: r.m
        for r in df.select(
            "k",
            F.max("x")
            .over(w.rowsBetween(Window.unboundedPreceding, -1))
            .alias("m"),
        ).collect()
    }
    assert got_inc == want_inc
    assert got_exc == want_exc


def test_pareto_front_hand_computed(spark):
    """Points (0,9),(1,5),(2,4),(2,6),(3,3)x2: (1,5) and (2,4) are
    dominated by (2,6); the duplicate (3,3) pair both survive."""
    from harmonize_search_analyze_spark.operators.ordering import (
        pareto_front,
    )

    rows = [
        (1, 0.0, 9.0), (2, 1.0, 5.0), (3, 2.0, 4.0),
        (4, 2.0, 6.0), (5, 3.0, 3.0), (6, 3.0, 3.0),
    ]
    df = spark.createDataFrame(rows, "id long, d1 double, d2 double")
    got = sorted(r.id for r in pareto_front(df, "d1", "d2").collect())
    assert got == [1, 4, 5, 6]


def test_pareto_front_matches_brute_force(spark):
    from harmonize_search_analyze_spark.operators.ordering import (
        pareto_front,
    )

    rows = [
        (i, float((i * 7) % 13), float((i * 11) % 17)) for i in range(80)
    ]

    def dominated(p, q):
        return (
            q[1] >= p[1] and q[2] >= p[2]
            and (q[1] > p[1] or q[2] > p[2])
        )

    want = sorted(
        p[0]
        for p in rows
        if not any(dominated(p, q) for q in rows if q[0] != p[0])
    )
    df = spark.createDataFrame(rows, "id long, d1 double, d2 double")
    got = sorted(r.id for r in pareto_front(df, "d1", "d2").collect())
    assert got == want


# -- attribution_position ------------------------------------------------------


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )


def test_attribution_position_hand_computed(spark):
    """u1 click/view/click before a 10.0 purchase -> 0.4/0.2/0.4;
    u2 click+view pair -> 0.5 each; u3 lone view -> 1.0."""
    from harmonize_search_analyze_spark.operators.analytics import (
        attribution_position,
    )

    df = _events_df(spark, [
        (1, "2024-01-01 00:00:00", 1, "click", 0.0),
        (2, "2024-01-02 00:00:00", 1, "view", 0.0),
        (3, "2024-01-03 00:00:00", 1, "click", 0.0),
        (4, "2024-01-04 00:00:00", 1, "purchase", 10.0),
        (5, "2024-01-01 00:00:00", 2, "click", 0.0),
        (6, "2024-01-02 00:00:00", 2, "view", 0.0),
        (7, "2024-01-03 00:00:00", 2, "purchase", 4.0),
        (8, "2024-01-01 00:00:00", 3, "view", 0.0),
        (9, "2024-01-02 00:00:00", 3, "purchase", 6.0),
    ])
    out = attribution_position(df, ["click", "view"], "purchase").collect()
    got = {r.channel: r for r in out}
    assert got["click"].touches == 3
    assert got["click"].credited_conversions == pytest.approx(1.3)
    assert got["click"].credited_value == pytest.approx(10.0)
    assert got["view"].touches == 3
    assert got["view"].credited_conversions == pytest.approx(1.7)
    assert got["view"].credited_value == pytest.approx(10.0)
    assert out[0].channel == "view"  # 1.7 sorts before 1.3


def test_attribution_position_rejects_overweight(spark):
    """ADVICE r7: first_w + last_w > 1 would silently produce
    negative middle-touch credits — must raise instead."""
    from harmonize_search_analyze_spark.operators.analytics import (
        attribution_position,
        attribution_position_sql,
    )

    df = _events_df(spark, [
        (1, "2024-01-01 00:00:00", 1, "click", 0.0),
    ])
    for fw, lw in [(0.6, 0.6), (-0.1, 0.4), (0.4, -0.1)]:
        with pytest.raises(ValueError, match="first_w"):
            attribution_position(
                df, ["click"], "purchase", first_w=fw, last_w=lw
            )
        with pytest.raises(ValueError, match="first_w"):
            attribution_position_sql(
                "t", ["click"], "purchase", "spark",
                first_w=fw, last_w=lw,
            )
    # boundary first_w + last_w == 1 stays legal (middles get 0)
    attribution_position(
        df, ["click"], "purchase", first_w=0.5, last_w=0.5
    )


def test_attribution_position_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        attribution_position,
        attribution_position_sql,
    )

    rows = [
        (i, f"2024-01-{1 + i % 25:02d} 00:00:{i % 60:02d}", i % 9,
         ["click", "view", "purchase"][i % 3], float(i % 13))
        for i in range(200)
    ]
    df = _events_df(spark, rows)
    df.createOrReplaceTempView("s10_ap")
    want = [
        tuple(r)
        for r in attribution_position(
            df, ["click", "view"], "purchase"
        ).collect()
    ]
    got = [
        tuple(r)
        for r in spark.sql(
            attribution_position_sql(
                "s10_ap", ["click", "view"], "purchase", "spark"
            )
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(
        con, "s10_ap",
        [
            f"({e},TIMESTAMP '2024-01-{1 + e % 25:02d} 00:00:{e % 60:02d}',"
            f"{u},'{ty}',{v})"
            for e, _t, u, ty, v in rows
        ],
        "event_id, ts, user_id, event_type, value",
    )
    duck = con.execute(
        attribution_position_sql(
            "s10_ap", ["click", "view"], "purchase", "duckdb"
        )
    ).fetchall()
    assert [tuple(r) for r in duck] == want


# -- join_skew_probe -----------------------------------------------------------


def test_join_skew_probe_hand_computed(spark):
    """left a,a,a,b x right a,b,b,c -> a: 3 pairs (0.6), b: 2 (0.4)."""
    from harmonize_search_analyze_spark.operators.analytics import (
        join_skew_probe,
    )

    left = spark.createDataFrame([("a",)] * 3 + [("b",)], "k string")
    right = spark.createDataFrame(
        [("a",), ("b",), ("b",), ("c",)], "k string"
    )
    out = join_skew_probe(left, "k", right, "k").collect()
    assert [(r.key, r.n_left, r.n_right, r.pairs, r.pair_share,
             r.total_pairs) for r in out] == [
        ("a", 3, 1, 3, 0.6, 5),
        ("b", 1, 2, 2, 0.4, 5),
    ]


def test_join_skew_probe_counts_nulls_as_key(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        join_skew_probe,
    )

    left = spark.createDataFrame([(None,), ("a",)], "k string")
    right = spark.createDataFrame([(None,), (None,)], "k string")
    out = join_skew_probe(left, "k", right, "k").collect()
    assert [(r.key, r.pairs) for r in out] == [("<null>", 2)]


def test_join_skew_probe_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        join_skew_probe,
        join_skew_probe_sql,
    )

    lrows = [(f"k{i % 7}",) for i in range(100)]
    rrows = [(f"k{(i * 3) % 9}",) for i in range(60)]
    ldf = spark.createDataFrame(lrows, "k string")
    rdf = spark.createDataFrame(rrows, "k string")
    ldf.createOrReplaceTempView("s10_jl")
    rdf.createOrReplaceTempView("s10_jr")
    want = [
        tuple(r) for r in join_skew_probe(ldf, "k", rdf, "k").collect()
    ]
    got = [
        tuple(r)
        for r in spark.sql(
            join_skew_probe_sql("s10_jl", "k", "s10_jr", "k", "spark")
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(con, "s10_jl", [f"('{k}')" for (k,) in lrows], "k")
    _duck(con, "s10_jr", [f"('{k}')" for (k,) in rrows], "k")
    duck = con.execute(
        join_skew_probe_sql("s10_jl", "k", "s10_jr", "k", "duckdb")
    ).fetchall()
    assert [tuple(r) for r in duck] == want


# -- rbo_overlap ---------------------------------------------------------------


def test_rbo_overlap_hand_computed(spark):
    """A=[1,2,3], B=[1,3,4] at k=3, p=0.9: overlaps 1,1,2 ->
    RBO_ext = (2/3)*0.729 + (0.1/0.9)*(0.9 + 0.405 + 0.486) = 0.685."""
    from harmonize_search_analyze_spark.operators.ranking import (
        rbo_overlap,
    )

    df = spark.createDataFrame(
        [(1, 30.0, 30.0), (2, 20.0, 1.0), (3, 10.0, 20.0),
         (4, 1.0, 10.0)],
        "id long, sa double, sb double",
    )
    r = rbo_overlap(df, "id", "sa", "sb", k=3, p=0.9).collect()[0]
    assert (r.k, r.p, r.n_common) == (3, 0.9, 2)
    assert r.agreement_at_k == pytest.approx(2 / 3, abs=1e-6)
    assert r.rbo_ext == pytest.approx(0.685, abs=1e-6)


def test_rbo_overlap_identical_and_disjoint(spark):
    from harmonize_search_analyze_spark.operators.ranking import (
        rbo_overlap,
    )

    df = spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(1, 20)],
        "id long, sa double, sb double",
    )
    assert rbo_overlap(df, "id", "sa", "sb", k=10).collect()[0].rbo_ext \
        == 1.0
    dj = spark.createDataFrame(
        [(i, float(100 - i), float(i)) for i in range(1, 41)],
        "id long, sa double, sb double",
    )
    # reversed rankings at k=20 of 40 docs: top-20 sets are disjoint
    r = rbo_overlap(dj, "id", "sa", "sb", k=20).collect()[0]
    assert r.n_common == 0
    assert r.rbo_ext == 0.0


def test_rbo_overlap_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.ranking import (
        rbo_overlap,
        rbo_overlap_sql,
    )

    rows = [(i, float((i * 7) % 53), float((i * 11) % 47))
            for i in range(120)]
    df = spark.createDataFrame(rows, "id long, sa double, sb double")
    df.createOrReplaceTempView("s10_rbo")
    want = tuple(
        rbo_overlap(df, "id", "sa", "sb", k=25).collect()[0]
    )
    got = tuple(
        spark.sql(
            rbo_overlap_sql("s10_rbo", "id", "sa", "sb", "spark", k=25)
        ).collect()[0]
    )
    assert want == got
    con = duckdb.connect()
    _duck(
        con, "s10_rbo",
        [f"({i},{a},{b})" for i, a, b in rows], "id, sa, sb",
    )
    duck = con.execute(
        rbo_overlap_sql("s10_rbo", "id", "sa", "sb", "duckdb", k=25)
    ).fetchall()[0]
    assert duck == want


# -- log_odds_terms ------------------------------------------------------------


def test_log_odds_terms_hand_computed(spark):
    """Target docs say 'cat', background says 'dog', both say 'the':
    y(cat)=(3,0), y(dog)=(0,3), y(the)=(3,3); n_t=n_b=6, alpha0=12 ->
    a_cat=a_dog=3, a_the=6. delta(cat) = ln(6/12) - ln(3/15)
    = ln(2.5) = 0.916291; z = delta / sqrt(1/6 + 1/3) = 1.297771."""
    import math
    from harmonize_search_analyze_spark.operators.text import (
        log_odds_terms,
    )

    rows = [("t", "cat the"), ("t", "cat the"), ("t", "cat the"),
            ("b", "dog the"), ("b", "dog the"), ("b", "dog the")]
    df = spark.createDataFrame(rows, "grp string, text string")
    out = log_odds_terms(
        df, "text", "grp = 't'", alpha0=12.0, min_count=1
    ).collect()
    byt = {r.term: r for r in out}
    assert (byt["cat"].y_target, byt["cat"].y_background) == (3, 0)
    d = math.log(6.0 / 12.0) - math.log(3.0 / 15.0)
    z = d / math.sqrt(1.0 / 6.0 + 1.0 / 3.0)
    assert byt["cat"].delta == pytest.approx(d, abs=1e-6)
    assert byt["cat"].z == pytest.approx(z, abs=1e-6)
    # symmetric: dog mirrors cat with the opposite sign
    assert byt["dog"].z == pytest.approx(-z, abs=1e-6)
    # shared term: identical counts on both sides -> delta exactly 0
    assert byt["the"].delta == 0.0
    # ranking: cat first (most target-associated), dog last
    assert out[0].term == "cat" and out[-1].term == "dog"


def test_log_odds_terms_prior_shrinks_rare_terms(spark):
    """A term seen ONCE in the target should rank below a term seen
    many times at the same ratio — the whole point of the prior."""
    from harmonize_search_analyze_spark.operators.text import (
        log_odds_terms,
    )

    rows = (
        [("t", "common rare")] + [("t", "common")] * 19
        + [("b", "other")] * 20
    )
    df = spark.createDataFrame(rows, "grp string, text string")
    out = log_odds_terms(
        df, "text", "grp = 't'", alpha0=10.0, min_count=1
    ).collect()
    byt = {r.term: r for r in out}
    assert byt["common"].z > byt["rare"].z > 0


def test_log_odds_terms_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.text import (
        log_odds_terms,
        log_odds_terms_sql,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (f"g{i % 2}", " ".join(words[j] for j in range((i % 5) + 1)))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "grp string, text string")
    df.createOrReplaceTempView("s10_lo")
    want = [
        tuple(r)
        for r in log_odds_terms(
            df, "text", "grp = 'g0'", min_count=1
        ).collect()
    ]
    got = [
        tuple(r)
        for r in spark.sql(
            log_odds_terms_sql(
                "s10_lo", "text", "grp = 'g0'", "spark", min_count=1
            )
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(
        con, "s10_lo",
        [f"('{g}','{t}')" for g, t in rows], "grp, text",
    )
    duck = con.execute(
        log_odds_terms_sql(
            "s10_lo", "text", "grp = 'g0'", "duckdb", min_count=1
        )
    ).fetchall()
    assert [tuple(r) for r in duck] == want


# -- label_outliers ------------------------------------------------------------


def test_label_outliers_hand_computed(spark):
    """Label A at x = 0, 2, 10 -> centroid 4, dists 4/2/6, mean 4,
    sd_samp 2 -> z = 0/-1/+1; the lone label-B point pins NULL z."""
    from harmonize_search_analyze_spark.operators.similarity import (
        label_outliers,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0], 0), (2, [2.0, 0.0], 0), (3, [10.0, 0.0], 0),
         (4, [5.0, 5.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    out = label_outliers(df, top=10).collect()
    byid = {r.id: r for r in out}
    assert byid[3].z == 1.0 and byid[3].dist == 6.0
    assert byid[2].z == -1.0
    assert byid[1].z == 0.0
    assert byid[4].z is None
    assert out[0].id == 3  # the far point ranks first


def test_label_outliers_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        label_outliers,
        label_outliers_sql,
    )

    rows = [
        (i, [float((i * 3 + j) % 7) for j in range(4)], i % 3)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    df.createOrReplaceTempView("s10_lout")
    want = [tuple(r) for r in label_outliers(df, top=15).collect()]
    got = [
        tuple(r)
        for r in spark.sql(
            label_outliers_sql("s10_lout", "spark", top=15)
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(
        con, "s10_lout",
        [
            "({},{},{})".format(i, "[" + ",".join(str(x) for x in v) + "]", l)
            for i, v, l in rows
        ],
        "vec_id, embedding, label",
    )
    duck = con.execute(
        label_outliers_sql("s10_lout", "duckdb", top=15)
    ).fetchall()
    assert [tuple(r) for r in duck] == want


# -- hits_scores ---------------------------------------------------------------


def test_hits_scores_hand_computed(spark):
    """u1->{x,y}, u2->{x}: after 3 iterations hub(u1) = 13/sqrt(233),
    hub(u2) = 8/sqrt(233), auth(x) = 21/sqrt(610),
    auth(y) = 13/sqrt(610)."""
    import math
    from harmonize_search_analyze_spark.operators.graph import (
        hits_scores,
    )

    edges = spark.createDataFrame(
        [("u1", "x", 1.0), ("u1", "y", 1.0), ("u2", "x", 1.0)],
        "src string, dst string, w double",
    )
    out = hits_scores(edges, weight_col="w").collect()
    byn = {r.node: r for r in out}
    assert byn["u1"].hub == pytest.approx(13 / math.sqrt(233), abs=1e-6)
    assert byn["u2"].hub == pytest.approx(8 / math.sqrt(233), abs=1e-6)
    assert byn["x"].authority == pytest.approx(
        21 / math.sqrt(610), abs=1e-6
    )
    assert byn["y"].authority == pytest.approx(
        13 / math.sqrt(610), abs=1e-6
    )
    assert byn["u1"].authority == 0.0 and byn["x"].hub == 0.0
    assert [r.node for r in out[:2]] == ["x", "y"]  # authority order


def test_hits_scores_rejects_zero_iters(spark):
    """ADVICE r7: iters=0 used to crash with AttributeError (h stays
    None); now a ValueError at entry, matching the other guards."""
    from harmonize_search_analyze_spark.operators.graph import (
        hits_scores,
        hits_scores_sql,
    )

    edges = spark.createDataFrame(
        [("a", "b", 1.0)], "src string, dst string, w double"
    )
    with pytest.raises(ValueError, match="iters"):
        hits_scores(edges, iters=0, weight_col="w")
    with pytest.raises(ValueError, match="iters"):
        hits_scores_sql("SELECT 1", "spark", iters=0)


@pytest.mark.slow  # >10s sweep: slow tier (driver pytest budget, r11)
def test_hits_scores_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.graph import (
        hits_scores,
        hits_scores_sql,
    )

    rows = [
        (f"u{i % 7}", f"t{(i * 3) % 5}", float(1 + i % 4))
        for i in range(60)
    ]
    edges = spark.createDataFrame(rows, "src string, dst string, w double")
    edges.createOrReplaceTempView("s10_hits")
    want = [
        tuple(r)
        for r in hits_scores(edges, weight_col="w", top=15).collect()
    ]
    got = [
        tuple(r)
        for r in spark.sql(
            hits_scores_sql("SELECT * FROM s10_hits", "spark", top=15)
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(
        con, "s10_hits",
        [f"('{s}','{d}',{w})" for s, d, w in rows], "src, dst, w",
    )
    duck = con.execute(
        hits_scores_sql("SELECT * FROM s10_hits", "duckdb", top=15)
    ).fetchall()
    assert [tuple(r) for r in duck] == want


# -- pmi_collocations ----------------------------------------------------------


def test_pmi_collocations_hand_computed(spark):
    """Docs 'a b', 'a b', 'a c': N=6, B=3; PMI(a,b) = ln((2/3) /
    ((3/6)(2/6))) = ln 4; PMI(a,c) = ln((1/3)/((1/2)(1/6))) = ln 4."""
    import math
    from harmonize_search_analyze_spark.operators.text import (
        pmi_collocations,
    )

    df = spark.createDataFrame(
        [("a b",), ("a b",), ("a c",)], "text string"
    )
    out = pmi_collocations(df, "text", min_count=1).collect()
    byp = {(r.w1, r.w2): r for r in out}
    assert byp[("a", "b")].c12 == 2
    assert byp[("a", "b")].pmi == pytest.approx(math.log(4), abs=1e-6)
    assert byp[("a", "c")].pmi == pytest.approx(math.log(4), abs=1e-6)
    assert (byp[("a", "b")].c1, byp[("a", "b")].c2) == (3, 2)
    # PMI tie broken by (w1, w2)
    assert [(r.w1, r.w2) for r in out] == [("a", "b"), ("a", "c")]


def test_pmi_collocations_min_count_floors(spark):
    from harmonize_search_analyze_spark.operators.text import (
        pmi_collocations,
    )

    df = spark.createDataFrame(
        [("x y",)] * 6 + [("p q",)], "text string"
    )
    out = pmi_collocations(df, "text", min_count=5).collect()
    assert [(r.w1, r.w2) for r in out] == [("x", "y")]


def test_pmi_collocations_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.text import (
        pmi_collocations,
        pmi_collocations_sql,
    )

    words = ["red", "blue", "green", "gold"]
    rows = [
        (" ".join(words[(i + j) % 4] for j in range((i % 4) + 2)),)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "text string")
    df.createOrReplaceTempView("s10_pmi")
    want = [
        tuple(r)
        for r in pmi_collocations(df, "text", min_count=2).collect()
    ]
    got = [
        tuple(r)
        for r in spark.sql(
            pmi_collocations_sql("s10_pmi", "text", "spark", min_count=2)
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(con, "s10_pmi", [f"('{t}')" for (t,) in rows], "text")
    duck = con.execute(
        pmi_collocations_sql("s10_pmi", "text", "duckdb", min_count=2)
    ).fetchall()
    assert [tuple(r) for r in duck] == want


# -- doc_keywords --------------------------------------------------------------


def test_doc_keywords_hand_computed(spark):
    """d1='cat cat dog', d2='dog mouse': idf(cat)=ln(3/2)+1, idf(dog)=1;
    d1 keywords [cat, dog], d2 [mouse, dog]."""
    import math
    from harmonize_search_analyze_spark.operators.text import (
        doc_keywords,
    )

    df = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "dog mouse")],
        "doc_id long, text string",
    )
    out = doc_keywords(df, "doc_id", "text").collect()
    assert [(r.doc, r.rk, r.term) for r in out] == [
        (1, 1, "cat"), (1, 2, "dog"), (2, 1, "mouse"), (2, 2, "dog"),
    ]
    byk = {(r.doc, r.term): r for r in out}
    assert byk[(1, "cat")].score == pytest.approx(
        2 * (math.log(3 / 2) + 1), abs=1e-6
    )
    assert byk[(1, "dog")].score == 1.0
    assert byk[(1, "cat")].df == 1 and byk[(1, "dog")].df == 2


def test_doc_keywords_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.text import (
        doc_keywords,
        doc_keywords_sql,
    )

    words = ["ant", "bee", "cow", "doe", "elk"]
    rows = [
        (i, " ".join(words[(i * 3 + j) % 5] for j in range((i % 4) + 1)))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("s10_kw")
    want = [
        tuple(r)
        for r in doc_keywords(df, "doc_id", "text", top_docs=10).collect()
    ]
    got = [
        tuple(r)
        for r in spark.sql(
            doc_keywords_sql("s10_kw", "doc_id", "text", "spark",
                             top_docs=10)
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(
        con, "s10_kw",
        [f"({i},'{t}')" for i, t in rows], "doc_id, text",
    )
    duck = con.execute(
        doc_keywords_sql("s10_kw", "doc_id", "text", "duckdb",
                         top_docs=10)
    ).fetchall()
    assert [tuple(r) for r in duck] == want


# -- llr_collocations ----------------------------------------------------------


def test_llr_collocations_hand_computed(spark):
    """Bigrams 'x y' x5, 'x z' x1, 'w z' x4: for (x,y) the 2x2 is
    k=[[5,1],[0,4]], N=10 -> LLR = 2*(5 ln(50/30) + ln(10/30)
    + 4 ln(40/20)) = 8.456209. A fully-determined margin (all 'a'
    starts) yields LLR exactly 0."""
    import math
    from harmonize_search_analyze_spark.operators.text import (
        llr_collocations,
    )

    df = spark.createDataFrame(
        [("x y",)] * 5 + [("x z",)] + [("w z",)] * 4, "text string"
    )
    out = llr_collocations(df, "text", min_count=1).collect()
    byp = {(r.w1, r.w2): r for r in out}
    want = 2 * (
        5 * math.log(50 / 30) + math.log(10 / 30) + 4 * math.log(2)
    )
    assert byp[("x", "y")].llr == pytest.approx(want, abs=1e-6)
    assert (byp[("x", "y")].c12, byp[("x", "y")].r1,
            byp[("x", "y")].c2) == (5, 6, 5)

    zero = spark.createDataFrame(
        [("a b",)] * 2 + [("a c",)], "text string"
    )
    z = llr_collocations(zero, "text", min_count=1).collect()
    assert all(r.llr == 0.0 for r in z)


def test_llr_collocations_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.text import (
        llr_collocations,
        llr_collocations_sql,
    )

    words = ["red", "blue", "green", "gold", "iron"]
    rows = [
        (" ".join(words[(i * 2 + j) % 5] for j in range((i % 3) + 2)),)
        for i in range(70)
    ]
    df = spark.createDataFrame(rows, "text string")
    df.createOrReplaceTempView("s10_llr")
    want = [
        tuple(r)
        for r in llr_collocations(df, "text", min_count=2).collect()
    ]
    got = [
        tuple(r)
        for r in spark.sql(
            llr_collocations_sql("s10_llr", "text", "spark", min_count=2)
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(con, "s10_llr", [f"('{t}')" for (t,) in rows], "text")
    duck = con.execute(
        llr_collocations_sql("s10_llr", "text", "duckdb", min_count=2)
    ).fetchall()
    assert [tuple(r) for r in duck] == want


def test_llr_window_margins_match_join_form(spark):
    """Window-sum margins over repeated documents against the DuckDB
    twin, which keeps the margin-join form."""
    from harmonize_search_analyze_spark.operators.text import (
        llr_collocations,
        llr_collocations_sql,
    )

    rows = [("the cat sat on the mat the cat ran",),
            ("the dog sat on the cat mat dog dog",),
            ("cat mat cat mat cat mat on the mat",)] * 3
    docs = spark.createDataFrame(rows, "text STRING")
    win = [tuple(r) for r in
           llr_collocations(docs, "text", min_count=2, top=10).collect()]
    con = duckdb.connect()
    _duck(con, "s10_llr_rep", [f"('{t}')" for (t,) in rows], "text")
    join = [tuple(r) for r in con.execute(
        llr_collocations_sql("s10_llr_rep", "text", "duckdb",
                             min_count=2, top=10)
    ).fetchall()]
    assert win == join and len(win) > 0


# -- centroid_similarity --------------------------------------------------------


def test_centroid_similarity_hand_computed(spark):
    """Label 0 centroid (1,0) (from (2,0),(0,0)); label 1 centroid
    (0,2); label 2 centroid (3,0). cos(0,2)=1, l2=2; cos(0,1)=0,
    l2=sqrt(5)."""
    from harmonize_search_analyze_spark.operators.similarity import (
        centroid_similarity,
    )

    df = spark.createDataFrame(
        [(1, [2.0, 0.0], 0), (2, [0.0, 0.0], 0),
         (3, [0.0, 2.0], 1), (4, [3.0, 0.0], 2)],
        "vec_id long, embedding array<double>, label int",
    )
    out = centroid_similarity(df).collect()
    byp = {(r.label_a, r.label_b): r for r in out}
    assert byp[(0, 2)].cosine == 1.0 and byp[(0, 2)].l2 == 2.0
    assert byp[(0, 1)].cosine == 0.0
    assert byp[(0, 1)].l2 == pytest.approx(5 ** 0.5, abs=1e-6)
    assert byp[(1, 2)].cosine == 0.0
    assert out[0].label_a == 0 and out[0].label_b == 2  # cos DESC first


def test_centroid_similarity_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        centroid_similarity,
        centroid_similarity_sql,
    )

    rows = [
        (i, [float((i * 5 + j) % 9) for j in range(3)], i % 4)
        for i in range(32)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    df.createOrReplaceTempView("s10_cs")
    want = [tuple(r) for r in centroid_similarity(df).collect()]
    got = [
        tuple(r)
        for r in spark.sql(
            centroid_similarity_sql("s10_cs", "spark")
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(
        con, "s10_cs",
        [
            "({},{},{})".format(i, "[" + ",".join(map(str, v)) + "]", l)
            for i, v, l in rows
        ],
        "vec_id, embedding, label",
    )
    duck = con.execute(
        centroid_similarity_sql("s10_cs", "duckdb")
    ).fetchall()
    assert [tuple(r) for r in duck] == want


# -- prefix_max robustness -------------------------------------------------------


def test_prefix_max_string_keys_sampled_boundaries(spark):
    """String sort keys take the seeded-sample boundary path; the
    running max must still match the single-window answer exactly."""
    from pyspark.sql import Window, functions as F
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_max,
    )

    rows = [(f"k{i:03d}", float((i * 13) % 31)) for i in range(90)]
    df = spark.createDataFrame(rows, "k string, x double")
    got = {
        r.k: r.m
        for r in prefix_max(
            df, ["k"], {"x": "m"}, num_partitions=7
        ).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.k: r.m
        for r in df.select("k", F.max("x").over(w).alias("m")).collect()
    }
    assert got == want


def test_prefix_max_descending_order(spark):
    from pyspark.sql import Window, functions as F
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_max,
    )

    rows = [(float(i), float((i * 7) % 19)) for i in range(50)]
    df = spark.createDataFrame(rows, "k double, x double")
    got = {
        r.k: r.m
        for r in prefix_max(
            df, [("k", False)], {"x": "m"}, inclusive=False,
            num_partitions=4,
        ).collect()
    }
    w = Window.orderBy(F.desc("k")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    want = {
        r.k: r.m
        for r in df.select("k", F.max("x").over(w).alias("m")).collect()
    }
    assert got == want


def test_prefix_max_single_row_and_empty(spark):
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_max,
    )

    one = spark.createDataFrame([(1.0, 5.0)], "k double, x double")
    r = prefix_max(one, ["k"], {"x": "m"}, inclusive=False).collect()
    assert r[0].m is None  # no predecessor
    empty = spark.createDataFrame([], "k double, x double")
    assert prefix_max(empty, ["k"], {"x": "m"}).count() == 0


# -- Misra-Gries streaming heavy hitters -----------------------------------------


def test_mg_summary_exact_when_few_keys(spark):
    from harmonize_search_analyze_spark.streaming.windows import (
        mg_summary,
    )

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3, "k string"
    )
    rows = {r.key: (r.c, r.n_batch) for r in mg_summary(df, "k", 8).collect()}
    # counters exact, plus the NULL-key sentinel carrying the total
    assert rows == {"a": (5, 8), "b": (3, 8), None: (0, 8)}


def test_mg_summary_trims_to_m(spark):
    """Counts a=6 b=4 c=3 d=1 at m=2: offset = 3rd largest = 3 ->
    a=3, b=1 survive (<= m rows, undercount exactly 3)."""
    from harmonize_search_analyze_spark.streaming.windows import (
        mg_summary,
    )

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 4 + [("c",)] * 3 + [("d",)],
        "k string",
    )
    rows = {r.key: r.c for r in mg_summary(df, "k", 2).collect()}
    assert rows == {"a": 3, "b": 1, None: 0}


def test_mg_process_batch_guarantee_and_replay(spark, tmp_path):
    """Across 3 epochs of a skewed stream: every counter undercounts
    (c <= true <= c + err); the true top key is present; replaying an
    epoch changes NOTHING (state and output are epoch overwrites)."""
    import collections
    from harmonize_search_analyze_spark.streaming.windows import (
        mg_process_batch,
    )

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    batches, truth = [], collections.Counter()
    for e in range(3):
        keys = (
            ["hot"] * 40 + [f"warm{e}"] * 10
            + [f"cold{i}" for i in range(30)]
        )
        truth.update(keys)
        batches.append(
            spark.createDataFrame([(k,) for k in keys], "k string")
        )
    for e, b in enumerate(batches):
        mg_process_batch(b, e, state, out, key_col="k", m=8, top=5)

    final = {
        r.key: (r.count_min, r.err_bound)
        for r in spark.read.parquet(f"{out}/epoch=2").collect()
    }
    assert "hot" in final  # true count 120 >> any err bound
    for key, (c, err) in final.items():
        assert c <= truth[key] <= c + err

    before_state = sorted(
        (tuple(r) for r in spark.read.parquet(state).collect()),
        key=repr,  # sentinel rows have key=None -> not '<'-sortable
    )
    before_out = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/epoch=1").collect()
    )
    mg_process_batch(batches[1], 1, state, out, key_col="k", m=8, top=5)
    after_state = sorted(
        (tuple(r) for r in spark.read.parquet(state).collect()),
        key=repr,
    )
    after_out = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/epoch=1").collect()
    )
    assert before_state == after_state
    assert before_out == after_out


def test_mg_process_batch_exact_when_under_m(spark, tmp_path):
    from harmonize_search_analyze_spark.streaming.windows import (
        mg_process_batch,
    )

    state = str(tmp_path / "s")
    out = str(tmp_path / "o")
    b1 = spark.createDataFrame([("x",)] * 3 + [("y",)] * 2, "k string")
    b2 = spark.createDataFrame([("x",)] * 4 + [("z",)], "k string")
    mg_process_batch(b1, 0, state, out, key_col="k", m=16, top=5)
    mg_process_batch(b2, 1, state, out, key_col="k", m=16, top=5)
    rows = {
        r.key: (r.count_min, r.err_bound)
        for r in spark.read.parquet(f"{out}/epoch=1").collect()
    }
    assert rows == {"x": (7, 0), "y": (2, 0), "z": (1, 0)}


def test_mg_process_batch_err_bound_survives_empty_trim(spark, tmp_path):
    """Regression (ADVICE r7): a batch of > m ALL-UNIQUE keys trims
    its MG summary to zero counters; before the sentinel fix that
    epoch's n_batch vanished from the merge and err_bound came out 0
    while the true undercount was the whole batch — breaking the
    documented c <= true <= c + err guarantee."""
    import collections
    from harmonize_search_analyze_spark.streaming.windows import (
        mg_process_batch,
    )

    state = str(tmp_path / "s")
    out = str(tmp_path / "o")
    truth = collections.Counter()
    # epoch 0: 3 unique keys at m=2 -> offset 1 -> summary trims empty
    k0 = ["u1", "u2", "u3"]
    # epoch 1: a clear heavy hitter
    k1 = ["hot"] * 5 + ["w"]
    truth.update(k0)
    truth.update(k1)
    b0 = spark.createDataFrame([(k,) for k in k0], "k string")
    b1 = spark.createDataFrame([(k,) for k in k1], "k string")
    mg_process_batch(b0, 0, state, out, key_col="k", m=2, top=5)
    mg_process_batch(b1, 1, state, out, key_col="k", m=2, top=5)
    rows = {
        r.key: (r.count_min, r.err_bound)
        for r in spark.read.parquet(f"{out}/epoch=1").collect()
    }
    # N_seen must include epoch 0's 3 rows: err = 9 - sum(counters)
    for key, (c, err) in rows.items():
        assert c <= truth[key] <= c + err, (key, c, err, truth[key])
    n_counters = sum(c for c, _ in rows.values())
    err = next(iter(rows.values()))[1]
    assert n_counters + err == 9  # global total, not just epoch 1's


# -- logrank_test ---------------------------------------------------------------


def _lr_events(spark):
    rows = [
        # u1: A (purchase), duration 0, churned (gap 18d)
        (1, "2024-01-01 00:00:00", 1, "purchase", 0.0),
        # u2: A, duration 2, CENSORED (last = observation end)
        (2, "2024-01-17 00:00:00", 2, "purchase", 0.0),
        (3, "2024-01-19 00:00:00", 2, "view", 0.0),
        # u3: B, duration 0, churned
        (4, "2024-01-02 00:00:00", 3, "view", 0.0),
        # u4: B, duration 2, churned
        (5, "2024-01-05 00:00:00", 4, "view", 0.0),
        (6, "2024-01-07 00:00:00", 4, "click", 0.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )


def test_logrank_hand_computed(spark):
    """t=0: d=2 n=4 n1=2 -> E1=1, V=1/3; t=2: d=1 n=2 n1=1 -> E1=0.5,
    V=1/4. O1=1, E1=1.5, V=7/12 -> chi2=0.428571."""
    import math
    from pyspark.sql import functions as F
    from harmonize_search_analyze_spark.operators.analytics import (
        logrank_test,
    )

    r = logrank_test(
        _lr_events(spark), F.col("event_type") == "purchase"
    ).collect()[0]
    assert (r.n_a, r.n_b, r.churned_a, r.churned_b) == (2, 2, 1, 2)
    assert r.observed_a == 1
    assert r.expected_a == pytest.approx(1.5, abs=1e-6)
    assert r.chi2 == pytest.approx(3 / 7, abs=1e-6)
    z = math.sqrt(3 / 7)
    p = 1.0 - math.erf(z / math.sqrt(2.0))
    assert r.p_value == pytest.approx(p, abs=1e-4)


def test_logrank_identical_cohorts_zero_chi2(spark):
    """Split by user parity with mirrored lifetimes: O1 == E1 exactly
    -> chi2 = 0."""
    from pyspark.sql import functions as F
    from harmonize_search_analyze_spark.operators.analytics import (
        logrank_test,
    )

    rows = []
    eid = 0
    for u in range(8):
        last = 1 + (u // 2) * 2  # pairs (even, odd) share a lifetime
        rows.append((eid, "2024-01-01 00:00:00", u, "view", 0.0))
        eid += 1
        rows.append(
            (eid, f"2024-01-{last:02d} 00:00:00", u, "view", 0.0)
        )
        eid += 1
    # balanced censored pair pinning the observation end
    rows.append((eid, "2024-01-20 00:00:00", 98, "view", 0.0))
    rows.append((eid + 1, "2024-01-20 00:00:00", 99, "view", 0.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    r = logrank_test(df, F.col("user_id") % 2 == 0).collect()[0]
    assert r.chi2 == pytest.approx(0.0, abs=1e-9)


def test_logrank_sql_twin_both_dialects(spark):
    from pyspark.sql import functions as F
    from harmonize_search_analyze_spark.operators.analytics import (
        logrank_test,
        logrank_test_sql,
    )

    rows = [
        (i, f"2024-01-{1 + (i * 7) % 25:02d} 00:00:00", i % 17,
         ["view", "click", "purchase"][i % 3], float(i % 5))
        for i in range(150)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    df.createOrReplaceTempView("s10_lr")
    want = tuple(
        logrank_test(df, F.col("event_type") == "purchase").collect()[0]
    )
    got = tuple(
        spark.sql(
            logrank_test_sql("s10_lr", "event_type = 'purchase'", "spark")
        ).collect()[0]
    )
    assert want == got
    con = duckdb.connect()
    _duck(
        con, "s10_lr",
        [
            f"({e},TIMESTAMP '2024-01-{1 + (e * 7) % 25:02d} 00:00:00',"
            f"{u},'{ty}',{v})"
            for e, _t, u, ty, v in rows
        ],
        "event_id, ts, user_id, event_type, value",
    )
    duck = con.execute(
        logrank_test_sql("s10_lr", "event_type = 'purchase'", "duckdb")
    ).fetchall()[0]
    assert tuple(duck) == want


# -- ltv_cohorts ----------------------------------------------------------------


def test_ltv_cohorts_hand_computed(spark):
    """One Monday-anchored cohort of 2 users: week-0 revenue 10+2,
    week-1 revenue 5 -> cum 12, 17; ltv 6.0, 8.5."""
    from harmonize_search_analyze_spark.operators.analytics import (
        ltv_cohorts,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 1, "purchase", 10.0),  # Monday
        (2, "2024-01-03 10:00:00", 2, "purchase", 2.0),
        (3, "2024-01-09 10:00:00", 1, "purchase", 5.0),   # week 1
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    out = ltv_cohorts(df).collect()
    assert [(r.period_offset, r.revenue, r.cum_revenue, r.cohort_users,
             r.ltv) for r in out] == [
        (0, 12.0, 12.0, 2, 6.0),
        (1, 5.0, 17.0, 2, 8.5),
    ]


def test_ltv_cohorts_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        ltv_cohorts,
        ltv_cohorts_sql,
    )

    rows = [
        (i, f"2024-01-{1 + (i * 3) % 28:02d} 08:00:00", i % 11,
         "purchase", float(1 + i % 7))
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value",
    )
    df.createOrReplaceTempView("s10_ltv")
    want = [tuple(r) for r in ltv_cohorts(df).collect()]
    got = [
        tuple(r)
        for r in spark.sql(ltv_cohorts_sql("s10_ltv", "spark")).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(
        con, "s10_ltv",
        [
            f"({e},TIMESTAMP '2024-01-{1 + (e * 3) % 28:02d} 08:00:00',"
            f"{u},'p',{v})"
            for e, _t, u, _ty, v in rows
        ],
        "event_id, ts, user_id, event_type, value",
    )
    duck = con.execute(ltv_cohorts_sql("s10_ltv", "duckdb")).fetchall()
    w_vals = [t[1:] for t in want]  # cohort ts compared loosely below
    d_vals = [tuple(r)[1:] for r in duck]
    assert w_vals == d_vals
    assert [str(t[0])[:10] for t in want] == [
        str(r[0])[:10] for r in duck
    ]


# -- kruskal_wallis -------------------------------------------------------------


def test_kruskal_wallis_hand_computed(spark):
    """A=[1,2] B=[3,4]: ranks 1..4, R_A=3 R_B=7 -> H = 0.6*29 - 15
    = 2.4 (no ties). A=[1,1] B=[2]: midranks 1.5,1.5,3 -> H=1.5,
    tie correction 0.75 -> H_c = 2.0."""
    from harmonize_search_analyze_spark.operators.analytics import (
        kruskal_wallis,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)],
        "g string, v double",
    )
    r = kruskal_wallis(df, "v", "g").collect()[0]
    assert (r.k, r.n, r.dof) == (2, 4, 1)
    assert r.h == pytest.approx(2.4, abs=1e-6)
    assert r.h_corrected == pytest.approx(2.4, abs=1e-6)

    tied = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 2.0)], "g string, v double"
    )
    t = kruskal_wallis(tied, "v", "g").collect()[0]
    assert t.h == pytest.approx(1.5, abs=1e-6)
    assert t.h_corrected == pytest.approx(2.0, abs=1e-6)

    const = spark.createDataFrame(
        [("a", 5.0), ("b", 5.0), ("c", 5.0)], "g string, v double"
    )
    c = kruskal_wallis(const, "v", "g").collect()[0]
    assert c.h == pytest.approx(0.0, abs=1e-9)
    assert c.h_corrected is None  # zero tie-correction denominator


def test_kruskal_wallis_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.analytics import (
        kruskal_wallis,
        kruskal_wallis_sql,
    )

    rows = [(f"g{i % 4}", float((i * 13) % 23)) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, v double")
    df.createOrReplaceTempView("s10_kw2")
    want = tuple(kruskal_wallis(df, "v", "g").collect()[0])
    got = tuple(
        spark.sql(
            kruskal_wallis_sql("s10_kw2", "v", "g", "spark")
        ).collect()[0]
    )
    assert want == got
    con = duckdb.connect()
    _duck(con, "s10_kw2", [f"('{g}',{v})" for g, v in rows], "g, v")
    duck = con.execute(
        kruskal_wallis_sql("s10_kw2", "v", "g", "duckdb")
    ).fetchall()[0]
    assert tuple(duck) == want


# -- chao1_richness -------------------------------------------------------------


def test_chao1_hand_computed(spark):
    """Species counts a:1 b:1 c:2 d:3 -> S=4, F1=2, F2=1,
    chao1 = 4 + 2*1/(2*2) = 4.5, coverage = 1 - 2/7."""
    from harmonize_search_analyze_spark.operators.dedup import (
        chao1_richness,
    )

    rows = [("a",), ("b",), ("c",), ("c",), ("d",), ("d",), ("d",)]
    df = spark.createDataFrame(rows, "k string")
    r = chao1_richness(df, "k").collect()[0]
    assert (r.n, r.s_obs, r.f1, r.f2) == (7, 4, 2, 1)
    assert r.chao1 == pytest.approx(4.5, abs=1e-6)
    assert r.coverage == pytest.approx(1 - 2 / 7, abs=1e-6)


def test_chao1_no_singletons_saturated(spark):
    """Every doc duplicated: F1=0 -> chao1 == S_obs, coverage = 1."""
    from harmonize_search_analyze_spark.operators.dedup import (
        chao1_richness,
    )

    rows = [("x",), ("x",), ("y",), ("y",)]
    df = spark.createDataFrame(rows, "k string")
    r = chao1_richness(df, "k").collect()[0]
    assert r.chao1 == 2.0
    assert r.coverage == 1.0


def test_chao1_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.dedup import (
        chao1_richness,
        chao1_richness_sql,
    )

    rows = [(f"k{(i * i) % 37}",) for i in range(150)]
    df = spark.createDataFrame(rows, "k string")
    df.createOrReplaceTempView("s10_chao")
    want = tuple(chao1_richness(df, "k").collect()[0])
    got = tuple(
        spark.sql(chao1_richness_sql("s10_chao", "k", "spark"))
        .collect()[0]
    )
    assert want == got
    con = duckdb.connect()
    _duck(con, "s10_chao", [f"('{k}')" for (k,) in rows], "k")
    duck = con.execute(
        chao1_richness_sql("s10_chao", "k", "duckdb")
    ).fetchall()[0]
    assert tuple(duck) == want


# -- good_turing ----------------------------------------------------------------


def test_good_turing_hand_computed(spark):
    """Tokens a,a,a,b,b,c: F1=F2=F3=1, N=6. r=0 -> 1/6;
    r=1 -> r*=2, p=1/3; r=2 -> r*=3, p=1/2; r=3 -> NULL (no F4)."""
    from harmonize_search_analyze_spark.operators.contamination import (
        good_turing,
    )

    df = spark.createDataFrame([("a a a b b c",)], "text string")
    out = {r.r: r for r in good_turing(df, "text", max_r=4).collect()}
    assert out[0].p_gt == pytest.approx(1 / 6, abs=1e-6)
    assert out[1].r_star == pytest.approx(2.0, abs=1e-6)
    assert out[1].p_gt == pytest.approx(1 / 3, abs=1e-6)
    assert out[2].r_star == pytest.approx(3.0, abs=1e-6)
    assert out[2].p_gt == pytest.approx(0.5, abs=1e-6)
    assert out[3].r_star is None and out[3].f_r == 1
    assert out[4].r_star is None and out[4].f_r == 0


def test_good_turing_sql_twin_both_dialects(spark):
    from harmonize_search_analyze_spark.operators.contamination import (
        good_turing,
        good_turing_sql,
    )

    words = ["ant", "bee", "cow", "doe", "elk", "fox"]
    rows = [
        (" ".join(words[(i + j) % 6] for j in range((i % 5) + 1)),)
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "text string")
    df.createOrReplaceTempView("s10_gt")
    want = [
        tuple(r) for r in good_turing(df, "text", max_r=6).collect()
    ]
    got = [
        tuple(r)
        for r in spark.sql(
            good_turing_sql("s10_gt", "text", "spark", max_r=6)
        ).collect()
    ]
    assert want == got
    con = duckdb.connect()
    _duck(con, "s10_gt", [f"('{t}')" for (t,) in rows], "text")
    duck = con.execute(
        good_turing_sql("s10_gt", "text", "duckdb", max_r=6)
    ).fetchall()
    assert sorted(map(tuple, duck)) == sorted(want)


# -- intrinsic_dim --------------------------------------------------------------


def test_intrinsic_dim_recovers_arc_vs_patch(spark):
    """Seeded-random points on a 1-D circular arc vs a 2-D sphere
    patch (both in ambient 4-D): TwoNN must rank the arc's intrinsic
    dimension clearly below the patch's (exact method, no probe
    loss). Deterministic seed — TwoNN's Pareto-ratio law needs
    scattered points, not a regular grid."""
    import math
    import random

    from harmonize_search_analyze_spark.operators.similarity import (
        intrinsic_dim,
    )

    rng = random.Random(42)
    arc = spark.createDataFrame(
        [
            (i, [math.cos(t), math.sin(t), 0.0, 0.0])
            for i, t in enumerate(
                rng.uniform(0.0, 1.2) for _ in range(60)
            )
        ],
        "vec_id long, embedding array<double>",
    )
    patch_pts = []
    for i in range(60):
        a, b = rng.uniform(0.0, 1.2), rng.uniform(0.0, 1.2)
        patch_pts.append(
            (i, [
                math.cos(a) * math.cos(b),
                math.cos(a) * math.sin(b),
                math.sin(a),
                0.0,
            ])
        )
    patch = spark.createDataFrame(
        patch_pts, "vec_id long, embedding array<double>"
    )
    d_arc = intrinsic_dim(arc, method="exact").collect()[0]
    d_patch = intrinsic_dim(patch, method="exact").collect()[0]
    assert d_arc.id_mle is not None and d_patch.id_mle is not None
    assert d_arc.id_mle < d_patch.id_mle
    assert d_arc.n == 60 and d_arc.n_used > 0


def test_intrinsic_dim_all_duplicates_null(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        intrinsic_dim,
    )

    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    r = intrinsic_dim(df, method="exact").collect()[0]
    assert r.id_mle is None and r.n_used == 0


def test_intrinsic_dim_ivf_matches_duckdb_replay(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        intrinsic_dim,
        intrinsic_dim_sql,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) + 0.1 * j for j in range(4)])
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    want = tuple(intrinsic_dim(df).collect()[0])
    con = duckdb.connect()
    _duck(
        con, "embeddings",
        [
            "({},{})".format(i, "[" + ",".join(map(str, v)) + "]")
            for i, v in rows
        ],
        "vec_id, embedding",
    )
    duck = con.execute(intrinsic_dim_sql("embeddings")).fetchall()[0]
    assert tuple(duck) == want
