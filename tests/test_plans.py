"""Plan-level tests over the sf0.001 driver testdata: schema contracts,
relational invariants, and physical-plan properties (pushdown / broadcast)
for the gated query modules."""

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry
from pinterest_data_pipeline218_spark.plans import pin_domain, tpch_extra

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return entry.queries()


def test_every_query_has_oracle_or_is_declared(qs):
    # ops whose outputs are engine-specific by nature (sketch estimates) are
    # declared oracle-less: the driver runs its weaker rows-only check and
    # pytest bounds their error instead
    declared_no_oracle = {
        "ev_approx_distinct_users",
        "ev_approx_value_quantiles",
        "ev_theta_user_overlap",
    }
    oracles = entry.oracle_sql()
    missing = [name for name in qs if name not in oracles and name not in declared_no_oracle]
    assert missing == [], f"queries without oracle SQL: {missing}"


def test_entry_contract(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.columns == ["nation", "order_priority", "order_count"]


def test_pin_clean_contract_and_sentinels(spark):
    out = pin_domain.pin_clean_pipeline(spark, SF)
    assert out.columns == [
        "ind", "unique_id", "title", "description", "follower_count",
        "poster_name", "tag_list", "is_image_or_video", "image_src",
        "save_location", "category",
    ]
    rows = out.collect()
    # k/M/decimal-k suffixes expanded numerically, sentinels nulled
    assert all(r.follower_count is None or isinstance(r.follower_count, int) for r in rows)
    assert not any(
        r.title is not None and r.title.startswith("No Title Data") for r in rows
    )
    assert not any(
        (r.save_location or "").startswith("Local save in ") for r in rows
    )
    # derivation guarantees: every m%10==4 row had 'k' suffix -> multiple of 1000
    k_rows = [r for r in rows if r.ind % 10 == 4]
    assert k_rows and all(r.follower_count % 1000 == 0 for r in k_rows)
    half_k = [r for r in rows if r.ind % 10 == 5]
    assert half_k and all(r.follower_count % 500 == 0 for r in half_k)


def test_geo_user_clean_types(spark):
    from pinterest_data_pipeline218_spark.functions.cleaning import clean_geo

    # clean_geo keeps the reference's array<double> coordinates contract (P12)
    geo_contract = clean_geo(pin_domain._raw_geo(spark, SF))
    assert [f.dataType.simpleString() for f in geo_contract.schema.fields] == [
        "int", "string", "array<double>", "timestamp",
    ]
    # the gated projection re-extracts the elements (driver canonicalizer
    # can't hash arrays) — values must round-trip through the array ctor
    geo = pin_domain.geo_clean_pipeline(spark, SF)
    assert [f.dataType.simpleString() for f in geo.schema.fields] == [
        "int", "string", "double", "double", "timestamp",
    ]
    r = geo.orderBy("ind").first()
    c = geo_contract.orderBy("ind").first()
    assert [r.latitude, r.longitude] == c.coordinates
    user = pin_domain.user_clean_pipeline(spark, SF)
    assert user.columns == ["ind", "user_name", "age", "date_joined"]
    # empty-string ages became NULL via try_cast
    n_null = user.filter(F.col("age").isNull()).count()
    assert n_null == user.filter(F.col("ind") % 17 == 0).count()


def test_outer_join_keeps_zero_order_customers(spark):
    from pinterest_data_pipeline218_spark.data import load_table

    dist = tpch_extra.tpch_q13_outer_join(spark, SF).collect()
    total = sum(r.custdist for r in dist)
    assert total == load_table(spark, SF, "customer").count()


def test_semi_join_never_exceeds_probe_count(spark):
    from pinterest_data_pipeline218_spark.data import load_table

    out = tpch_extra.tpch_q4_semi_join(spark, SF)
    n = out.agg(F.sum("order_count")).collect()[0][0]
    probe = (
        load_table(spark, SF, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .count()
    )
    assert n <= probe


def test_set_overlap_partitions_are_disjoint_and_cover(spark):
    from pinterest_data_pipeline218_spark.data import load_table

    seg = {r.segment: r.n for r in tpch_extra.set_customer_overlap(spark, SF).collect()}
    high = load_table(spark, SF, "customer").filter(F.col("c_acctbal") > 9000)
    assert seg["both"] + seg["only_high"] == high.select("c_custkey").distinct().count()


def test_window_showcase_rn_dense_consistency(spark):
    rows = tpch_extra.window_showcase(spark, SF).collect()
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.nation, []).append(r)
    for nation, rs in by_nation.items():
        rns = sorted(r.rn for r in rs)
        assert rns == list(range(1, len(rs) + 1))
        for r in rs:
            assert r.dr <= r.rn
            assert 1 <= r.quartile <= 4


def test_salted_sum_matches_unsalted_on_constant_hot_key(spark):
    """The regression the value-hash salt had: a hot key carrying one
    constant (or NULL) value must still spread across salt buckets, and the
    DECIMAL result must equal the plain aggregate exactly."""
    import pyspark.sql.functions as SF_

    from pinterest_data_pipeline218_spark.functions.skew import (
        salted_count_distinct,
        salted_sum_count,
    )

    rows = [("hot", 1.0)] * 5000 + [("hot", None)] * 100 + [("cold", 2.5)] * 10
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r.k: (r.sum_value, r.n_rows)
        for r in salted_sum_count(df, ["k"], SF_.col("v").cast("decimal(18,2)")).collect()
    }
    want = {
        r.k: (r.s, r.n)
        for r in df.groupBy("k")
        .agg(
            SF_.sum(SF_.col("v").cast("decimal(18,2)")).alias("s"),
            SF_.count(SF_.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want
    nd = {r.k: r.n_distinct for r in salted_count_distinct(df, ["k"], "v").collect()}
    assert nd == {"hot": 1, "cold": 1}  # NULL doesn't count as distinct


def test_pushdown_reaches_scan(spark):
    plan = tpch_extra.tpch_q6_revenue(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_year_range_filters_push_as_date_bounds(spark, qs):
    """Year filters must be written as o_orderdate range predicates (not
    year(o_orderdate) = N, which no source can prune on): t5, q22, and
    set_customer_overlap each need the bound in PushedFilters."""
    from pinterest_data_pipeline218_spark.plans import analytics_tpch

    for fn, bound in (
        (analytics_tpch.t5_priority_counts_by_year, "GreaterThanOrEqual(o_orderdate,1996-01-01"),
        (tpch_extra.tpch_q22_anti_join, "GreaterThanOrEqual(o_orderdate,1998-01-01"),
        (tpch_extra.set_customer_overlap, "GreaterThanOrEqual(o_orderdate,1998-01-01"),
    ):
        plan = _formatted_plan(fn(spark, SF))
        pushed = plan.split("PushedFilters")[1:]
        assert any(bound in s[:400] for s in pushed), f"{fn.__name__}: {bound} not pushed"


def test_dimension_joins_broadcast(spark, qs):
    plan = qs["tpch_q5_regional_volume"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # everything fits broadcast at test scale


def test_partition_pruning(spark, tmp_path):
    """Hive-style partitioned layout: a filter on the partition column must
    prune at the scan (PartitionFilters, only matching files read)."""
    import pyspark.sql.functions as SF_

    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.sources.sinks import write_partitioned

    ev = load_table(spark, SF, "events")
    out = str(tmp_path / "ev_part")
    write_partitioned(ev, out, ["event_type"])
    back = spark.read.parquet(out).filter(SF_.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    n_types = ev.select("event_type").distinct().count()
    assert back.select("event_type").distinct().count() == 1
    assert n_types > 1
    assert back.count() == ev.filter(SF_.col("event_type") == "click").count()


def test_dynamic_partition_pruning_on_dim_filtered_join(spark, tmp_path):
    """VERDICT r8 #6: a join against the Hive-partitioned fact keyed on the
    partition column, with the selective filter on the DIM side only, must
    plan a DynamicPruningExpression subquery on the fact scan — the
    runtime partition pruning Catalyst gives for free, and the scan killer
    at 100 TB (the fact directories for non-matching keys are never
    listed, let alone read). Also asserts the pruned join returns exactly
    the rows a static pre-filtered plan returns."""
    import pyspark.sql.functions as SF_

    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.sources.sinks import write_partitioned

    ev = load_table(spark, SF, "events")
    out = str(tmp_path / "ev_part_dpp")
    write_partitioned(ev, out, ["event_type"])
    fact = spark.read.parquet(out)
    # dim: event_type -> category as an INDEPENDENT table (a derived
    # when()-column gets constant-folded into a static partition filter —
    # strictly better, but not the runtime-pruning proof). The filter
    # lives on category, so static pruning can't see it — only DPP can
    # derive the partition filter at runtime from the joined dim.
    types = [r.event_type for r in ev.select("event_type").distinct().collect()]
    dim = spark.createDataFrame(
        [(t, "engagement" if t == "click" else "other") for t in types],
        "event_type string, category string",
    )
    joined = fact.join(dim, "event_type").filter(
        SF_.col("category") == "engagement"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:4000]
    expected = ev.filter(SF_.col("event_type") == "click").count()
    assert joined.count() == expected


def test_outage_islands_day_partitioned_merge_cross_midnight(spark, qs, tmp_path):
    """The r10 day-partitioned outage derivation must equal the global
    gaps-and-islands the oracle still states declaratively — in
    particular across midnights, where the day partition splits an island
    and the bounded driver-side chain merge must reconnect it. Planted
    regimes: an interior island, an island CROSSING midnight (hot
    23:58-00:01), a boundary island with no partner on the far side, and
    a lone hot minute. The sf0.001 driver fixture yields zero outage
    overlaps (ADVICE r9 — vacuously green), so this planted mini-
    selfcheck is the non-vacuous gate for the derivation. Also asserts
    the returned plan has NO partitionless Window (VERDICT r9 #4)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from pinterest_data_pipeline218_spark.plans.intervals import outage_windows

    rows = []
    eid = [0]

    def err(day, hh, mm, n):
        for k in range(n):
            eid[0] += 1
            rows.append(
                {
                    "event_id": eid[0],
                    "ts": pd.Timestamp(f"2024-02-0{day} {hh:02d}:{mm:02d}:00")
                    + pd.Timedelta(seconds=k),
                    "user_id": 99,
                    "event_type": "error",
                    "value": 1.0,
                }
            )

    # hot minutes get 3 errors each (10 hot), cold minutes 1 (30 cold):
    # total=60, n_minutes=40 -> hot iff 3*40 > 60 (yes), cold 1*40 < 60
    err(1, 10, 0, 3)  # interior island day1 10:00-10:02
    err(1, 10, 1, 3)
    err(1, 10, 2, 3)
    err(1, 23, 58, 3)  # island crossing midnight: day1 23:58 - day2 00:01
    err(1, 23, 59, 3)
    err(2, 0, 0, 3)
    err(2, 0, 1, 3)
    err(3, 0, 0, 3)  # boundary start, NO partner on day2's tail
    err(3, 0, 1, 3)
    err(3, 12, 30, 3)  # lone hot minute
    for k in range(30):  # cold background spread over day 4
        err(4, 6 + k // 10, (3 * k) % 60, 1)
    # sessions: user 1 spans the midnight outage; user 2 sits in day4 cold
    for i, mins in enumerate([0, 10, 20]):
        rows.append(
            {
                "event_id": 10_000 + i,
                "ts": pd.Timestamp("2024-02-01 23:50:00")
                + pd.Timedelta(minutes=mins),
                "user_id": 1,
                "event_type": "click",
                "value": 1.0,
            }
        )
    rows.append(
        {
            "event_id": 10_010,
            "ts": pd.Timestamp("2024-02-04 06:00:30"),
            "user_id": 2,
            "event_type": "click",
            "value": 1.0,
        }
    )
    pdf = pd.DataFrame(rows)
    pdf["props"] = "{}"
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path, index=False)

    from pinterest_data_pipeline218_spark.data import load_table

    outs = sorted(
        (r.o_start, r.o_end)
        for r in outage_windows(load_table(spark, str(tmp_path), "events")).collect()
    )
    TS = pd.Timestamp
    assert outs == [
        (TS("2024-02-01 10:00"), TS("2024-02-01 10:03")),
        (TS("2024-02-01 23:58"), TS("2024-02-02 00:02")),  # merged across midnight
        (TS("2024-02-03 00:00"), TS("2024-02-03 00:02")),  # unpartnered boundary
        (TS("2024-02-03 12:30"), TS("2024-02-03 12:31")),
    ], outs

    df = qs["ev_session_outage_overlap"](spark, str(tmp_path))
    got = sorted(
        (r.user_id, r.n_outages, r.overlap_us) for r in df.collect()
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    oracle = sorted(
        (int(u), int(n), int(o))
        for u, _, _, n, o in con.sql(
            entrymod.oracle_sql()["ev_session_outage_overlap"]
        ).fetchall()
    )
    assert got == oracle and len(got) > 0, (got, oracle)

    # the whole point: zero partitionless windows left in the plan
    jplan = df._jdf.queryExecution().optimizedPlan()

    def walk(node):
        yield node
        for i in range(node.children().length()):
            yield from walk(node.children().apply(i))

    bad = [
        n
        for n in walk(jplan)
        if n.getClass().getSimpleName() == "Window" and n.partitionSpec().isEmpty()
    ]
    assert not bad, "partitionless Window survived the day-partition rewrite"


def test_interval_overlap_bucketized_equals_naive_theta_join(spark):
    """The interval-overlap join's bucketized rewrite must equal the naive
    θ-join on planted intervals covering the tricky shapes: a session
    spanning multiple hour buckets, an outage inside a session, a session
    inside an outage, instant touching at the half-open boundary (o_end ==
    sess_start must NOT match; o_start == sess_end MUST, overlap_us = 0),
    and disjoint pairs."""
    import datetime as dt

    import pyspark.sql.functions as SF_

    from pinterest_data_pipeline218_spark.plans.intervals import _bucketed

    T0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return T0 + dt.timedelta(minutes=minutes)

    sess = spark.createDataFrame(
        [
            (1, 0, ts(0), ts(200), 5),     # spans 4 hour buckets
            (2, 0, ts(30), ts(40), 2),     # inside outage B
            (3, 0, ts(300), ts(310), 2),   # disjoint from everything
            (4, 0, ts(120), ts(125), 2),   # o_end == sess_start for A? no: see below
            (5, 0, ts(70), ts(90), 2),     # sess_end == o_start of C -> touch
        ],
        "user_id long, sess_id long, sess_start timestamp, sess_end timestamp, n_events long",
    )
    outs = spark.createDataFrame(
        [
            (10, ts(100), ts(120)),  # A: inside session 1; o_end == s4 start
            (11, ts(20), ts(60)),    # B: contains session 2, overlaps 1
            (12, ts(90), ts(95)),    # C: o_start == sess 5 end (touch, 0us)
        ],
        "outage_id long, o_start timestamp, o_end timestamp",
    )
    sb = _bucketed(sess, "sess_start", "sess_end")
    ob = _bucketed(outs, "o_start", "o_end")
    cand = (
        sb.join(ob, "bucket")
        .select("user_id", "sess_id", "sess_start", "sess_end", "outage_id",
                "o_start", "o_end")
        .distinct()
    )
    bucketized = {
        (r.user_id, r.outage_id)
        for r in cand.filter(
            (SF_.col("sess_start") < SF_.col("o_end"))
            & (SF_.col("o_start") <= SF_.col("sess_end"))
        ).collect()
    }
    naive = {
        (r.user_id, r.outage_id)
        for r in sess.crossJoin(outs)
        .filter(
            (SF_.col("sess_start") < SF_.col("o_end"))
            & (SF_.col("o_start") <= SF_.col("sess_end"))
        )
        .collect()
    }
    assert bucketized == naive
    assert naive == {
        (1, 10), (1, 11), (1, 12),  # the long session crosses all three
        (2, 11),                    # contained
        (5, 12),                    # touch at o_start == sess_end
        # (4, 10) absent: o_end == sess_start is half-open -> no match
    }


def test_spatial_grid_join_finds_cross_cell_pairs_exactly_once(spark, tmp_path):
    """The grid radius join must equal the naive θ-join on planted points
    covering the failure modes of cell bucketing: a pair straddling a cell
    boundary (each point in a different cell, within R), a pair in the
    SAME cell beyond R (candidate generated, predicate rejects), identical
    points (dist 0), and a diagonal corner-adjacent pair — and every true
    pair must appear EXACTLY once (the own-cell match argument, no
    distinct in the plan)."""
    import pyspark.sql.functions as SF_

    from pinterest_data_pipeline218_spark.operators.spatial import (
        GEO_RADIUS_DD,
        geo_nearby_pairs,
    )

    r = GEO_RADIUS_DD  # 5
    # plant customers whose (k % 1800, k % 3600) lattice coords realize
    # the scenarios; k < 1800 so coords are just (k, k)... instead plant
    # via direct keys chosen for their (lat, lon) images:
    #   4 & 6: same cell (0), dist² = 8 <= 25
    #   4 & 9: cross-boundary (cells 0 and 1), dist² = 50 > 25 -> rejected
    #   4 & 7: dist² = 18 <= 25, cells 0 and 1 -> cross-cell HIT
    #   11 & 11+3600=3611: identical coords, dist 0
    #   2 & 2: only one row each — no self pairs
    keys = [2, 4, 6, 7, 9, 11, 3611]
    cust = spark.createDataFrame(
        [(k, f"c{k}", 0.0, 0) for k in keys],
        "c_custkey long, c_name string, c_acctbal double, c_nationkey long",
    )
    td = str(tmp_path / "geo")
    cust.write.parquet(f"{td}/customer.parquet")
    rows = geo_nearby_pairs(spark, td).collect()
    got = {(x.pid_a, x.pid_b): x.dist2 for x in rows}
    assert len(got) == len(rows)  # exactly-once: no duplicate pairs
    # naive reference over the same lattice
    import itertools

    pts = {k: (k % 1800, k % 3600) for k in keys}
    want = {}
    for a, b in itertools.combinations(sorted(keys), 2):
        d2 = (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2
        if d2 <= r * r:
            want[(a, b)] = d2
    assert got == want
    assert got[(4, 7)] == 18  # the cross-cell pair was found
    assert (4, 9) not in got  # same-ish area but beyond R
    assert got[(11, 3611)] == 0  # identical coordinates


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Co-located join: both sides bucketed+sorted on the key -> sort-merge
    join straight off the scans, zero Exchange — the layout that removes the
    fact-to-fact shuffle at 100 TB."""
    from pinterest_data_pipeline218_spark.data import load_table

    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    (
        orders.write.mode("overwrite")
        .option("path", str(tmp_path / "b_orders"))
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("b_orders")
    )
    (
        customer.write.mode("overwrite")
        .option("path", str(tmp_path / "b_customer"))
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("b_customer")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import pyspark.sql.functions as SF_

        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            SF_.col("o_custkey") == SF_.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def _formatted_plan(df):
    """df.explain('formatted') as a string — the plain toString truncates long
    DataFilters lists before PushedFilters even renders."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q16_not_in_runs_as_broadcast_anti_join(spark, qs):
    """NOT IN <non-null subquery> must compile to a broadcast left-anti join,
    and every part-side filter must reach the parquet scan."""
    plan = _formatted_plan(qs["tpch_q16_supplier_count"](spark, SF))
    assert "BroadcastHashJoin LeftAnti" in plan, "NOT IN did not plan as broadcast anti-join"
    pushed = plan.split("PushedFilters")[1:]
    part_scan = [s for s in pushed if "Not(EqualTo(p_brand,Brand#45))" in s[:400]]
    assert part_scan, "part filters not pushed to scan"
    assert "In(p_size" in part_scan[0][:400]


def test_q19_envelope_predicates_push_to_both_scans(spark, qs):
    """The OR disjunction can't push down, but the stated envelope predicates
    (brand IN set on part, quantity range on lineitem) must prune both scans."""
    plan = _formatted_plan(qs["tpch_q19_disjunctive_revenue"](spark, SF))
    pushed = plan.split("PushedFilters")[1:]
    assert any("In(p_brand" in s[:400] for s in pushed)
    assert any(
        "GreaterThanOrEqual(l_quantity" in s[:400]
        and "LessThanOrEqual(l_quantity" in s[:400]
        for s in pushed
    )


def test_q15_max_is_in_plan_and_leaves_no_cache(spark, qs):
    # (renamed from test_q15_reads_lineitem_once, ADVICE r15: the static
    # plan shows the fact table TWICE by design; runtime reuse dedups it)
    """The MAX-scalar idiom must not use a partitionless window and (r10,
    VERDICT r9 #2) must not leave persisted blocks behind. r15: the max is
    a 1-row aggregate JOINED in-plan (no planning-time collect), so the
    static plan shows the revenue aggregate twice — but both branches are
    the identical subtree up to its exchange, which AQE stage reuse
    deduplicates at runtime; what matters is that no third scan and no
    literal fold-in (LocalTableScan) appear."""
    df = qs["tpch_q15_top_supplier"](spark, SF)
    plan = _formatted_plan(df)  # single-section (no AQE current/initial dup)
    assert plan.count("lineitem.parquet") == 2, (
        "fact table must appear exactly twice: the revenue branch and its "
        "1-row max branch (deduplicated by runtime exchange reuse)"
    )
    assert "LocalTableScan" not in plan, "max must be in-plan, not collected"
    assert "Window" not in plan  # global max is a literal filter, not OVER ()
    assert "InMemoryTableScan" not in plan  # no cache dependence
    # no NEW storage blocks (delta, not absolute: other tests' session-scoped
    # cached fixtures legitimately live in the shared session)
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    qs["tpch_q15_top_supplier"](spark, SF).collect()
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after == before, "q15 must not leave persisted blocks behind"


def test_outliers_mad_is_pure_plan(spark, qs):
    """ev_outliers_mad's r8 form persisted the dev relation and never
    unpersisted (VERDICT r9 #2); the r10 form collected the 5-row med/mad
    tables at planning time — two driver jobs + a transient persist per
    execution. The r15 form is a PURE PLAN: the medians are aggregate
    subtrees inside the returned plan (AQE broadcasts the 5-row sides at
    runtime), the builder runs zero driver actions, and nothing is
    persisted."""
    df = qs["ev_outliers_mad"](spark, SF)
    plan = _formatted_plan(df)
    assert "percentile(" in plan, "medians must be computed IN the plan"
    assert "LocalTableScan" not in plan, (
        "no literal med/mad relations — planning-time collects are gone"
    )
    assert "InMemoryTableScan" not in plan
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    qs["ev_outliers_mad"](spark, SF).collect()
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after == before, "MAD screen must not leave persisted blocks"


def test_minhash_lsh_has_no_forced_corpus_broadcast(spark, qs):
    """Every join in dedup_minhash_lsh must be hint-free: the bands table and
    token-hash sets are O(corpus), so a forced broadcast OOMs the driver at
    scale. With auto-broadcast disabled, zero BroadcastExchange may appear —
    AQE alone decides when a side is actually small enough."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted_plan(qs["dedup_minhash_lsh"](spark, SF))
        assert "BroadcastExchange" not in plan, "forced broadcast of O(corpus) side"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _broadcast_subtrees(plan_str):
    """Yield the subtree text under each BroadcastExchange in an indented
    physical-plan string (executedPlan().toString()). A child line is one
    whose operator name starts in a deeper column than its parent's."""
    lines = plan_str.splitlines()

    def op_col(line):
        i = 0
        while i < len(line) and line[i] in " :+-*(":
            i += 1
        return i

    for idx, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        col = op_col(line)
        sub = []
        for nxt in lines[idx + 1:]:
            if not nxt.strip():
                break
            if op_col(nxt) <= col:
                break
            sub.append(nxt)
        yield "\n".join(sub)


def test_sf_scaled_dims_not_force_broadcast(spark, qs):
    """supplier/part grow with scale factor — q7/q14/q15/q16/q19 must leave
    their joins hint-free (nation/region hints are fine: constant 25/5 rows).
    With auto-broadcast off, any BroadcastExchange fed by a supplier/part
    scan would mean a hard-coded hint survived."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for q in ("tpch_q7_volume_shipping", "tpch_q14_promo_revenue",
                  "tpch_q15_top_supplier", "tpch_q16_supplier_count",
                  "tpch_q19_disjunctive_revenue"):
            plan = qs[q](spark, SF)._jdf.queryExecution().executedPlan().toString()
            for sub in _broadcast_subtrees(plan):
                assert "supplier.parquet" not in sub and "part.parquet" not in sub, (
                    f"{q}: forced broadcast of an sf-scaled table:\n{sub}"
                )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_desc_nulls_last_excludes_null_ages_from_topk(spark, qs):
    """O4: with NULLS LAST, the unparseable-age (NULL) users never enter the
    top-k — under a NULLS FIRST default they would occupy the entire cut."""
    rows = qs["user_oldest_nulls_last"](spark, SF).collect()
    assert len(rows) == 20
    assert all(r.age is not None for r in rows)
    ages = [r.age for r in rows]
    assert ages == sorted(ages, reverse=True)


def test_cube_subtotals_consistent(spark, qs):
    """CUBE invariants: the grand total equals the sum of per-type rows,
    and each type's <all>-dow subtotal equals the sum of its dow rows."""
    rows = qs["ev_cube_type_dow"](spark, SF).collect()
    grand = [r for r in rows if r.event_type == "<all>" and r.dow == "<all>"]
    per_type = {r.event_type: r.n_events for r in rows
                if r.event_type != "<all>" and r.dow == "<all>"}
    assert len(grand) == 1
    assert sum(per_type.values()) == grand[0].n_events
    for t, subtotal in per_type.items():
        cells = sum(r.n_events for r in rows if r.event_type == t and r.dow != "<all>")
        assert cells == subtotal, t


def test_approx_distinct_within_bound(spark, qs):
    """HLL++ at rsd=2%: the gated rendering's exact counts match an
    independent recount and every within-5pct attestation is TRUE (the
    r11 bounds-attested schema — the boolean IS the 5% check)."""
    from pinterest_data_pipeline218_spark.data import load_table

    rows = {r.event_type: r for r in
            qs["ev_approx_distinct_users"](spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    exact = {r.event_type: r.n for r in ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert rows.keys() == exact.keys()
    for t in exact:
        assert rows[t].exact_users == exact[t], (t, rows[t], exact[t])
        assert rows[t].approx_within_5pct is True, (t, rows[t])


def test_hll_daily_rollup_union_is_lossless(spark, qs):
    """The materialized-sketch property ev_hll_daily_rollup is built on:
    DataSketches HLL union at equal lgConfigK is register-wise max, so
    the union of per-day sketches estimates EXACTLY what one direct
    sketch over the whole week estimates — and the gated attestations
    are all TRUE against the exact weekly counts."""
    from pinterest_data_pipeline218_spark.data import load_table

    ev = load_table(spark, SF, "events")
    base = ev.selectExpr(
        "event_type",
        "unix_micros(ts) div 86400000000 AS day",
        "user_id",
    )
    two_level = (
        base.groupBy("event_type", F.expr("day div 7").alias("week"), "day")
        .agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
        .groupBy("event_type", "week")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
    )
    direct = base.groupBy("event_type", F.expr("day div 7").alias("week")).agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").alias("d")
    )
    joined = two_level.join(direct, ["event_type", "week"]).collect()
    assert joined and all(r.est == r.d for r in joined), [
        (r.event_type, r.week, r.est, r.d) for r in joined if r.est != r.d
    ]
    rows = qs["ev_hll_daily_rollup"](spark, SF).collect()
    assert rows and all(r.union_within_5pct is True for r in rows)


def test_kmv_distinct_bound_and_exact_mode(spark, qs):
    """KMV at k=256 (rsd ~= 1/sqrt(k-2) ~= 6.3%): every per-type estimate
    within 20% of the exact distinct count (3 sigma) on real data; and on
    a group with fewer than k distinct keys the sketch is in exact mode,
    returning the EXACT count (which is also what the DuckDB oracle gate
    verifies value-exactly at sf0.01)."""
    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.plans.events import (
        KMV_K,
        kmv_distinct,
    )

    est = {r.event_type: r.kmv_users
           for r in qs["ev_kmv_distinct_users"](spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    exact = {r.event_type: r.n for r in ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert est.keys() == exact.keys()
    for t in exact:
        if exact[t] < KMV_K:
            assert est[t] == exact[t], (t, est[t], exact[t])
        else:
            assert abs(est[t] - exact[t]) <= 0.20 * exact[t], (t, est[t], exact[t])

    # exact mode pinned on a tiny synthetic frame: 2 groups, 7 / 300 keys
    rows = [("a", i) for i in range(7)] * 3 + [("b", i) for i in range(300)]
    df = spark.createDataFrame(rows, ["g", "k"])
    got = {r.g: r.kmv_users for r in kmv_distinct(df, "g", "k").collect()}
    assert got["a"] == 7
    assert abs(got["b"] - 300) <= 60


def test_tpch_rest_follows_broadcast_policy_and_pushdown(spark, qs):
    """The completion set (q2/q9/q11/q20) joins the |part×supplier|-sized
    derived bridge plus sf-scaled part/supplier dims — all must stay
    hint-free (only constant nation/region may broadcast). And q2's
    p_size=15 / q9's p_name LIKE predicates must reach the part scan."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for q in ("tpch_q2_min_cost_supplier", "tpch_q9_product_profit",
                  "tpch_q11_important_parts", "tpch_q20_concentrated_suppliers"):
            plan = qs[q](spark, SF)._jdf.queryExecution().executedPlan().toString()
            for sub in _broadcast_subtrees(plan):
                # a 1-row global aggregate (keys=[]) may broadcast even though
                # its subtree textually contains sf-scaled scans — it IS the
                # scalar-subquery stats broadcast (q11), constant-size output
                if "HashAggregate(keys=[]" in "".join(sub.splitlines()[:2]):
                    continue
                assert "supplier.parquet" not in sub and "part.parquet" not in sub, (
                    f"{q}: forced broadcast of an sf-scaled table:\n{sub}"
                )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    p2 = _formatted_plan(qs["tpch_q2_min_cost_supplier"](spark, SF))
    assert "EqualTo(p_size,15)" in p2
    p9 = _formatted_plan(qs["tpch_q9_product_profit"](spark, SF))
    assert "StringContains(p_name,gear)" in p9


def test_decontaminate_is_hint_free_and_pruned(spark, qs):
    """text_decontaminate's gram join must carry no forced broadcast (the
    'benchmark' side grows with whatever corpus it's built from), and both
    branches must read only the columns they need from the scan."""
    plan = _formatted_plan(qs["text_decontaminate"](spark, SF))
    # no hint: logical plan must not contain ResolvedHint (hint-free contract)
    logical = (
        qs["text_decontaminate"](spark, SF)
        ._jdf.queryExecution()
        .logical()
        .toString()
    )
    assert "ResolvedHint" not in logical
    # column pruning: the scan reads doc_id + text only
    read = plan.split("ReadSchema")[1][:200]
    assert "text" in read and "doc_id" in read
    assert "source" not in read and "lang" not in read


def test_repetition_has_partial_aggregation(spark, qs):
    """The bigram counting must map-side combine: two HashAggregate pairs
    (partial+final) around each exchange, or the (doc,gram) stream shuffles
    at full width."""
    plan = qs["text_repetition_score"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4 or plan.count("ObjectHashAggregate") >= 4, plan


def test_sliding_range_window_single_user_exchange(spark, qs):
    """ev_sliding_1h_value must shuffle once on user_id for the window (plus
    the output range sort) — a second hash exchange would mean the frame
    machinery re-partitioned needlessly."""
    plan = qs["ev_sliding_1h_value"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_mixture_rates_join_is_hint_free(spark, qs):
    """corpus_mixture_sample: the rates⋈docs join must be hint-free (AQE
    broadcasts the |langs|-row side at runtime); only the 1-row n_min
    aggregate may carry an explicit broadcast."""
    logical = (
        qs["corpus_mixture_sample"](spark, SF)
        ._jdf.queryExecution()
        .logical()
        .toString()
    )
    # exactly the one deliberate broadcast hint (the 1-row min aggregate)
    assert logical.count("broadcast") <= 1, logical


def test_aqe_splits_skewed_join(spark):
    """The engine's skew posture beyond hand-salting: AQE must detect a
    pathologically skewed join key at runtime and split the hot partition
    (OptimizeSkewedJoin), without any query-level hint. Thresholds are
    lowered so the local fixture qualifies as skewed; they are runtime-
    settable SQL confs, restored after."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a sort-merge join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # key 0 carries 200k rows; keys 1..400 carry ~50 each
        left = spark.range(220_000).selectExpr(
            "CASE WHEN id < 200000 THEN 0 ELSE id % 400 + 1 END AS k",
            "id AS payload",
        )
        right = spark.range(401).selectExpr("id AS k", "id * 2 AS v")
        joined = left.join(right, "k")
        # collect() (not count()) so THIS DataFrame's QueryExecution runs —
        # count() builds a separate one and the inspected plan stays unfinal
        assert len(joined.collect()) == 220_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dsir_target_flag_evaluated_below_explode(spark):
    """Plan-shape regression guard: corpus_dsir_sample's per-doc is_target
    expression (an O(|toks|) higher-order filter) must be evaluated in a
    projection BELOW the token explode. If it drifts into the post-Generate
    projection it re-runs per exploded token — O(|toks|²) per document,
    measured 6.4x slower at sf0.1."""
    from pinterest_data_pipeline218_spark.operators.corpus import (
        corpus_dsir_sample,
    )

    plan = (
        corpus_dsir_sample(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Regression signature: in the bad plan the HOF lands in the SAME
    # post-Generate projection as the per-token md5 bucket expression; in
    # the good plan the HOF lives in its own document-level projection
    # below the Generate. (Column pruning drops is_target entirely from
    # the join-side branch — also only possible in the good shape.)
    assert "lambdafunction" in plan  # the target flag is a HOF — sanity
    for line in plan.splitlines():
        assert not ("lambdafunction" in line and "md5" in line), line


def test_bench_headline_covers_registry(qs):
    """VERDICT r9 #5: the committed BASELINE table must cover the whole
    registry — bench.py's HEADLINE is exactly the gated-query set, no
    dangling names, no duplicates."""
    import bench

    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)), "duplicate rows"
    assert set(bench.HEADLINE) == set(qs), {
        "missing": sorted(set(qs) - set(bench.HEADLINE)),
        "dangling": sorted(set(bench.HEADLINE) - set(qs)),
    }


def test_bench_output_contract():
    """VERDICT r10 #9: the bench artifact's tail must parse as MEDIANS.
    Pins the assemble_output contract so the r9 regression class (iqr map
    captured instead of medians) cannot recur: (a) 'iqr' precedes
    'queries' which precedes the headline scalars in key order, so stdout
    truncation eats iqr first; (b) an errored row keeps the queries/iqr
    key sets aligned via iqr=None and flags the partial total; (c) the
    driver-style last-2000-chars tail of the serialized dict contains the
    medians and the headline value."""
    import json as _json

    import bench

    results = {f"q{i}": round(0.1 * i, 4) for i in range(60)}
    iqrs = {f"q{i}": 0.01 for i in range(60)}
    results["q_bad"] = {"err": "AnalysisException: boom"}
    iqrs["q_bad"] = None
    out = bench.assemble_output(results, iqrs, errors=1, sf=0.1)

    keys = list(out)
    assert keys.index("iqr") < keys.index("queries") < keys.index("value")
    assert out["queries"].keys() == out["iqr"].keys()
    assert out["iqr"]["q_bad"] is None
    assert out["partial"] is True and out["errors"] == 1
    assert out["value"] == round(sum(0.1 * i for i in range(60)), 4)

    tail = _json.dumps(out, separators=(",", ":"))[-2000:]
    assert '"q59":5.9' in tail, "medians must survive tail truncation"
    assert '"value":' in tail and '"metric":' in tail


def test_compat_mode_equals_dataframe_mode(spark):
    """VERDICT r11 #8: the nine declared queries (T4-T11 + t6p2) must
    return byte-identical canonicalized outputs in BOTH modes — the
    DataFrame plans and their SQL rendering executed BY SPARK over temp
    views (the reference's own consumption shape). Until now this held
    only transitively (both modes oracled against DuckDB in different
    rounds); this pins it directly so a Spark upgrade that shifts either
    mode's semantics fails loudly. The single dialect shim is
    QUANTILE_CONT(x, 0.5) → MEDIAN(x) (both exact interpolating
    medians)."""
    import re

    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.plans import analytics_tpch as AT

    for t in ("orders", "customer", "nation"):
        load_table(spark, SF, t).createOrReplaceTempView(t)
    assert len(AT.QUERIES) == 9
    for name, fn in AT.QUERIES.items():
        sql = re.sub(
            r"QUANTILE_CONT\((\w+), 0\.5\)", r"MEDIAN(\1)", AT.ORACLE[name]
        )
        got = fn(spark, SF)
        want = spark.sql(sql)
        assert got.columns == want.columns, name
        canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
        assert canon(got) == canon(want), name


def test_bench_contention_guard():
    """VERDICT r11 #4: the contention guard over a synthetic timing set.
    A row whose warm reps spread past the noise band (max/min > 1.9x AND
    > 250ms absolute) is flagged for a single re-run; tight rows and fast
    jittery rows are not. The flagged row's recorded value is the MIN of
    the two medians (contention only inflates), and both medians land in
    the 'contended' diagnostic, ordered before 'queries' so stdout
    truncation can never eat the medians."""
    import bench

    flagged = bench.flag_contended({
        # warm reps = times[1:]: rep collided with background load → flag
        "hit": [2.0, 1.0, 2.4, 1.05],
        # tight spread → clean
        "clean": [2.0, 1.9, 2.0, 1.95],
        # big RATIO but sub-250ms absolute (fast row jitter) → clean
        "fast_jitter": [0.05, 0.04, 0.09, 0.041],
        # first rep (JIT tail) excluded from the warm window → clean
        "jit_tail": [6.0, 2.0, 2.1, 2.05],
        # 2-rep row: no warm trim, spread past both bars → flag
        "two_reps": [1.0, 2.2],
    })
    assert flagged == ["hit", "two_reps"]

    out = bench.assemble_output(
        {"hit": 1.02}, {"hit": 0.02}, errors=0, sf=0.1,
        contended={"hit": {"first": 2.1, "rerun": 1.02}},
    )
    keys = list(out)
    assert keys.index("contended") < keys.index("iqr") < keys.index("queries")
    assert out["contended"]["hit"] == {"first": 2.1, "rerun": 1.02}


def test_bench_vs_committed_guard():
    """r12: the UNIFORM-inflation guard. A stretch that inflates every
    warm rep leaves the spread inside the band (invisible to
    flag_contended — the committed-run text_repetition_score case), so
    rows > 2x their COMMITTED BASELINE median (and > 250ms absolute
    excess) get one re-run: flagged mechanically, skipping rows the
    spread guard already re-ran, errored rows, and rows without a
    committed reference. The real BASELINE.md parses and contains the
    full registry at sf0.1; a foreign sf disables the guard."""
    import bench

    committed = {"slow": 0.8, "legit": 0.8, "fast": 0.05, "rerun_done": 0.8}
    flagged = bench.flag_vs_committed(
        {
            "slow": 2.3,              # 2.9x committed, +1.5s -> flag
            "legit": 1.2,             # 1.5x -> clean
            "fast": 0.2,              # 4x but sub-250ms excess -> clean
            "rerun_done": 5.0,        # already re-run by the spread guard
            "new_row": 3.0,           # no committed reference -> clean
            "errored": {"err": "x"},  # non-float -> clean
        },
        committed,
        already={"rerun_done"},
    )
    assert flagged == ["slow"]

    real = bench.load_committed_medians("BASELINE.md", 0.1)
    assert len(real) >= 180 and all(v > 0 for v in real.values())
    assert "t4_top_priority_per_nation" in real
    assert bench.load_committed_medians("BASELINE.md", 0.01) == {}
    assert bench.load_committed_medians("/nonexistent.md", 0.1) == {}


def test_winsorized_stats_matches_python_model(spark):
    """ev_winsorized_stats (r12) against an independent Python model:
    exact ceil-rank discrete percentiles per type, clamp, and the four
    integer aggregates — including that the thresholds themselves are
    OBSERVED values and the clamp counts exclude values equal to the
    thresholds (strict inequalities)."""
    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.plans.orderstats import (
        WINSOR_HI_PCT,
        WINSOR_LO_PCT,
        ev_winsorized_stats,
    )

    rows = load_table(spark, SF, "events").select("event_type", "value").collect()
    by_type = {}
    for r in rows:
        cents = int(round(r.value * 100))  # values are 2-decimal doubles
        by_type.setdefault(r.event_type, []).append(cents)
    model = {}
    for t, vs in by_type.items():
        vs.sort()
        n = len(vs)
        p_lo = vs[(WINSOR_LO_PCT * n + 99) // 100 - 1]
        p_hi = vs[(WINSOR_HI_PCT * n + 99) // 100 - 1]
        model[t] = (
            n,
            sum(vs),
            sum(max(p_lo, min(p_hi, v)) for v in vs),
            sum(1 for v in vs if v < p_lo),
            sum(1 for v in vs if v > p_hi),
            p_lo,
            p_hi,
        )
    got = ev_winsorized_stats(spark, SF).collect()
    assert len(got) == len(model)
    for r in got:
        assert model[r.event_type] == (
            r.n_events,
            r.raw_sum_centi,
            r.wins_sum_centi,
            r.n_clamped_lo,
            r.n_clamped_hi,
            r.p_lo_centi,
            r.p_hi_centi,
        ), r.event_type
        # the thresholds are observed values and the winsorized sum is
        # bracketed by the clamp arithmetic
        assert r.p_lo_centi in by_type[r.event_type]
        assert r.p_hi_centi in by_type[r.event_type]
        assert r.n_clamped_lo + r.n_clamped_hi < r.n_events


def test_registry_window_names_resolve_and_rotation_is_ledger_mechanical(qs):
    """_WINDOW hygiene (r12 design): every window name must exist in the
    registry (a typo silently pushes something else out of the driver's
    50-slot gate), the window must be exactly the first 50 of BOTH
    registries, and — the r12 rotation contract (VERDICT r11 #1/#2) —
    window membership must be mechanical from tools/ledger.py: every row
    whose latest driver round predates r08 is in the window, as is every
    query whose plan or oracle changed since its last driver row."""
    import sys

    sys.path.insert(0, "tools")
    from tools.ledger import load_ledger

    names = list(qs)
    window = list(entry._WINDOW)
    assert len(window) == 50 and len(set(window)) == 50
    missing = set(window) - set(names)
    assert missing == set(), f"_WINDOW names not in registry: {missing}"
    assert names[:50] == window
    assert list(entry.oracle_sql())[:50] == window

    ledger = load_ledger()
    # NEW queries (no driver row yet) must be windowed; for everything
    # else the staleness queue drains oldest-first. The cutoff is the
    # rotation contract's, derived (not hardcoded per round): anything
    # older than current_round - rotation_n(N) MUST be in the window.
    from tools.ledger import rotation_n

    current_round = max(e["round"] for e in ledger.values()) + 1
    new_unwindowed = {n for n in names if n not in ledger}
    stale = {
        n
        for n, e in ledger.items()
        if e["round"] < current_round - rotation_n(len(names))
        and n in set(names)
    }
    out = (stale | new_unwindowed) - set(window)
    assert out == set(), f"stale/new queries outside the checked window: {out}"
    # changed since last driver row (r16 rows, changed in r17): every
    # connected_components consumer (one job per loop round over a
    # coalesced edge leaf, observe-folded convergence probes) and
    # graph_pagerank_trade (checkpoint-free fixed rounds).
    changed = {
        "dedup_cluster_cc",
        "dedup_cluster_cc_star",
        "dedup_cluster_cc_bounded",
        "dedup_cluster_cc_capped",
        "dedup_cluster_best",
        "dedup_cluster_report",
        "text_entity_ids",
        "ml_semantic_keepers",
        "corpus_leakage_safe_split",
        "corpus_build_full",
        "graph_pagerank_trade",
    }
    out = changed - set(window)
    assert out == set(), f"changed queries outside the checked window: {out}"


def test_ledger_no_row_older_than_rotation_contract(qs):
    """VERDICT r12 #8: the staleness policy, self-enforcing. Every
    registry query with a driver CORRECTNESS row must have been gated
    within the last rotation_n(N) rounds — OR sit in the current window
    (about to be re-gated at this round's end). The current build round
    is max(ledger round) + 1 (this round's own CORRECTNESS file lands
    only after the build). Skipping a rotation turns this red. The
    contract is SIZE-DERIVED since r14 (tools/ledger.py rotation_n):
    ceil(N/50)+1 — a 200-query registry cannot round-trip a 50-slot
    window in 4 rounds once new/changed rows preempt slots, which is
    exactly how the r13 suite went red at judge time (VERDICT r13
    'What's wrong' #1); a hardcoded 4 was feasible only below ~150."""
    import sys

    sys.path.insert(0, "tools")
    from tools.ledger import load_ledger, rotation_n

    ROTATION_N = rotation_n(len(qs))
    ledger = load_ledger()
    current_round = max(e["round"] for e in ledger.values()) + 1
    cutoff = current_round - ROTATION_N
    window = set(entry._WINDOW)
    aged = {
        n: ledger[n]["round"]
        for n in qs
        if n in ledger and ledger[n]["round"] < cutoff and n not in window
    }
    assert aged == {}, (
        f"rows older than the {ROTATION_N}-round rotation contract and "
        f"not in the current window: {aged}"
    )


def test_ledger_covers_registry_and_row_verdict_matches_driver(qs):
    """VERDICT r11 #2: tools/ledger.py makes the staleness computation
    mechanical. Pins (a) every registry name has at least one driver
    CORRECTNESS row in the ledger (182/182 were windowed by r11), (b) the
    per-row green verdict mirrors the driver's (rows+schema must match,
    hash_match None = the weaker rows-only check still counts as green,
    hash_match False = red), and (c) the latest-round-wins merge."""
    import sys

    sys.path.insert(0, "tools")
    from tools.ledger import _row_green, load_ledger

    ledger = load_ledger()
    # names without any driver row are legitimate ONLY while they await
    # their first row — i.e. they must sit inside the current window
    missing = set(qs) - set(ledger) - set(entry._WINDOW)
    assert missing == set(), f"registry names never windowed: {missing}"
    for name in qs:
        if name not in ledger:
            continue  # new this round, checked above
        ent = ledger[name]
        assert ent["round"] >= 1
        assert ent["round"] == max(r for r, _ in ent["rounds"])

    assert _row_green({"rows_match": True, "schema_match": True,
                       "hash_match": True})
    assert _row_green({"rows_match": True, "schema_match": True,
                       "hash_match": None})
    assert not _row_green({"rows_match": True, "schema_match": True,
                           "hash_match": False})
    assert not _row_green({"rows_match": False, "schema_match": True,
                           "hash_match": True})


def test_corpus_build_tokenizes_once_per_branch(spark):
    """Single-pass tokenization guard: in the multi-gate corpus build every
    gate (quality, repetition, decontamination) and the chunker must read
    the ONE shared cached (doc_id, text, toks) projection. Regression
    signature: a `split(text` occurrence in the executed plan that is NOT
    the cached relation's own definition printout — i.e. a branch that
    re-tokenizes from a fresh scan instead of the cache. In the good plan
    every split(text printout is paired 1:1 with an InMemoryTableScan."""
    from pinterest_data_pipeline218_spark.operators.corpus import (
        build_training_corpus,
    )

    df = build_training_corpus(
        spark,
        "/root/testdata/sf0.001",
        repetition_gate=True,
        decontaminate=True,
        near_dedup=False,
    )
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_split = plan.count("split(text")
        n_cached = plan.count("InMemoryTableScan")
        assert n_cached > 0, "tokenized projection is not cached"
        assert n_split == n_cached, (
            f"{n_split} tokenizations vs {n_cached} cached scans — some "
            "branch re-tokenizes from a fresh scan:\n" + plan[:2000]
        )
    finally:
        spark.catalog.clearCache()


def test_cc_loop_restores_shuffle_partitions(spark):
    """The CC loops pin spark.sql.shuffle.partitions to their state size
    for the duration of the loop ONLY — no session-level mutation may
    survive, even though the loop materializes per-round checkpoints."""
    from pinterest_data_pipeline218_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    nodes = spark.range(8).select(F.col("id").alias("node"))
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "a long, b long"
    )
    got = {
        r.node: r.label
        for r in connected_components(nodes, pairs).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}
    got_star = {
        r.node: r.label
        for r in connected_components_star(nodes, pairs).collect()
    }
    assert got_star == got
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_iterative_builders_fire_one_job_per_round(spark, qs):
    """Builder SQL executions of a warm call, read from the SQL status
    store (the tools/buildtime.py hook). dedup_cluster_cc converges in 2
    min-label rounds at sf0.01 and fires exactly one job per round: round
    0's labels are not materialized and each convergence probe rides on
    its round's checkpoint. graph_pagerank_trade fires none: its fixed
    rounds run inside the query's own action."""
    from tools.buildtime import last_sql_execution

    sf = "/root/testdata/sf0.01"
    for name, want in (("dedup_cluster_cc", 2), ("graph_pagerank_trade", 0)):
        qs[name](spark, sf)  # cold call: fills the edge registry
        before = last_sql_execution(spark)
        qs[name](spark, sf)
        assert last_sql_execution(spark) - before == want, name


def test_lm_score_model_joins_hint_free_and_pruned(spark, qs):
    """text_lm_score's model-count joins (c12 on gram, c1 on w1) must be
    hint-free — the count tables are vocabulary-bounded but data-dependent,
    so broadcast is AQE's runtime call, not a forced hint (the same
    O(corpus)-broadcast-hazard policy every dedup join follows). The ONLY
    ResolvedHint is the deliberate 1-row vocabulary scalar. The documents
    scan must read (doc_id, text) alone."""
    q = qs["text_lm_score"](spark, SF)
    logical = q._jdf.queryExecution().logical().toString()
    assert logical.count("ResolvedHint") == 1, logical
    plan = _formatted_plan(q)
    read = plan.split("ReadSchema")[1][:200]
    assert "text" in read and "doc_id" in read
    assert "source" not in read and "lang" not in read


def test_funnel_and_retention_shuffle_on_user_id(spark, qs):
    """ev_funnel_steps and ev_retention_cohorts must key every data
    exchange on user_id (the natural events bucketing key) until the final
    tiny rollups — any other hash key would mean an unnecessary reshuffle
    of the events stream."""
    import re

    for name in ("ev_funnel_steps", "ev_retention_cohorts"):
        plan = (
            qs[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        )
        parts = re.findall(r"hashpartitioning\(([^,)]+)", plan)
        data_keys = {
            p.split("#")[0] for p in parts
            if not p.startswith(("step", "cohort_week", "week_offset"))
        }
        assert data_keys <= {"user_id"}, (name, sorted(data_keys))


def test_bucketed_funnel_has_no_user_id_exchange(spark, tmp_path):
    """The funnel docstring's 100 TB claim, proven: against a
    user_id-bucketed events table, every per-user shuffle in the ordered
    funnel (three groupBy user_id aggregates + two user_id equi-joins)
    disappears — the executed plan contains ZERO
    hashpartitioning(user_id) exchanges (only the 1-row global-count
    exchanges remain, which are inherent to the final step counts). The
    same plan over the plain parquet layout DOES shuffle on user_id, so
    the comparison is meaningful — and both layouts produce identical
    funnel rows."""
    import pyspark.sql.functions as SF_

    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.plans.events import funnel_steps

    ev = load_table(spark, SF, "events").select("user_id", "event_type", "ts")
    (
        ev.write.mode("overwrite")
        .option("path", str(tmp_path / "b_events"))
        .bucketBy(16, "user_id")
        .sortBy("user_id")
        .saveAsTable("b_events")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = funnel_steps(ev)
        plan_plain = plain._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(user_id" in plan_plain  # the baseline cost

        bucketed = funnel_steps(spark.table("b_events"))
        plan_b = bucketed._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(user_id" not in plan_b, plan_b

        assert sorted(map(tuple, bucketed.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_events")


def test_value_outliers_hand_computed(spark, tmp_path):
    """Integer-exact sigma screen on a planted fixture: 9 clustered values
    + 1 far spike per type — the spike must flag, the cluster must not,
    and a type whose values are all equal (zero variance) must flag any
    deviant but never its own members (n*q - s*s == 0 edge)."""
    import pyspark.sql.functions as SF_

    from pinterest_data_pipeline218_spark.plans.events import ev_value_outliers

    rows = []
    eid = 0
    # 17 constants + 1 spike: a single point's max possible z-score is
    # sqrt(n-1) (the spike inflates its own sigma), so 9+1 would sit at
    # EXACTLY 3 sigma and the strict > correctly leaves it unflagged;
    # 17+1 puts the spike at sqrt(17) ~ 4.1 sigma
    for v in [10.0] * 17 + [500.0]:  # 'click': tight cluster + spike
        rows.append((eid, 1, "click", v)); eid += 1
    for v in [25.0] * 8:  # 'view': zero variance, no deviants
        rows.append((eid, 2, "view", v)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    )
    df = df.withColumn("ts", SF_.lit("2026-01-01 00:00:00").cast("timestamp"))
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = ev_value_outliers(spark, str(tmp_path)).collect()
    assert [(r.event_id, r.event_type, r.value_cents) for r in got] == [
        (17, "click", 50000)
    ]


def test_round6_operator_plan_properties(spark, qs):
    """Physical-plan contracts for the round-6 operators:
    - text_langid_trained / corpus_stratified_predlang: the profile model
      joins BROADCAST (never shuffle the corpus-side trigram stream on a
      gram key);
    - ev_value_outliers: the per-type stats table joins broadcast, and the
      events scan appears with pushable projection (no extra exchange
      beyond the stats aggregate + final sort);
    - dedup_containment_seeds / phash pairs: candidate generation is a
      hash EQUI-join — no CartesianProduct / BroadcastNestedLoopJoin
      anywhere in any round-6 plan."""
    names = [
        "text_langid_trained",
        "corpus_stratified_predlang",
        "ev_value_outliers",
        "dedup_containment_seeds",
        "mm_image_phash",
        "mm_audio_fingerprint",
        "sim_ivfpq_wide_topk",
        "text_lm_backoff",
    ]
    plans = {
        n: qs[n](spark, SF)._jdf.queryExecution().executedPlan().toString()
        for n in names
    }
    for n, p in plans.items():
        assert "CartesianProduct" not in p, n
    # BNLJ-free where one would signal a quadratic fallback; the PQ/LM
    # plans legitimately contain the 1-row scalar-subquery crossJoin idiom
    # (broadcast single-row side), which plans as a trivial BNLJ
    for n in (
        "text_langid_trained",
        "corpus_stratified_predlang",
        "ev_value_outliers",
        "dedup_containment_seeds",
        "mm_image_phash",
        "mm_audio_fingerprint",
    ):
        assert "BroadcastNestedLoopJoin" not in plans[n], n
    for n in ("text_langid_trained", "corpus_stratified_predlang"):
        assert "BroadcastHashJoin" in plans[n], n
        # the gram-keyed model join must not shuffle the trigram stream
        assert "hashpartitioning(g" not in plans[n], n
    assert "BroadcastHashJoin" in plans["ev_value_outliers"]


def test_funnel_generalizes_to_n_steps(spark):
    """The generalized funnel on a 4-step hand fixture: ordering is
    first-touch per step (user 1 completes all 4 in order; user 2's step-3
    event PRECEDES their step-2 entry so they stall at step 2; user 3
    only reaches step 1) — and the 3-step default must equal the original
    hardcoded semantics on the gated corpus."""
    import datetime

    from pinterest_data_pipeline218_spark.plans.events import funnel_steps

    def t(m):
        return datetime.datetime(2026, 1, 1, 12, m)

    rows = [
        (1, "a", t(0)), (1, "b", t(1)), (1, "c", t(2)), (1, "d", t(3)),
        (2, "a", t(0)), (2, "c", t(1)), (2, "b", t(2)),  # c before b entry
        (3, "a", t(5)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        r.step: (r.event_type, r.n_users, r.conv_bp)
        for r in funnel_steps(ev, ("a", "b", "c", "d")).collect()
    }
    assert got == {
        1: ("a", 3, 10000),
        2: ("b", 2, 6666),
        3: ("c", 1, 3333),
        4: ("d", 1, 3333),
    }


def test_bucketed_retention_has_no_user_id_exchange(spark, tmp_path):
    """Retention's 100 TB claim, proven like the funnel's: against a
    user_id-bucketed events table the cohort triangle (per-user min week +
    distinct activity + user_id join) plans with ZERO
    hashpartitioning(user_id) exchanges; the plain layout provably
    shuffles; results identical."""
    import pyspark.sql.functions as SF_

    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.plans.events import (
        retention_triangle_from_activity,
    )

    ev = load_table(spark, SF, "events").select(
        "user_id", SF_.date_trunc("week", SF_.col("ts")).alias("w")
    )
    (
        ev.write.mode("overwrite")
        .option("path", str(tmp_path / "b_act"))
        .bucketBy(16, "user_id")
        .sortBy("user_id")
        .saveAsTable("b_act")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = retention_triangle_from_activity(ev.distinct())
        assert "hashpartitioning(user_id" in (
            plain._jdf.queryExecution().executedPlan().toString()
        )
        bucketed = retention_triangle_from_activity(spark.table("b_act").distinct())
        plan_b = bucketed._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(user_id" not in plan_b, plan_b
        assert sorted(map(tuple, bucketed.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_act")


def test_cm_sketch_one_sided_error_and_heavy_hitter(spark):
    """Count-min contracts on a planted skewed key set: (1) the one-sided
    guarantee — EVERY key's estimate >= its exact count (checked across
    all keys, not just the top-n); (2) the planted heavy hitter ranks
    first; (3) overshoot stays within the classic epsilon*N bound scaled
    generously (5*N/w) — collisions exist at w=64 with 200 tail keys, so
    the bound is exercised, not vacuous."""
    from pinterest_data_pipeline218_spark.plans.events import cm_heavy_hitters

    rows = [("hot",)] * 500 + [(f"tail{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, "k string")
    n = len(rows)
    w = 64
    got = cm_heavy_hitters(df, "k", top_n=201, d=4, w=w).collect()
    assert len(got) == 201
    assert all(r.overshoot >= 0 for r in got)
    assert got[0].k == "hot" and got[0].exact_count == 500
    assert max(r.overshoot for r in got) <= 5 * n / w
    # collisions actually happened at this width (the bound bites)
    assert any(r.overshoot > 0 for r in got)


def test_hist_quantiles_bin_contains_order_statistic(spark, qs):
    """The mergeable-histogram quantile computes the inverted-CDF
    percentile (the ceil(q*n)-th smallest value) to bin granularity: for
    every type, that exact order statistic must lie INSIDE the reported
    bin [lo, lo + bin). (Interpolated percentile() is deliberately not
    the reference — in sparse data it can sit between far-apart order
    statistics, which is a different definition, not an error.)"""
    import math

    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.plans.events import HIST_BIN_CENTS

    got = {r.event_type: (r.p50_lo_cents, r.p95_lo_cents)
           for r in qs["ev_hist_value_quantiles"](spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    vals = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    assert got.keys() == vals.keys()
    for t, vs in vals.items():
        vs.sort()
        for q, lo in zip((50, 95), got[t]):
            stat = vs[math.ceil(q * len(vs) / 100) - 1]
            cents = int(round(stat * 100))
            assert lo % HIST_BIN_CENTS == 0
            assert lo <= cents < lo + HIST_BIN_CENTS, (t, q, lo, stat)


def test_full_outer_exercises_both_null_directions(spark, qs):
    """The full-outer gated query must actually produce one-sided rows in
    BOTH directions at oracle scale (sf0.01) — otherwise it degenerates
    into an inner join and the driver row proves nothing about
    null-preservation."""
    rows = qs["tpch_full_outer_nation_coverage"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert any(r.n_rich_cust == 0 and r.n_debt_supp > 0 for r in rows)
    assert any(r.n_rich_cust > 0 and r.n_debt_supp == 0 for r in rows)


def test_bag_ops_respect_multiplicity(spark, qs):
    """INTERSECT ALL + EXCEPT ALL must partition the left bag by
    multiplicity: |intersect_all| + |except_all| == |left bag| — the
    identity DISTINCT set ops violate whenever duplicates exist."""
    from pinterest_data_pipeline218_spark.data import load_table

    got = {r.op: r.n for r in qs["set_bag_ops"](spark, SF).collect()}
    left = (
        load_table(spark, SF, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .count()
    )
    assert got["intersect_all"] + got["except_all"] == left
    assert got["intersect_all"] > 0 < got["except_all"]


def test_gapfill_contiguous_zero_filled_and_locf(spark, qs):
    """Gap-fill invariants on real sparse data: per type the hourly grid
    is CONTIGUOUS from first to last event hour; gap rows carry
    n_events=0 and the previous row's LOCF total unchanged; and
    zero-filling adds no phantom events (per-type n_events sums to the
    raw event count). Requires at least one actual gap to bite."""
    import datetime

    from pinterest_data_pipeline218_spark.data import load_table

    rows = qs["ev_gapfill_hourly"](spark, SF).collect()
    ev = load_table(spark, SF, "events")
    totals = {r.event_type: r.n for r in
              ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    saw_gap = False
    for t, rs in by_type.items():
        hours = [r.hour_ts for r in rs]
        assert hours == sorted(hours)
        step = datetime.timedelta(hours=1)
        assert all(b - a == step for a, b in zip(hours, hours[1:])), t
        assert sum(r.n_events for r in rs) == totals[t]
        for prev, cur in zip(rs, rs[1:]):
            if cur.n_events == 0:
                saw_gap = True
                assert cur.v_cents_locf == prev.v_cents_locf, (t, cur.hour_ts)
    assert saw_gap


def test_json_schema_parse_beats_regexp_on_malformed_docs(spark):
    """Why the schema'd parse earns its own gated query: on a malformed
    document, a wrong-key document, and a non-numeric value, from_json
    returns NULL (the quarantine contract) while the regexp rendering
    happily extracts digits from the WRONG place. Also pins n_bad
    counting NULL-parse rows but not NULL-props rows."""
    df = spark.createDataFrame(
        [
            ("a", '{"k": 7}'),
            ("a", '{"j": 5}'),      # wrong key: regexp would extract 5
            ("a", 'not json 42'),   # malformed: regexp would extract 42
            ("a", '{"k": "xyz"}'),  # non-numeric value
            ("a", None),            # null props: not a bad document
        ],
        "event_type string, props string",
    )
    k = F.from_json("props", "k bigint").getField("k")
    out = df.withColumn("k", k).agg(
        F.sum("k").alias("s"),
        F.count(F.when(F.col("k").isNull() & F.col("props").isNotNull(), 1)).alias("bad"),
    ).collect()[0]
    assert out.s == 7 and out.bad == 3
    rx = F.regexp_extract("props", r"[0-9]+", 0).try_cast("bigint")
    assert df.withColumn("k", rx).agg(F.sum("k")).collect()[0][0] == 54  # 7+5+42


def test_variant_quarantine_splits_parse_and_type_failures(spark):
    """The VARIANT path's finer quarantine split: invalid JSON counts as
    a parse failure (NULL variant), valid JSON whose field cannot cast
    counts as a type failure, a missing key is a type failure too (NULL
    extraction from a valid document), and NULL props counts as neither.
    (At oracle scale every props is valid, so these semantics are pinned
    here rather than by the driver row.)"""
    df = spark.createDataFrame(
        [
            ("a", '{"k": 7}'),
            ("a", '{"k": "xyz"}'),   # type failure
            ("a", '{"j": 5}'),       # missing key -> type failure
            ("a", "not json"),       # parse failure
            ("a", None),             # neither
        ],
        "event_type string, props string",
    )
    v = F.try_parse_json("props")
    out = df.select(
        v.alias("v"),
        F.expr("try_variant_get(try_parse_json(props), '$.k', 'bigint')").alias("k"),
        "props",
    ).agg(
        F.sum("k").alias("s"),
        F.count(F.when(F.col("v").isNull() & F.col("props").isNotNull(), 1)).alias("pf"),
        F.count(F.when(F.col("v").isNotNull() & F.col("k").isNull(), 1)).alias("tf"),
    ).collect()[0]
    assert (out.s, out.pf, out.tf) == (7, 1, 2)


def test_classifier_eval_sweep_invariants(spark, qs):
    """Calibration-sweep invariants at oracle scale: confusion cells
    partition the corpus at every threshold; recall is monotone
    non-increasing in the threshold decile; and the sweep is
    LOAD-BEARING — at the 10th-percentile threshold recall is near-total
    while the naive score>0 rule (all scores negative under the
    documented smoothing bias) would keep nothing."""
    from pinterest_data_pipeline218_spark.data import load_table

    rows = qs["text_classifier_eval"](spark, "/root/testdata/sf0.01").collect()
    n = load_table(spark, "/root/testdata/sf0.01", "documents").count()
    assert [r.q for r in rows] == [10, 30, 50, 70, 90]
    for r in rows:
        assert r.tp + r.fp + r.fn + r.tn == n, r
        assert r.thr < 0  # the smoothing bias: every decile threshold negative
    recalls = [r.recall_bp for r in rows]
    assert all(a >= b for a, b in zip(recalls, recalls[1:]))
    assert recalls[0] >= 8500  # q=10 keeps nearly all curated docs


def test_oracle_outputs_have_no_engine_divergent_int_types():
    """Registry-wide oracle TYPE guard. DuckDB types SUM(CASE...)-derived
    arithmetic as HUGEINT (int128); the driver's value-hash serializes the
    oracle result through Arrow, where HUGEINT converts lossily/divergently
    from Spark's LONG — so an uncast aggregate flips the hash while rows,
    schema, and the type-blind selfcheck all pass (the exact failure mode
    that kept text_classifier_eval red in driver rounds 6-7). Binding every
    oracle through DESCRIBE (no execution) and rejecting HUGEINT/UHUGEINT
    makes the whole class impossible to reintroduce."""
    import duckdb

    from pinterest_data_pipeline218_spark.data import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '/root/testdata/sf0.001/{t}.parquet'"
        )
    offenders = []
    for name, sql in entry.oracle_sql().items():
        for col, typ, *_ in con.execute(f"DESCRIBE {sql}").fetchall():
            if typ.upper() in ("HUGEINT", "UHUGEINT"):
                offenders.append(f"{name}.{col}: {typ}")
    assert offenders == [], (
        "oracle columns with int128 types (wrap in CAST(... AS BIGINT)): "
        + ", ".join(offenders)
    )


def test_aqe_splits_skewed_join_partition(spark):
    """The 100 TB skew story is two-layer: explicit salting for known-hot
    keys (ev_salted_*), and AQE's skew-join split for the skew nobody
    predicted. This pins the second layer: a sort-merge join where one key
    holds ~90% of the rows must show `skew=true` in the FINAL adaptive
    plan once the skewed-partition thresholds are in range — proof the
    runtime re-plan actually engages on this build, not just that the
    config exists."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(120_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.lpad(F.col("id").cast("string"), 64, "x").alias("pad"),
        )
        right = spark.range(64).select(
            F.col("id").alias("k"), F.col("id").alias("dim")
        )
        # a GLOBAL aggregate (not groupBy(k)): a downstream consumer that
        # required hashpartitioning(k) would make AQE decline the split
        # (it never introduces an extra shuffle unless forced)
        joined = left.join(right, "k").agg(F.sum(F.length("pad")).alias("b"))
        joined.collect()
        ex = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in ex, f"AQE skew split did not engage:\n{ex[:2000]}"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sequences_shuffle_on_user_id(spark, qs):
    """The three sequence/time-series queries (journey, EWMA, TWA) must key
    every data exchange on user_id — journey aggregates per user, EWMA's
    two windows share the user_id partition, and TWA's (user_id, day)
    window/aggregate key is a user_id-led superset (the first hash key is
    what co-locates against a user_id-bucketed warehouse layout)."""
    import re

    for name in ("ev_journey_pattern", "ev_ewma_last8", "ev_twa_daily"):
        plan = (
            qs[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        )
        parts = re.findall(r"hashpartitioning\(([^,)]+)", plan)
        keys = {p.split("#")[0] for p in parts}
        assert keys <= {"user_id"}, (name, sorted(keys))


def test_journey_md5_pins_independent_recompute(spark, qs):
    """journey_md5 must equal the md5 of the journey rebuilt OUTSIDE the
    aggregate pipeline (plain collect + Python sort on (ts, event_id)) —
    pins that array_sort(struct(ts, event_id, ch)) realizes exactly the
    ORDER BY ts, event_id string assembly, including the tie rule."""
    import hashlib

    from pinterest_data_pipeline218_spark.data import load_table

    rows = (
        load_table(spark, SF, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    uid = rows[0].user_id
    seq = sorted(
        ((r.ts, r.event_id, r.event_type[0]) for r in rows if r.user_id == uid)
    )
    expect = hashlib.md5("".join(ch for _, _, ch in seq).encode()).hexdigest()
    got = (
        qs["ev_journey_pattern"](spark, SF)
        .filter(F.col("user_id") == uid)
        .collect()[0]
    )
    assert got.journey_md5 == expect
    assert got.journey_len == len(seq)


def test_ewma_matches_hand_rollup_and_stays_in_range(spark, qs):
    """EWMA over the trailing 8 events, recomputed by hand from the raw
    rows for every user: integer weights 128..1 newest-to-oldest,
    truncating div — and as a weighted average of observed values it must
    sit inside [min, max] of the user's trailing window."""
    from decimal import Decimal

    from pinterest_data_pipeline218_spark.data import load_table

    rows = (
        load_table(spark, SF, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user = {}
    for r in rows:
        cents = int(
            (Decimal(str(r.value)).quantize(Decimal("0.01"))) * 100
        )
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id, cents))
    expect = {}
    for uid, seq in by_user.items():
        tail = [v for _, _, v in sorted(seq)][-8:]
        num = sum(v * (1 << i) for i, v in enumerate(tail))
        den = sum((1 << i) for i in range(len(tail)))
        expect[uid] = (num // den, min(tail), max(tail))
    got = {r.user_id: r.ewma_centi for r in qs["ev_ewma_last8"](spark, SF).collect()}
    assert set(got) == set(expect)
    for uid, (e, lo, hi) in expect.items():
        assert got[uid] == e, uid
        assert lo <= got[uid] <= hi, uid


def test_ewma_null_guard_load_bearing(spark, qs, tmp_path):
    """The EWMA NULL guards (COALESCE over absent-or-NULL lags, den over
    PRESENT lags only) mirrored into both engines in r8 were untested by
    the driver gate — no fixture row has a NULL events.value (VERDICT r9
    #3; /root/testdata is driver-owned, so the planted rows live in a tmp
    events table here). This is a mini-selfcheck: the Spark query AND the
    DuckDB oracle run on the SAME planted parquet and must agree exactly;
    reverting either engine's guard breaks this test.

    Planted regimes: a dense-tail user with a NULL inside the 8-lag
    horizon, a user whose LAST value is NULL (the k=0 guard), an all-NULL
    user (den=0 -> NULL ewma via the nullif guard), and a short-history
    user with a NULL mid-tail."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod

    rows = []

    def ev(uid, i, val):
        rows.append(
            {
                "event_id": uid * 1000 + i,
                "ts": pd.Timestamp("2023-03-01") + pd.Timedelta(minutes=i),
                "user_id": uid,
                "event_type": "click",
                "value": val,
            }
        )

    for i in range(12):  # user 1: NULL at position 10 (inside the tail)
        ev(1, i, None if i == 10 else float(i + 1))
    for i in range(5):  # user 2: LAST value NULL (k=0 guard)
        ev(2, i, None if i == 4 else float(10 * (i + 1)))
    for i in range(3):  # user 3: all NULL -> den 0 -> ewma NULL
        ev(3, i, None)
    for i in range(4):  # user 4: short history, NULL mid-tail
        ev(4, i, None if i == 1 else 2.5 * (i + 1))
    pdf = pd.DataFrame(rows)
    pdf["props"] = "{}"
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path, index=False)

    got = {
        r.user_id: (r.last_value_centi, r.ewma_centi)
        for r in qs["ev_ewma_last8"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    oracle = {
        int(u): (None if lv is None else int(lv), None if e is None else int(e))
        for u, lv, e in con.sql(
            entrymod.oracle_sql()["ev_ewma_last8"]
        ).fetchall()
    }
    assert got == oracle, (got, oracle)

    # independent hand rollup: weights 128..1 newest->oldest over PRESENT
    # values only
    def hand(vals):
        tail = vals[-8:]
        num = den = 0
        for i, v in enumerate(reversed(tail)):  # i=0 newest
            if v is not None:
                num += int(v * 100) * (128 >> i)
                den += 128 >> i
        return num // den if den else None

    expect = {
        1: (1200, hand([3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, None, 12.0][2:])),
        2: (None, hand([10.0, 20.0, 30.0, 40.0, None])),
        3: (None, None),
        4: (1000, hand([2.5, None, 7.5, 10.0])),
    }
    assert got == expect, (got, expect)


def test_twa_span_runs_first_event_to_midnight(spark, qs):
    """LOCF semantics pinned: per (user, day), span_us must equal (next
    UTC midnight - first event time) — every microsecond from the first
    observation to midnight is held by exactly one value — and a
    single-event day's TWA is exactly that value."""
    got = qs["ev_twa_daily"](spark, SF)
    from pinterest_data_pipeline218_spark.data import load_table

    firsts = (
        load_table(spark, SF, "events")
        .groupBy("user_id", F.to_date("ts").cast("string").alias("day"))
        .agg(F.min(F.unix_micros(F.col("ts"))).alias("first_us"))
        .collect()
    )
    first_map = {(r.user_id, r.day): r.first_us for r in firsts}
    import datetime

    for r in got.collect():
        day0 = datetime.datetime.strptime(r.day, "%Y-%m-%d").replace(
            tzinfo=datetime.timezone.utc
        )
        midnight_us = int(day0.timestamp() * 1_000_000) + 86_400_000_000
        assert r.span_us == midnight_us - first_map[(r.user_id, r.day)], r


def test_extremes_argmax_matches_python_model(spark, qs):
    """max_by/min_by with the total-order key must return exactly the
    Python-model argmax/argmin under (value, event_id) lexicographic
    order — including that the returned event_id belongs to the returned
    extreme value."""
    from decimal import Decimal

    from pinterest_data_pipeline218_spark.data import load_table

    rows = (
        load_table(spark, SF, "events")
        .select("event_type", "event_id", "value")
        .collect()
    )
    by_type = {}
    for r in rows:
        cents = int(Decimal(str(r.value)).quantize(Decimal("0.01")) * 100)
        by_type.setdefault(r.event_type, []).append((cents, r.event_id))
    got = {r.event_type: r for r in qs["ev_extremes_by_type"](spark, SF).collect()}
    assert set(got) == set(by_type)
    for t, vs in by_type.items():
        peak, trough = max(vs), min(vs)
        g = got[t]
        assert (g.peak_centi, g.peak_event_id) == peak
        assert (g.trough_centi, g.trough_event_id) == trough
        assert g.n_events == len(vs)


def test_mad_outliers_match_python_model_and_resist_masking(spark, qs):
    """MAD screen recomputed by hand (statistics.median over the collected
    centi values, integer doubling trick) must match per type; and the
    robustness property MAD exists for must hold on a synthetic series:
    one huge outlier inflates the sigma threshold enough to mask a second,
    smaller outlier, while the MAD flag catches both."""
    import statistics
    from decimal import Decimal

    from pinterest_data_pipeline218_spark.data import load_table

    rows = (
        load_table(spark, SF, "events").select("event_type", "value").collect()
    )
    by_type = {}
    for r in rows:
        cents = int(Decimal(str(r.value)).quantize(Decimal("0.01")) * 100)
        by_type.setdefault(r.event_type, []).append(cents)
    got = {r.event_type: r for r in qs["ev_outliers_mad"](spark, SF).collect()}
    assert set(got) == set(by_type)
    for t, vs in by_type.items():
        med2 = round(statistics.median(vs) * 2)
        devs = [abs(2 * v - med2) for v in vs]
        mad4 = round(statistics.median(devs) * 2)
        n_out = sum(1 for d in devs if 2 * d > 3 * mad4)
        g = got[t]
        assert (g.med2_centi, g.mad4_centi, g.n_outliers, g.n_events) == (
            med2, mad4, n_out, len(vs)
        ), t

    # masking: tight cluster + moderate outlier + extreme outlier
    series = [100] * 50 + [101] * 50 + [300, 100000]
    mu = sum(series) / len(series)
    sd = (sum((x - mu) ** 2 for x in series) / len(series)) ** 0.5
    sigma_flags = sum(1 for x in series if abs(x - mu) > 3 * sd)
    med2 = round(statistics.median(series) * 2)
    mad4 = round(statistics.median([abs(2 * x - med2) for x in series]) * 2)
    mad_flags = sum(1 for x in series if 2 * abs(2 * x - med2) > 3 * mad4)
    assert sigma_flags < 2 <= mad_flags  # sigma masks the 300; MAD doesn't


def test_rolling_7d_users_matches_set_model(spark, qs):
    """Trailing 7-day distinct actives recomputed with plain Python set
    arithmetic over the collected (day, user) pairs — pins both the window
    semantics (day-6 .. day inclusive) and the observed-days-only output."""
    import datetime

    from pinterest_data_pipeline218_spark.data import load_table

    pairs = {
        (r.day, r.user_id)
        for r in load_table(spark, SF, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .collect()
    }
    days = sorted({d for d, _ in pairs})
    expect = {}
    for g in days:
        lo = g - datetime.timedelta(days=6)
        expect[str(g)] = len({u for d, u in pairs if lo <= d <= g})
    got = {r.day: r.users_7d for r in qs["ev_rolling_7d_users"](spark, SF).collect()}
    assert got == expect


def test_copresence_lift_matches_set_model(spark, qs):
    """Association supports and exact milli-lift recomputed with Python
    set arithmetic over independently re-derived session baskets (30-min
    lag gap), including the pair canonicalization a < b and the
    integer-division lift."""
    from pinterest_data_pipeline218_spark.data import load_table

    rows = (
        load_table(spark, SF, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id, r.event_type))
    baskets = []
    for uid, seq in by_user.items():
        seq.sort()
        cur = {seq[0][2]}
        last = seq[0][0]
        for ts, _, t in seq[1:]:
            if (ts - last).total_seconds() > 1800:
                baskets.append(cur)
                cur = set()
            cur.add(t)
            last = ts
        baskets.append(cur)
    n_total = len(baskets)
    types = sorted({t for b in baskets for t in b})
    n1 = {t: sum(1 for b in baskets if t in b) for t in types}
    expect = {}
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            n_ab = sum(1 for b in baskets if ta in b and tb in b)
            if n_ab:
                lift = (1000 * n_ab * n_total) // (n1[ta] * n1[tb])
                expect[(ta, tb)] = (n_ab, n1[ta], n1[tb], n_total, lift)
    got = {
        (r.type_a, r.type_b): (r.n_ab, r.n_a, r.n_b, r.n_sessions, r.lift_milli)
        for r in qs["ev_session_copresence_lift"](spark, SF).collect()
    }
    assert got == expect


def test_relational_division_matches_set_model(spark, qs):
    """Relational division recomputed with Python set arithmetic: exactly
    the users whose type set equals the global type set qualify — and at
    sf0.001 (~7 events/user) that is a PROPER subset, so the filter is
    exercised, not vacuous."""
    from pinterest_data_pipeline218_spark.data import load_table

    rows = (
        load_table(spark, SF, "events").select("user_id", "event_type").collect()
    )
    types_by_user, counts = {}, {}
    all_types = set()
    for r in rows:
        types_by_user.setdefault(r.user_id, set()).add(r.event_type)
        counts[r.user_id] = counts.get(r.user_id, 0) + 1
        all_types.add(r.event_type)
    expect = {
        u: (len(ts), counts[u])
        for u, ts in types_by_user.items()
        if ts == all_types
    }
    got = {
        r.user_id: (r.n_types, r.n_events)
        for r in qs["ev_division_all_types"](spark, SF).collect()
    }
    assert got == expect
    # the filter must BITE on a corpus where coverage is a proper subset:
    # synthetic events dir where user 2 misses 'error'
    import datetime

    import tempfile, os as _os
    rows2 = []
    eid = 0
    for u, types in ((1, ["click", "view", "purchase", "signup", "error"]),
                     (2, ["click", "view", "purchase", "signup"]),
                     (3, ["click"])):
        for k, ty in enumerate(types):
            eid += 1
            rows2.append((eid, datetime.datetime(2026, 3, 1, 9, k), u, ty, 1.0, "{}"))
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(
        rows2,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(_os.path.join(tmp, "events.parquet"))
    small = {r.user_id: r.n_types for r in qs["ev_division_all_types"](spark, tmp).collect()}
    assert small == {1: 5}  # users 2 and 3 are filtered out


def test_lateral_topk_decorrelates_to_window_group_limit(spark, qs):
    """The LATERAL docstring's engine claim, plan-asserted: the correlated
    ORDER BY ... LIMIT 2 must decorrelate into WindowGroupLimit (the
    map-side partial top-k) + a broadcast join — no nested-loop
    re-execution per outer row, no CartesianProduct. And the rows must
    equal the window-rank formulation exactly."""
    from pinterest_data_pipeline218_spark.data import load_table

    df = qs["tpch_lateral_topk"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    import pyspark.sql.functions as SF_
    from pyspark.sql import Window as W_

    c = load_table(spark, SF, "customer")
    n = load_table(spark, SF, "nation")
    w = W_.partitionBy("c_nationkey").orderBy(
        SF_.col("c_acctbal").desc(), "c_custkey"
    )
    want = (
        c.withColumn("rn", SF_.row_number().over(w))
        .filter(SF_.col("rn") <= 2)
        .join(SF_.broadcast(n), SF_.col("c_nationkey") == SF_.col("n_nationkey"))
        .select("n_name", "c_custkey", "c_acctbal")
        .orderBy("n_name", SF_.col("c_acctbal").desc(), "c_custkey")
        .collect()
    )
    assert df.collect() == want


def test_locf_fill_matches_python_model(spark, qs):
    """last_value(IGNORE NULLS) LOCF recomputed by hand: replay every
    user's ordered stream carrying the latest click reading forward, and
    compare all four rollup cells per type — including that rows BEFORE a
    user's first click stay unfilled."""
    import json as _json

    from pinterest_data_pipeline218_spark.data import load_table

    rows = (
        load_table(spark, SF, "events")
        .select("user_id", "ts", "event_id", "event_type", "props")
        .collect()
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    agg = {}
    for seq in by_user.values():
        carry = None
        for r in sorted(seq, key=lambda x: (x.ts, x.event_id)):
            obs = None
            if r.event_type == "click":
                try:
                    obs = int(_json.loads(r.props)["k"])
                except Exception:
                    obs = None
            if obs is not None:
                carry = obs
            a = agg.setdefault(r.event_type, [0, 0, 0, 0])
            a[0] += 1
            if obs is not None:
                a[1] += 1
            if obs is None and carry is not None:
                a[2] += 1
            if carry is not None:
                a[3] += carry
    got = {
        r.event_type: [r.n_rows, r.n_observed, r.n_filled, r.sum_filled]
        for r in qs["ev_locf_fill"](spark, SF).collect()
    }
    assert got == agg
    # the fill must genuinely bite AND leave pre-first-click rows null
    assert any(a[2] > 0 for a in agg.values())
    assert sum(a[0] for a in agg.values()) > sum(a[1] + a[2] for a in agg.values())


def test_attribution_multitouch_matches_python_model(spark):
    """ev_attribution_multitouch (r12, gates r13) against an independent
    Python replay of the interval join + all three credit models, incl.
    the integer remainder rule (per-conversion credit sums to exactly
    10000 bp, remainder to the LAST touch)."""
    from pinterest_data_pipeline218_spark.data import load_table
    from pinterest_data_pipeline218_spark.operators.asof import _epoch_us
    from pinterest_data_pipeline218_spark.plans.sequences import (
        ATTR_CREDIT_BP,
        ATTR_LOOKBACK_DAYS,
        ATTR_TOUCH_TYPES,
        DAY_US,
        ev_attribution_multitouch,
    )

    ev = load_table(spark, SF, "events")
    rows = ev.select(
        "event_type", "user_id", "event_id", _epoch_us(ev, "ts").alias("us")
    ).collect()
    purchases = [(r.user_id, r.event_id, r.us) for r in rows if r.event_type == "purchase"]
    touches = [
        (r.user_id, r.event_type, r.event_id, r.us)
        for r in rows
        if r.event_type in ATTR_TOUCH_TYPES
    ]
    model = {}
    total_credit = 0
    n_credited_conversions = 0
    for u, p_id, p_us in purchases:
        window = sorted(
            (t_us, t_id, ty)
            for (tu, ty, t_id, t_us) in touches
            if tu == u and p_us - ATTR_LOOKBACK_DAYS * DAY_US <= t_us < p_us
        )
        n = len(window)
        if not n:
            continue
        n_credited_conversions += 1
        for i, (t_us, t_id, ty) in enumerate(window):
            rn = i + 1
            credit = ATTR_CREDIT_BP // n + (ATTR_CREDIT_BP % n if rn == n else 0)
            total_credit += credit
            cur = model.get(ty, [0, 0, 0, 0])
            cur[0] += 1
            cur[1] += rn == 1
            cur[2] += rn == n
            cur[3] += credit
            model[ty] = cur
    # the remainder rule conserves credit exactly
    assert total_credit == n_credited_conversions * ATTR_CREDIT_BP

    got = {
        r.touch_type: [r.n_touches, r.n_first_touch, r.n_last_touch, r.linear_credit_bp]
        for r in ev_attribution_multitouch(spark, SF).collect()
    }
    assert got == model
    assert set(got) == set(ATTR_TOUCH_TYPES)  # both channels active at SF


def test_attribution_oracle_agrees_cross_engine(spark):
    """The staged DuckDB oracle (the NAIVE theta-join replay that
    value-verifies the bucketized rewrite) already meets selfcheck's bar
    against the Spark plan."""
    import duckdb

    from pinterest_data_pipeline218_spark.plans.sequences import (
        _attribution_sql,
        ev_attribution_multitouch,
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    want = [tuple(map(lambda x: x if isinstance(x, str) else int(x), row))
            for row in con.sql(_attribution_sql()).fetchall()]
    got = [
        (r.touch_type, r.n_touches, r.n_first_touch, r.n_last_touch, r.linear_credit_bp)
        for r in ev_attribution_multitouch(spark, SF).collect()
    ]
    assert got == want and len(got) > 0


def test_cusum_closed_form_matches_recursion_and_flags_planted_shift(spark):
    """cusum_daily (staged r13, gates r14): (a) the cumulative-window
    closed form S_t = cum_t - min(cum) equals the textbook recursion
    S_t = max(0, S_{t-1} + dev_t) computed independently in Python over
    the same daily series; (b) a PLANTED sustained level shift (daily
    totals 100 -> 180 cents halfway) flags BOTH regimes against the
    series mean — 'down' days in the low first half, 'up' days after the
    step (the two-sided monitor sees a step as two sustained deviations)
    — while a stationary series flags nothing."""
    import datetime

    from pinterest_data_pipeline218_spark.plans.events import cusum_daily

    base_day = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # shifted type: 20 days at 1.00/day, then 20 days at 1.80/day
    for d in range(40):
        val = 1.0 if d < 20 else 1.8
        rows.append((eid, base_day + datetime.timedelta(days=d), 1, "shift", val, "{}"))
        eid += 1
    # stationary type: 40 days alternating 0.99 / 1.01 (mean 1.00)
    for d in range(40):
        val = 0.99 if d % 2 == 0 else 1.01
        rows.append((eid, base_day + datetime.timedelta(days=d), 1, "flat", val, "{}"))
        eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = cusum_daily(ev).collect()
    flagged = {(r.event_type, r.day): r for r in got}
    assert all(t == "shift" for t, _ in flagged), flagged
    ups = [r for r in got if r.direction in ("up", "both")]
    downs = [r for r in got if r.direction in ("down", "both")]
    assert ups and downs
    assert all(r.day >= "2024-01-21" for r in ups)  # up only after the step
    assert min(r.day for r in downs) <= "2024-01-20"  # down starts early;
    # the down statistic legitimately LINGERS past the step (CUSUM decays
    # at the post-step deviation rate) — the recursion replay below is
    # the exact spec for every flagged day

    # independent recursion replay on the shifted series
    def day_str(d):
        return f"2024-01-{d + 1:02d}" if d < 31 else f"2024-02-{d - 30:02d}"

    daily = [100 if d < 20 else 180 for d in range(40)]
    target = sum(daily) // 40
    h = target  # CUSUM_H_PCT = 100
    s_up, s_dn, want = 0, 0, {}
    for d, x in enumerate(daily):
        s_up = max(0, s_up + (x - target))
        s_dn = max(0, s_dn + (target - x))
        if s_up > h or s_dn > h:
            direction = (
                "both" if s_up > h and s_dn > h else "up" if s_up > h else "down"
            )
            want[day_str(d)] = (s_up, s_dn, direction)
    assert {
        r.day: (r.s_up, r.s_dn, r.direction) for r in got
    } == want and len(want) > 0


def test_changepoint_oracle_agrees_cross_engine(spark):
    """The staged DuckDB oracle already meets selfcheck's bar against the
    Spark plan on the real events table."""
    import duckdb

    from pinterest_data_pipeline218_spark.plans.events import (
        _changepoint_sql,
        ev_changepoint_cusum,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    want = [tuple(r) for r in con.sql(_changepoint_sql()).fetchall()]
    got = [
        (r.event_type, r.day, r.v_cents, r.s_up, r.s_dn, r.direction)
        for r in ev_changepoint_cusum(spark, sf).collect()
    ]
    assert got == [
        (t, d, int(v), int(u), int(n), dr) for t, d, v, u, n, dr in want
    ]
    assert len(got) > 0


def test_cusum_negative_values_agree_cross_engine(spark, tmp_path):
    """ADVICE r13: on a corpus with NET-NEGATIVE days (refund-heavy
    types), target and h go negative and the division semantics of the
    two engines must still coincide. They do — Spark's `div` truncates
    and DuckDB's integer `//` (BIGINT/HUGEINT operands, as in the
    oracle's SUM) also truncates toward zero; `//` floors only after a
    DOUBLE promotion, which the oracle never performs. This pins that
    fact end-to-end on a planted negative corpus instead of relying on a
    non-negativity data contract."""
    import duckdb

    from pinterest_data_pipeline218_spark.plans.events import (
        _changepoint_sql,
        ev_changepoint_cusum,
    )

    rows = []
    eid = 0
    # type 'refund': all-negative values with a sustained downward step;
    # type 'mixed': sign-alternating with a net-negative target
    for d in range(12):
        v = -5.00 if d < 6 else -13.00
        rows.append(("refund", 7, f"2024-03-{d + 1:02d} 09:00:00", "{}", v, eid))
        eid += 1
    for d in range(12):
        v = 3.00 if d % 2 == 0 else -8.00
        rows.append(("mixed", 8, f"2024-03-{d + 1:02d} 10:00:00", "{}", v, eid))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_type string, user_id long, ts string, props string, "
        "value double, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.sql(_changepoint_sql()).fetchall()]
    got = [
        (r.event_type, r.day, r.v_cents, r.s_up, r.s_dn, r.direction)
        for r in ev_changepoint_cusum(spark, str(tmp_path)).collect()
    ]
    assert got == [
        (t, d, int(v), int(u), int(n), dr) for t, d, v, u, n, dr in want
    ]
    # the planted negative corpus actually exercises the negative-target
    # branch and flags days (an empty agreement would prove nothing)
    assert len(got) > 0


def test_seasonal_backtest_matches_model_and_oracle(spark, tmp_path):
    """ev_seasonal_backtest (staged r14, gates r15): (a) a PLANTED
    perfectly weekly series must score sae_seasonal = 0 and mase = 0
    while a planted random-walk-ish type scores mase near 1 (computed
    exactly by a python replay); (b) bitwise oracle agreement on the
    real dev events table."""
    import datetime
    import duckdb

    from pinterest_data_pipeline218_spark.plans.events import (
        SEASONAL_LAG_DAYS,
        _seasonal_backtest_sql,
        ev_seasonal_backtest,
    )

    base = datetime.datetime(2024, 4, 1, 9, 0, 0)
    weekly = [3.0, 7.0, 5.0, 9.0, 2.0, 4.0, 6.0]  # period-7 pattern
    drift = [1.0, 5.0, 2.0, 9.0, 3.0, 8.0, 4.0, 7.0, 2.0, 6.0,
             1.0, 9.0, 5.0, 3.0, 8.0, 2.0, 7.0, 4.0, 6.0, 1.0, 5.0]
    rows, eid = [], 0
    for d in range(21):
        rows.append(("weekly", 1, base + datetime.timedelta(days=d), "{}",
                     weekly[d % 7], eid)); eid += 1
        rows.append(("drift", 1, base + datetime.timedelta(days=d), "{}",
                     drift[d], eid)); eid += 1
    spark.createDataFrame(
        rows,
        "event_type string, user_id long, ts timestamp, props string, "
        "value double, event_id long",
    ).write.parquet(str(tmp_path / "events.parquet"))

    def replay(series):
        cents = [int(v * 100) for v in series]
        idx = range(SEASONAL_LAG_DAYS, len(cents))
        sae7 = sum(abs(cents[d] - cents[d - SEASONAL_LAG_DAYS]) for d in idx)
        sae1 = sum(abs(cents[d] - cents[d - 1]) for d in idx)
        return (len(list(idx)), sae7, sae1, sae7 / sae1)

    got = {r.event_type: tuple(r)[1:] for r in
           ev_seasonal_backtest(spark, str(tmp_path)).collect()}
    assert got == {"weekly": replay([weekly[d % 7] for d in range(21)]),
                   "drift": replay(drift)}
    assert got["weekly"][1] == 0 and got["weekly"][3] == 0.0
    assert got["drift"][3] > 0.5  # no weekly structure planted

    got_real = [tuple(r) for r in ev_seasonal_backtest(spark, SF).collect()]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')"
    )
    want = [(t, int(n), int(a), int(b), float(m))
            for t, n, a, b, m in con.sql(_seasonal_backtest_sql()).fetchall()]
    assert got_real == want and len(got_real) > 0


def test_did_lift_matches_model_and_oracle(spark, tmp_path):
    """ev_did_lift (staged r15, gates r16): (a) a PLANTED intervention —
    everyone earns 10.00 pre-boundary, post-boundary the treatment arm
    (replayed driver-side from the same md5 hash) jumps to 12.50 while
    control holds at 10.00, with a shared +1.00 secular drift on BOTH
    arms that DiD must cancel — yields exactly the planted +2.50 effect
    (250 centi = 250000 milli-centi), NOT the naive post-mean gap; (b)
    bitwise oracle agreement on the real dev events table."""
    import datetime
    import hashlib

    import duckdb

    from pinterest_data_pipeline218_spark.plans.experiments import (
        _did_sql,
        ev_did_lift,
    )

    def treated(uid):  # seed-2 token_hash split, replayed driver-side
        return int(hashlib.md5(f"2:{uid}".encode()).hexdigest()[:15], 16) % 2 < 1

    base = datetime.datetime(2024, 4, 1, 0, 0, 0)
    rows, eid = [], 0
    users = list(range(1, 21))
    for uid in users:
        # pre period: days 0..3; post: days 6..9 (boundary = midpoint)
        for d in range(4):
            rows.append(("click", uid, base + datetime.timedelta(days=d),
                         "{}", 10.0, eid)); eid += 1
        for d in range(6, 10):
            post_v = (12.5 if treated(uid) else 10.0) + 1.0  # shared drift
            rows.append(("click", uid, base + datetime.timedelta(days=d),
                         "{}", post_v, eid)); eid += 1
    spark.createDataFrame(
        rows,
        "event_type string, user_id long, ts timestamp, props string, "
        "value double, event_id long",
    ).write.parquet(str(tmp_path / "events.parquet"))

    n_treat = sum(1 for u in users if treated(u))
    n_ctrl = len(users) - n_treat
    assert 0 < n_treat < len(users)  # both arms populated
    got = [tuple(r) for r in ev_did_lift(spark, str(tmp_path)).collect()]
    assert got == [(
        "ab_50_50",
        4 * n_ctrl, 4 * n_ctrl * 1000,       # pre ctrl: 10.00 each
        4 * n_treat, 4 * n_treat * 1000,     # pre treat: 10.00 each
        4 * n_ctrl, 4 * n_ctrl * 1100,       # post ctrl: 11.00 (drift only)
        4 * n_treat, 4 * n_treat * 1350,     # post treat: 13.50
        250000,                              # DiD: +3.50 − 1.00 = +2.50
    )]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.sql(_did_sql()).fetchall()]
    assert got == [
        (e, *map(int, cells), int(d)) for e, *cells, d in want
    ]

    got_real = [tuple(r) for r in ev_did_lift(spark, SF).collect()]
    con2 = duckdb.connect()
    con2.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')"
    )
    want_real = [
        (e, *map(int, cells), int(d))
        for e, *cells, d in con2.sql(_did_sql()).fetchall()
    ]
    assert got_real == want_real and len(got_real) == 1


def _cuped_fixture(spark, path, arm_means, effect_dollars):
    """Events fixture for the CUPED tests: one pre event (day 0) worth
    x dollars and one post event (day 6) worth 2x + effect·treated per
    user, with each arm's x values SYMMETRIC around that arm's mean so
    per-arm covariate means are exact integers. Returns
    (n_treat, n_ctrl)."""
    import datetime
    import hashlib

    def treated(uid):  # seed-2 token_hash split, replayed driver-side
        return int(hashlib.md5(f"2:{uid}".encode()).hexdigest()[:15], 16) % 2 < 1

    def sym_offsets(k):
        offs = []
        for i in range(k // 2):
            offs += [100 * (i + 1), -100 * (i + 1)]
        if k % 2:
            offs.append(0)
        return offs

    users = list(range(1, 21))
    arms = {True: [u for u in users if treated(u)],
            False: [u for u in users if not treated(u)]}
    assert arms[True] and arms[False]
    base = datetime.datetime(2024, 4, 1, 0, 0, 0)
    rows, eid = [], 0
    for t, arm in arms.items():
        for uid, off in zip(arm, sym_offsets(len(arm))):
            x = arm_means[t] + off  # whole dollars: centi stay exact
            y = 2 * x + (effect_dollars if t else 0.0)
            rows.append(("click", uid, base, "{}", float(x), eid)); eid += 1
            rows.append(("click", uid, base + datetime.timedelta(days=6),
                         "{}", float(y), eid)); eid += 1
    spark.createDataFrame(
        rows,
        "event_type string, user_id long, ts timestamp, props string, "
        "value double, event_id long",
    ).write.parquet(f"{path}/events.parquet")
    return len(arms[True]), len(arms[False])


def test_cuped_adjust_matches_model_and_oracle(spark, tmp_path):
    """ev_cuped_adjust (staged r15, gates r16): (a) BALANCED covariate
    fixture — y = 2x + 1.28·treated with per-arm x means equal, so
    num = 2·den in exact integers and theta_d is EXACTLY 2.0 (num/den
    doubles: doubling commutes with rounding), the planted +1.28 effect
    is read identically raw and adjusted, and the variance shrink
    replays bitwise in Python over the exact integer moments; (b)
    bitwise oracle agreement on both planted fixtures AND the real dev
    events table."""
    import duckdb

    from pinterest_data_pipeline218_spark.plans.experiments import (
        _cuped_sql,
        ev_cuped_adjust,
    )

    def norm(rows):
        return [tuple(int(v) if not isinstance(v, str) else v for v in r)
                for r in rows]

    n_t, n_c = _cuped_fixture(
        spark, str(tmp_path / "bal"), {True: 1000, False: 1000}, 1.28
    )
    got = [tuple(r) for r in
           ev_cuped_adjust(spark, str(tmp_path / "bal")).collect()]
    # python replay of var_reduction over exact integer moments: each
    # arm's x multiset is 1000±100i dollars around the shared mean
    offs_t = [100 * (i + 1) for i in range((n_t // 2))] * 2 + (
        [0] if n_t % 2 else [])
    offs_c = [100 * (i + 1) for i in range((n_c // 2))] * 2 + (
        [0] if n_c % 2 else [])
    n = n_t + n_c
    sq = sum(o * o * 100 * 100 for o in offs_t + offs_c)  # Σ(x−c)² centi²
    den = n * sq  # n·Σx² − (Σx)² with common mean c cancels to n·Σ(x−c)²
    deny = 4 * den + 128 * 128 * n_t * n_c
    vr = int((1000000.0 * 2.0 * 2.0 * float(den)) / float(deny) // 1)
    assert got == [("ab_50_50", n, n_t, n_c, 2000, 128000, 128000, vr)]

    # (b) IMBALANCED covariate, NO effect: raw lift reads a $200 false
    # positive from the arm imbalance; CUPED cancels it EXACTLY
    _cuped_fixture(spark, str(tmp_path / "imb"), {True: 1100, False: 1000}, 0.0)
    got2 = [tuple(r) for r in
            ev_cuped_adjust(spark, str(tmp_path / "imb")).collect()]
    assert got2 == [("ab_50_50", n, n_t, n_c, 2000, 20000000, 0, 1000000)]

    for sub in ("bal", "imb"):
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{sub}/events.parquet/*.parquet')"
        )
        want = norm(con.sql(_cuped_sql()).fetchall())
        have = got if sub == "bal" else got2
        assert have == want

    got_real = [tuple(r) for r in ev_cuped_adjust(spark, SF).collect()]
    con2 = duckdb.connect()
    con2.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')"
    )
    want_real = norm(con2.sql(_cuped_sql()).fetchall())
    assert got_real == want_real and len(got_real) == 1


def test_cuped_degenerate_regimes_propagate_null(spark, tmp_path):
    """ev_cuped_adjust degenerate regimes: a ZERO-VARIANCE covariate
    (every user identical pre-period → den = 0) must yield NULL theta /
    adjusted lift / variance shrink in BOTH engines (the nullif
    discipline — never a divide-by-zero error, never a fabricated 0),
    while the raw lift still reads; and a fixture whose users all hash
    into ONE arm must NULL the lifts on the empty-arm quotient. Bitwise
    oracle agreement in both regimes."""
    import datetime
    import hashlib

    import duckdb

    from pinterest_data_pipeline218_spark.plans.experiments import (
        _cuped_sql,
        ev_cuped_adjust,
    )

    def treated(uid):
        return int(hashlib.md5(f"2:{uid}".encode()).hexdigest()[:15], 16) % 2 < 1

    base = datetime.datetime(2024, 4, 1)
    schema = (
        "event_type string, user_id long, ts timestamp, props string, "
        "value double, event_id long"
    )

    # (a) zero-variance covariate: everyone earns exactly 10.00 pre
    rows, eid = [], 0
    for uid in range(1, 11):
        rows.append(("c", uid, base, "{}", 10.0, eid)); eid += 1
        rows.append(("c", uid, base + datetime.timedelta(days=6), "{}",
                     12.0 if treated(uid) else 11.0, eid)); eid += 1
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "zv" / "events.parquet")
    )
    got = [tuple(r) for r in
           ev_cuped_adjust(spark, str(tmp_path / "zv")).collect()]
    (_, n_users, n_t, n_c, theta, lift_raw, lift_adj, vr), = got
    assert theta is None and lift_adj is None and vr is None
    assert lift_raw is not None and n_users == 10 and n_t + n_c == 10

    # (b) single-arm population: pick only users the hash puts in TREAT
    treat_uids = [u for u in range(1, 200) if treated(u)][:6]
    rows, eid = [], 0
    for uid in treat_uids:
        rows.append(("c", uid, base, "{}", float(uid), eid)); eid += 1
        rows.append(("c", uid, base + datetime.timedelta(days=6), "{}",
                     float(2 * uid), eid)); eid += 1
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "one" / "events.parquet")
    )
    got1 = [tuple(r) for r in
            ev_cuped_adjust(spark, str(tmp_path / "one")).collect()]
    (_, n_users1, n_t1, n_c1, theta1, lr1, la1, vr1), = got1
    assert n_c1 == 0 and n_t1 == n_users1 == len(treat_uids)
    assert lr1 is None and la1 is None  # empty-arm quotient NULLs
    assert theta1 is not None  # pooled theta needs no arm split

    for sub, have in (("zv", got), ("one", got1)):
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{sub}/events.parquet/*.parquet')"
        )
        want = [
            tuple(int(v) if v is not None and not isinstance(v, str) else v
                  for v in r)
            for r in con.sql(_cuped_sql()).fetchall()
        ]
        assert have == want, sub


def test_srm_oracle_agrees_cross_engine(spark):
    """ev_srm_check (staged r13, gates r14): cross-engine oracle
    agreement on the real events table; the deterministic hash splits
    are balanced by construction, so both designs report clean."""
    import duckdb

    from pinterest_data_pipeline218_spark.plans.experiments import (
        _srm_sql,
        ev_srm_check,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    want = [
        (e, int(t), int(n), int(a), int(b), bool(f))
        for e, t, n, a, b, f in con.sql(_srm_sql()).fetchall()
    ]
    got = [
        (r.experiment, r.n_treatment, r.n_total, r.intended_num,
         r.intended_den, r.srm_flag)
        for r in ev_srm_check(spark, sf).collect()
    ]
    assert got == want and len(got) == 2
    assert not any(f for *_, f in got)  # hash splits are balanced


def test_srm_flags_planted_skew(spark):
    """The violation path (the reason SRM exists): a user population
    whose ids are engineered so the 50/50 hash split lands far from
    50/50 must flag — select 400 users whose hash is even-arm plus only
    40 odd-arm, an 8.2-sigma mismatch; and a balanced population of the
    same size must NOT flag. Cross-checked against scipy-free hand
    chi-square arithmetic."""
    import pyspark.sql.functions as F

    from pinterest_data_pipeline218_spark.functions import text as T
    from pinterest_data_pipeline218_spark.plans.experiments import (
        SRM_CHI2_X1000,
        srm_check,
    )

    # classify candidate ids by the seed-2 hash arm, driver-side via the
    # engine itself (no reimplementation drift)
    cand = spark.range(0, 3000).select(
        F.col("id").cast("long").alias("user_id"),
        F.pmod(
            T.token_hash(F.col("id").cast("string"), seed=2), F.lit(2)
        ).alias("arm2"),
    )
    rows = cand.collect()
    arm0 = [r.user_id for r in rows if r.arm2 == 0]
    arm1 = [r.user_id for r in rows if r.arm2 == 1]
    skewed = arm0[:400] + arm1[:40]
    users = spark.createDataFrame([(u,) for u in skewed], "user_id long")
    got = {
        r.experiment: r for r in srm_check(users).collect()
    }
    r = got["ab_50_50"]
    assert (r.n_treatment, r.n_total) in {(400, 440), (40, 440)}
    # hand chi-square: (2*nt - N)^2 * 1000 vs 10828 * N
    lhs = (2 * r.n_treatment - r.n_total) ** 2 * 1000
    assert (lhs > SRM_CHI2_X1000 * r.n_total) == r.srm_flag is True

    balanced = spark.createDataFrame(
        [(u,) for u in arm0[:220] + arm1[:220]], "user_id long"
    )
    got_b = {r.experiment: r for r in srm_check(balanced).collect()}
    assert got_b["ab_50_50"].srm_flag is False
