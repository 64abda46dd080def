"""Relational surface (P1–P4, A1–A3, O1–O3) + plan-quality assertions."""

from pyspark.sql import functions as F

from auto_vectordb_spark.operators import relational as R


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_filter_eq_and_pushdown(spark, sf_dir):
    df = R.filter_eq(_docs(spark, sf_dir), "source", "src7")
    assert df.count() > 0
    assert all(r["source"] == "src7" for r in df.collect())
    # the equality predicate must reach the parquet scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "src7" in plan


def test_projection_prunes_scan(spark, sf_dir):
    df = R.project(_docs(spark, sf_dir), ["doc_id", "lang"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema  # big column pruned


def test_distinct_and_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    langs = {r["lang"] for r in R.distinct_values(docs, "lang").collect()}
    assert langs == {"en", "de", "fr", "es", "zh"}
    assert R.count_rows(docs) == 500


def test_delete_by_ids_and_df(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = R.delete_by_ids(docs, "doc_id", [0, 1, 2])
    assert out.count() == 497
    ids = spark.createDataFrame([(0,), (1,), (2,)], ["doc_id"])
    out2 = R.delete_by_df(docs, ids, "doc_id")
    assert out2.count() == 497


def test_sort_limit_uses_take_ordered(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = R.sort_limit(orders, "o_orderkey", 5)
    rows = df.collect()
    assert [r["o_orderkey"] for r in rows] == sorted(r["o_orderkey"] for r in rows)
    assert len(rows) == 5
    # ORDER BY + LIMIT must plan TakeOrderedAndProject, not a global sort
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_top_k_per_group_ties(spark):
    df = spark.createDataFrame(
        [("g", 1, 1.0), ("g", 2, 1.0), ("g", 3, 0.5), ("h", 9, 2.0)],
        ["grp", "id", "score"],
    )
    out = R.top_k_per_group(df, ["grp"], "score", 1, tie_break="id").collect()
    got = {r["grp"]: r["id"] for r in out}
    assert got == {"g": 1, "h": 9}  # tie broken by id asc


def test_idempotent_dedup(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], ["id", "v"])
    assert R.idempotent_dedup(df, "id").count() == 2


def test_broadcast_join_planned(spark, sf_dir):
    """Small dim joins must go broadcast (no shuffle of the fact side)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_semi_anti_join_plans(spark, sf_dir):
    """q4/anti entries must plan hash SEMI/ANTI joins, not inner+distinct."""
    from auto_vectordb_spark.plans.parity import REGISTRY

    semi = REGISTRY["q4_semi_join"].spark(spark, sf_dir)
    plan = semi._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    anti = REGISTRY["anti_join_customers"].spark(spark, sf_dir)
    plan = anti._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


def test_q6_pushes_filters_to_scan(spark, sf_dir):
    from auto_vectordb_spark.plans.parity import REGISTRY

    df = REGISTRY["q6_revenue_filter"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_window_running_revenue_single_shuffle(spark, sf_dir):
    """All three window frames share one partitioning — exactly one exchange."""
    from auto_vectordb_spark.plans.parity import REGISTRY

    df = REGISTRY["window_running_revenue"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1


def test_minhash_signatures_single_shuffle(spark, sf_dir):
    """The groupBy's doc_id exchange must be the only KEYED exchange, with
    the md5 projection and the per-batch Arrow fold (MapInArrow) below
    it: md5 runs once per shingle and the shuffle carries one partial
    signature row per doc per map partition. One round-robin fan-out of
    the under-parallelized fixture scan (dedup.fan_out_small_scan) is
    allowed below it — and is absent when the scan already
    parallelizes."""
    from auto_vectordb_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = DD.minhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
    assert plan.count("Exchange RoundRobinPartitioning") <= 1
    assert plan.count("Exchange") == plan.count(
        "Exchange hashpartitioning(doc_id"
    ) + plan.count("Exchange RoundRobinPartitioning")
    # the 60-bit hash is computed below the doc_id exchange, once — not
    # inside the aggregates
    below_exchange = plan.split("Exchange hashpartitioning(doc_id")[1]
    assert "md5" in below_exchange
    assert "MapInArrow" in below_exchange
    # a pre-parallelized input gets NO fan-out exchange; repartition to the
    # session's own parallelism so fan_out_small_scan's threshold (a
    # defaultParallelism multiple) is met on any host core count
    wide = docs.repartition(max(64, spark.sparkContext.defaultParallelism))
    plan2 = DD.minhash_signatures(wide)._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Exchange RoundRobinPartitioning") == 1  # only the explicit one above


def test_asof_join_semantics(spark):
    from auto_vectordb_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, 10, "p1"), (1, 5, "p2"), (2, 7, "p3")], ["u", "ts", "oid"])
    right = spark.createDataFrame([(1, 3, 100.0), (1, 10, 200.0), (2, 9, 300.0)], ["u", "ts", "v"])
    out = {r["oid"]: (r["asof_ts"], r["asof_v"]) for r in
           asof_join(left, right, "u", right_value_cols=["ts", "v"]).collect()}
    assert out == {"p1": (10, 200.0), "p2": (3, 100.0), "p3": (None, None)}


def test_asof_join_single_shuffle(spark, sf_dir):
    from auto_vectordb_spark.operators.relational import asof_join
    from auto_vectordb_spark.plans.parity import load_views

    t = load_views(spark, sf_dir)
    ev = t["events"]
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join(left, right, "user_id", right_value_cols=["value"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(__k") == 1


def test_time_range_join_matches_bruteforce(spark):
    import itertools
    import random

    from auto_vectordb_spark.operators.relational import time_range_join

    rng = random.Random(7)
    rows = [(rng.randrange(3), i, rng.randrange(0, 1000)) for i in range(120)]
    df = spark.createDataFrame(rows, ["k", "rid", "ts"])
    tol = 50
    got = {
        (r["rid"], r["rid_r"])
        for r in time_range_join(df, df, "k", tol).collect()
    }
    brute = {
        (a[1], b[1])
        for a, b in itertools.product(rows, rows)
        if a[0] == b[0] and abs(a[2] - b[2]) <= tol
    }
    assert got == brute


def test_time_range_join_is_equi_not_nested_loop(spark):
    from auto_vectordb_spark.operators.relational import time_range_join

    df = spark.createDataFrame([(1, 1, 10)], ["k", "rid", "ts"])
    plan = time_range_join(df, df, "k", 5)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_approx_distinct_error_bound(spark, sf_dir):
    from auto_vectordb_spark.plans.parity import REGISTRY, load_views

    t = load_views(spark, sf_dir)
    approx = {
        r["event_type"]: r["approx_users"]
        for r in REGISTRY["approx_distinct_users"].spark(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["exact"]
        for r in t["events"]
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    for et, ex in exact.items():
        assert abs(approx[et] - ex) / ex <= 0.05, (et, approx[et], ex)


def test_q2_decorrelated_no_extra_shuffle(spark, sf_dir):
    """Q2 shape: the per-part min must come from ONE rank window reusing the
    groupBy's partitioning — not a re-join of lineitem against itself."""
    from auto_vectordb_spark.plans.parity import REGISTRY

    df = REGISTRY["q2_cheapest_supplier"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # lineitem is scanned exactly once (no self-join decorrelation blowup)
    assert plan.count("lineitem.parquet") == 1


def test_q20_plans_semi_join(spark, sf_dir):
    from auto_vectordb_spark.plans.parity import REGISTRY

    df = REGISTRY["q20_heavy_suppliers"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_q18_take_ordered(spark, sf_dir):
    from auto_vectordb_spark.plans.parity import REGISTRY

    df = REGISTRY["q18_large_orders"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_q7_broadcasts_all_dims(spark, sf_dir):
    """Q7: supplier + both nation joins broadcast; only orders/customer may
    shuffle (fact-to-fact)."""
    from auto_vectordb_spark.plans.parity import REGISTRY

    df = REGISTRY["q7_bination_volume"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3


def test_events_user_gaps_single_shuffle(spark, sf_dir):
    """Window lag + groupBy share the user_id partitioning — one exchange."""
    from auto_vectordb_spark.plans.parity import REGISTRY

    df = REGISTRY["events_user_gaps"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_stratified_sample_nested_and_deterministic(spark, sf_dir):
    """Halving a stratum's rate must select a SUBSET of the higher-rate
    sample (hash-threshold nesting), and reruns are identical."""
    from auto_vectordb_spark.operators.relational import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hi = stratified_sample(docs, "lang", {"en": 0.5}, "doc_id")
    lo = stratified_sample(docs, "lang", {"en": 0.25}, "doc_id")
    hi_ids = {r["doc_id"] for r in hi.collect()}
    lo_ids = {r["doc_id"] for r in lo.collect()}
    assert lo_ids <= hi_ids and 0 < len(lo_ids) < len(hi_ids)
    again = {r["doc_id"] for r in stratified_sample(docs, "lang", {"en": 0.5}, "doc_id").collect()}
    assert again == hi_ids


def test_q21_semi_anti_no_nested_loop(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS must plan as hash semi/anti joins with the
    inequality as residual — never BroadcastNestedLoopJoin."""
    from auto_vectordb_spark.plans.parity import REGISTRY

    df = REGISTRY["q21_waiting_suppliers"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_wau_hll_tracks_exact_within_2pct(spark, sf_dir):
    """The mergeable-sketch WAU must stay within 2% of the exact rolling
    distinct count on every day (HLL lgConfigK=14 keeps relative error
    ~0.8% at these cardinalities)."""
    from auto_vectordb_spark.plans.parity import REGISTRY

    exact = {
        r["day"]: r["wau"]
        for r in REGISTRY["events_dau_wau"].spark(spark, sf_dir).collect()
    }
    approx = {
        r["day"]: r["wau_approx"]
        for r in REGISTRY["events_wau_hll"].spark(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact) and len(exact) > 0
    for day, ex in exact.items():
        assert abs(approx[day] - ex) / ex < 0.02, (day, approx[day], ex)
