"""Group P: pipeline fit/transform contract — persistence round-trip,
unfitted-transform error, pyspark.ml interop (SURVEY §3.2)."""

import os
import tempfile

import pytest

from pyspark.sql import functions as F

from dask_pipes_spark.pipeline import (
    CategoryEncoder,
    NumericImputer,
    Pipeline,
    StandardScaler,
)
from tests.conftest import SF_SMOKE


def _pipe():
    return Pipeline(
        [
            NumericImputer(["c_acctbal"], name="impute"),
            StandardScaler(["c_acctbal"], name="scale"),
            CategoryEncoder("c_mktsegment", name="encode"),
        ]
    )


def test_fit_transform_and_persist_roundtrip(spark):
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    pipe = _pipe()
    out1 = pipe.fit_transform(cust).select("c_custkey", "c_acctbal_z", "c_mktsegment_code")

    path = os.path.join(tempfile.gettempdir(), "dps_pipe_params.json")
    pipe.save(path)
    pipe2 = _pipe().load(path)
    out2 = pipe2.transform(cust).select("c_custkey", "c_acctbal_z", "c_mktsegment_code")

    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))
    assert pipe2.params_["scale"]["c_acctbal"] == pipe.params_["scale"]["c_acctbal"]


def test_transform_before_fit_raises(spark):
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    with pytest.raises(RuntimeError, match="not fitted"):
        _pipe().transform(cust)


def test_duplicate_node_names_rejected():
    with pytest.raises(ValueError, match="duplicate"):
        Pipeline([StandardScaler(["x"], name="a"), CategoryEncoder("y", name="a")])


def test_spark_ml_interop(spark):
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    pipe = _pipe()
    pipe.fit_transform(cust)
    wrapped = pipe.to_spark_ml()
    out = wrapped.transform(cust)
    assert "c_acctbal_z" in out.columns
    assert out.count() == cust.count()


def test_encoder_unseen_value_maps_to_minus_one(spark):
    enc = CategoryEncoder("seg", name="e")
    train = spark.createDataFrame([("A",), ("B",)], ["seg"])
    test = spark.createDataFrame([("A",), ("ZZZ",)], ["seg"])
    params = enc.fit(train)
    got = {r.seg: r.seg_code for r in enc.transform(test, params).collect()}
    assert got == {"A": 0, "ZZZ": -1}


def test_imputer_fills_with_training_mean(spark):
    imp = NumericImputer(["x"], name="i")
    train = spark.createDataFrame([(2.0,), (4.0,), (None,)], "x double")
    params = imp.fit(train)
    assert params["x"] == 3.0
    out = imp.transform(train, params).agg(F.sum("x")).collect()[0][0]
    assert out == 9.0


def test_p8_skew_report_balance(spark, registry):
    """The hash partitioner over a high-cardinality key must land near
    balance: all 32 partitions populated, skew ratio close to 1."""
    queries, _ = registry
    row = queries["p8_skew_report"](spark, SF_SMOKE).collect()[0]
    assert row.n_nonempty_partitions == 32
    assert row.no_empty_partitions is True
    assert row.within_balance_bound is True


def test_p8_strict_raw_balance(spark):
    """The STRICT numbers behind p8's pinned verdicts, kept diagnosable
    (round-5 advice): recompute the per-partition histogram the operator
    reduces away and assert the raw ratio/counts, so a hash-partitioner
    or fixture change fails here with the measured skew instead of an
    opaque oracle mismatch."""
    from pyspark.sql import functions as F

    from dask_pipes_spark.session import load

    li = load(spark, SF_SMOKE, "lineitem")
    counts = [
        r.n
        for r in li.repartition(32, "l_orderkey")
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(counts) == 32, f"nonempty partitions: {len(counts)}"
    assert min(counts) > 0
    ratio = max(counts) / (sum(counts) / len(counts))
    assert ratio <= 1.5, f"max/avg skew ratio {ratio:.3f} above bound"


def test_dag_pipeline_cycle_and_missing_input_detection(spark):
    from dask_pipes_spark.pipeline import DagFn, DagPipeline

    ident = lambda df: df  # noqa: E731
    try:
        DagPipeline(
            [DagFn("a", ["b"], ident), DagFn("b", ["a"], ident)], outputs=["b"]
        )
        raise AssertionError("cycle not detected")
    except ValueError as exc:
        assert "cycle" in str(exc)
    dag = DagPipeline([DagFn("a", ["x"], ident)], outputs=["a"])
    try:
        dag.fit_transform({})
        raise AssertionError("missing input not detected")
    except ValueError as exc:
        assert "missing inputs" in str(exc)


def test_dag_pipeline_shared_branch_fans_out(spark):
    """A shared upstream node feeds two consumers; both see the same frame
    and the sink can reconcile them exactly."""
    from pyspark.sql import functions as F

    from dask_pipes_spark.pipeline import DagFn, DagPipeline
    from dask_pipes_spark.session import load

    dag = DagPipeline(
        nodes=[
            DagFn("base", ["orders"], lambda o: o.select("o_custkey", "o_totalprice")),
            DagFn(
                "cnt", ["base"], lambda b: b.groupBy("o_custkey").count()
            ),
            DagFn(
                "tot",
                ["base"],
                lambda b: b.groupBy("o_custkey").agg(
                    F.sum("o_totalprice").alias("s")
                ),
            ),
            DagFn(
                "join",
                ["cnt", "tot"],
                lambda c, t: c.join(t, "o_custkey"),
            ),
        ],
        outputs=["join"],
    )
    out = dag.fit_transform({"orders": load(spark, SF_SMOKE, "orders")})
    rows = out.collect()
    assert len(rows) == out.select("o_custkey").distinct().count()
    assert all(r["count"] > 0 for r in rows)


def _p10_single_plan_rows(spark):
    """p10's rowset computed as ONE Catalyst plan (no checkpoint)."""
    from dask_pipes_spark.session import load_tables

    t = load_tables(spark, SF_SMOKE, ("orders", "customer"))
    direct = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_spend"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("n_orders") >= 5)
        .select("c_custkey", "c_mktsegment", "n_orders", "total_spend")
    )
    return sorted(map(tuple, direct.collect()))


def test_p10_checkpoint_equals_single_plan(spark, registry):
    """The checkpointed two-stage pipeline must produce exactly the rowset
    of the equivalent single Catalyst plan."""
    queries, _ = registry
    staged = sorted(map(tuple, queries["p10_checkpoint_restart"](spark, SF_SMOKE).collect()))
    assert staged == _p10_single_plan_rows(spark)


def test_p10_checkpoint_leaves_no_temp_dir(spark, registry):
    """p10 checkpoints under the scratch root (removed at exit), never
    into a fresh top-level temp dir that nothing removes."""
    queries, _ = registry

    def leaked():
        return {
            n for n in os.listdir(tempfile.gettempdir())
            if n.startswith("dps_ckpt_p10_")
        }

    before = leaked()
    staged = sorted(map(tuple, queries["p10_checkpoint_restart"](spark, SF_SMOKE).collect()))
    assert leaked() == before
    assert staged == _p10_single_plan_rows(spark)


def test_p1_registry_key_contract(spark, registry):
    """Registry-key contract for p1: the fitted pipeline's output keeps the
    input row count, z-scores are standardized (mean≈0 per construction),
    and re-running fit_transform is deterministic."""
    queries, _ = registry
    out = queries["p1_pipeline_fit_transform"](spark, SF_SMOKE)
    rows = out.collect()
    rows2 = queries["p1_pipeline_fit_transform"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    assert len(rows) == 1500  # one per order at sf0.001
    zs = [r.o_totalprice_z for r in rows]
    assert abs(sum(zs) / len(zs)) < 1e-6
    codes = {r.o_orderpriority_code for r in rows}
    assert all(isinstance(c, int) and c >= 0 for c in codes)


def test_p11_hashing_tfidf_contract(spark, registry):
    """Hashed TF-IDF: deterministic, nnz bounded by min(tokens, buckets),
    norms positive for non-empty docs."""
    queries, _ = registry
    a = {r.doc_id: r for r in queries["p11_hashing_tfidf"](spark, SF_SMOKE).collect()}
    b = {r.doc_id: r for r in queries["p11_hashing_tfidf"](spark, SF_SMOKE).collect()}
    assert len(a) == 500
    for did, r in a.items():
        assert r.nnz <= min(r.n_tokens, 256)
        assert r.l2_norm == b[did].l2_norm
        if r.n_tokens > 0:
            assert r.nnz > 0


def test_dag_pipeline_save_load_roundtrip(spark, tmp_path):
    """Fitted DAG params survive a save/load cycle: a fresh instance with
    loaded params transforms identically without re-fitting."""
    from pyspark.sql import functions as F

    from dask_pipes_spark.pipeline import DagFn, DagNode, DagPipeline
    from dask_pipes_spark.session import load

    class MeanThreshold(DagNode):
        """Fit: collect the global mean; transform: keep rows above it."""

        def fit(self, dfs):
            (m,) = dfs[0].agg(F.avg("o_totalprice")).first()
            return {"mean": float(m)}

        def transform(self, dfs, params):
            return dfs[0].filter(F.col("o_totalprice") > params["mean"])

    def build():
        return DagPipeline(
            [MeanThreshold("cut", ["orders"]),
             DagFn("proj", ["cut"], lambda d: d.select("o_orderkey"))],
            outputs=["proj"],
        )

    orders = load(spark, SF_SMOKE, "orders")
    p1 = build()
    fitted_rows = sorted(r.o_orderkey for r in p1.fit_transform({"orders": orders}).collect())
    path = str(tmp_path / "dag_params.json")
    p1.save(path)
    p2 = build().load(path)
    replay_rows = sorted(r.o_orderkey for r in p2.transform({"orders": orders}).collect())
    assert fitted_rows == replay_rows and fitted_rows


def test_category_encoder_vocab_cap(spark):
    """An over-cardinality column must fail fast at fit time with a clear
    error (bounded driver transfer), not silently collect the table."""
    import pytest

    from dask_pipes_spark.pipeline import CategoryEncoder
    from tests.conftest import SF_SMOKE

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    # o_orderkey cast to string: cardinality = row count, way over the cap
    high_card = orders.selectExpr("CAST(o_orderkey AS STRING) AS k")
    enc = CategoryEncoder("k", max_vocab=100)
    with pytest.raises(ValueError, match="max_vocab"):
        enc.fit(high_card)
    # and a genuine categorical still fits under the default cap
    ok = CategoryEncoder("o_orderpriority").fit(orders)
    assert 0 < len(ok["vocab"]) <= 10


def test_p14_drift_monitor_contract(spark, registry):
    """PSI is non-negative (its terms share sign by construction) and both
    slices are non-empty; the z-score must be finite."""
    import math

    queries, _ = registry
    rows = {r.metric: r for r in queries["p14_drift_monitor"](spark, SF_SMOKE).collect()}
    assert set(rows) == {"price_mean_shift_z", "priority_psi"}
    for r in rows.values():
        assert r.n_fit > 0 and r.n_serve > 0
        assert math.isfinite(r.value)
    assert rows["priority_psi"].value >= 0.0


def test_p16_plan_governance_all_within_budget(spark):
    """The governed sample must carry recorded budgets, sit within them,
    and show no Python boundary in relational plans (l2's Arrow-free
    relational form included)."""
    from dask_pipes_spark.operators.pipeline_ops import p16_plan_governance

    rows = p16_plan_governance(spark, SF_SMOKE).collect()
    assert len(rows) >= 5
    for r in rows:
        assert r.has_recorded_budget is True, r.key
        assert r.within_budget is True, r
        assert r.python_boundary_ok is True, r


def test_p17_maintenance_never_rescans_orders(spark):
    """p17 contract: the delta-maintenance plan reads the MV, the CDC
    feeds, and the broadcast dims — never the orders fact table — and its
    result equals a from-scratch rebuild of the mutated final state."""
    import re

    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.pipeline_ops import p17_join_mv_maintain
    from dask_pipes_spark.session import load
    from tests.conftest import SF_SMOKE

    df = p17_join_mv_maintain(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().toString()
    assert not re.search(r"orders\.parquet", plan), (
        "maintenance must not rescan the fact table"
    )
    assert plan.count("dps_p17_mv") >= 3  # MV + delta feeds
    # broadcast-side pin (round-8 fix): the insert branch must build the
    # hash relation from the CDC delta (BuildLeft on d_ins⋈cust_final),
    # never from the full customer dimension — at 100 TB the dimension can
    # exceed broadcast limits while a CDC batch never does
    phys = plan.split("== Physical Plan ==")[-1]
    assert re.search(
        r"BroadcastHashJoin \[o_custkey#\d+L?\], \[c_custkey#\d+L?\], "
        r"Inner, BuildLeft",
        phys,
    ), "insert branch must broadcast the order-insert delta"

    orders = load(spark, SF_SMOKE, "orders")
    customer = load(spark, SF_SMOKE, "customer")
    nation = load(spark, SF_SMOKE, "nation")
    cust_final = customer.withColumn(
        "c_nationkey",
        F.when(
            F.col("c_custkey") % 50 == 0,
            ((F.col("c_nationkey") + 7) % 25).cast("int"),
        ).otherwise(F.col("c_nationkey")),
    )
    rebuilt = (
        orders.filter(F.col("o_orderkey") % 100 != 4)
        .join(F.broadcast(cust_final), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_orderkey"),
            F.sum("o_custkey").alias("sum_custkey"),
        )
    )
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in rebuilt.collect())
    assert got, "maintained MV aggregate must be non-empty at sf0.001"
    assert got == want


def test_p18_maintenance_never_rescans_facts(spark):
    """p18 contract: the aggregate-MV maintenance plan reads the staged
    partials, the CDC feeds, and the bridge — never lineitem, orders, or
    customer — broadcasts the delta side, and its result equals a
    from-scratch rebuild of the mutated aggregate."""
    import re

    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.pipeline_ops import p18_agg_mv_maintain
    from dask_pipes_spark.session import load
    from tests.conftest import SF_SMOKE

    df = p18_agg_mv_maintain(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().toString()
    for fact in ("lineitem", "orders", "customer"):
        assert not re.search(rf"{fact}\.parquet", plan), (
            f"maintenance must not rescan {fact}"
        )
    assert plan.count("dps_p18_aggmv") >= 4  # MV + bridge + both feeds
    # the CDC batches are the broadcast build sides (delta-sized), the
    # bridge streams: both delta joins must be BuildLeft on l_orderkey
    phys = plan.split("== Physical Plan ==")[-1]
    assert len(re.findall(
        r"BroadcastHashJoin \[l_orderkey#\d+L?\], \[o_orderkey#\d+L?\], "
        r"Inner, BuildLeft",
        phys,
    )) == 2, "both CDC feeds must be the broadcast side"

    # from-scratch twin over the mutated base tables
    li = load(spark, SF_SMOKE, "lineitem").filter(
        F.col("l_orderkey") % 100 != 4
    )
    rebuilt = (
        li.join(
            load(spark, SF_SMOKE, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            load(spark, SF_SMOKE, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            load(spark, SF_SMOKE, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("sum_revenue"),
            F.sum(F.col("l_quantity").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in rebuilt.collect())
    assert got, "maintained MV must be non-empty at sf0.001"
    assert got == want


def test_p19_composed_maintenance_contract(spark):
    """p19 contract: simultaneous fact + dimension churn maintained with
    zero lineitem/orders scans (customer/nation are broadcast dims), and
    the result equals a from-scratch rebuild over the mutated tables."""
    import re

    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.pipeline_ops import p19_mv_chain_maintain
    from dask_pipes_spark.session import load
    from tests.conftest import SF_SMOKE

    df = p19_mv_chain_maintain(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().toString()
    for fact in ("lineitem", "orders"):
        assert not re.search(rf"{fact}\.parquet", plan), (
            f"maintenance must not rescan {fact}"
        )
    assert plan.count("dps_p19_mvchain") >= 5  # partials+bridge+3 feeds

    cust_final = load(spark, SF_SMOKE, "customer").withColumn(
        "c_nationkey",
        F.when(
            F.col("c_custkey") % 50 == 0,
            ((F.col("c_nationkey") + 7) % 25).cast("int"),
        ).otherwise(F.col("c_nationkey")),
    )
    rebuilt = (
        load(spark, SF_SMOKE, "lineitem")
        .filter(F.col("l_orderkey") % 100 != 4)
        .join(
            load(spark, SF_SMOKE, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust_final, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            load(spark, SF_SMOKE, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("sum_revenue"),
            F.sum(F.col("l_quantity").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in rebuilt.collect())
    assert got, "maintained MV must be non-empty at sf0.001"
    assert got == want


def test_p20_checkpoint_layout_and_serving_plan(spark):
    """p20 contract: after the write-back the index dir holds the bridge
    + the compacted generation + the vacuum manifest (old MV and feeds
    deleted), and the SERVING plan is one generation scan — no union,
    no broadcast merge, no delta reads, no base-table scans."""
    import json
    import os
    import re

    from dask_pipes_spark.operators.pipeline_ops import p20_agg_mv_checkpoint
    from dask_pipes_spark.session import scratch_path
    from tests.conftest import SF_SMOKE

    df = p20_agg_mv_checkpoint(spark, SF_SMOKE)
    assert df.count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p20_aggmv_ckpt_{tag}")
    names = set(os.listdir(base))
    assert "agg_mv-g002" in names and "bridge" in names
    for gone in ("agg_mv", "delta_ins", "delta_del", "agg_mv-g002.tmp"):
        assert gone not in names, f"superseded state survived vacuum: {gone}"
    manifest = json.load(open(os.path.join(base, "VACUUM.json")))
    assert manifest["superseded"] == ["agg_mv", "delta_del", "delta_ins"]
    assert manifest["by"] == "agg_mv-g002"

    plan = df._jdf.queryExecution().toString()
    assert "Union" not in plan
    assert "delta_ins" not in plan and "delta_del" not in plan
    for fact in ("lineitem", "orders", "customer"):
        assert not re.search(rf"{fact}\.parquet", plan)
    assert plan.count("agg_mv-g002") >= 1


def test_p21_time_travel_serves_both_versions(spark):
    """p21 contract: after two maintenance windows under retain=1, the
    index directory serves TWO consistent versions at once — the retained
    g002 equals p18's window-1 answer (what the key returns and its
    oracle pins), and the head g003 equals the from-scratch window-2
    state; the manifest names the retained generation and the full
    chain."""
    import json
    import os

    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.pipeline_ops import (
        p18_agg_mv_maintain,
        p21_mv_time_travel,
    )
    from dask_pipes_spark.session import load, scratch_path
    from tests.conftest import SF_SMOKE

    travel = sorted(
        tuple(r) for r in p21_mv_time_travel(spark, SF_SMOKE).collect()
    )
    batch = sorted(
        tuple(r) for r in p18_agg_mv_maintain(spark, SF_SMOKE).collect()
    )
    assert travel, "time-travel read must be non-empty at sf0.001"
    assert travel == batch, "retained g002 must equal the window-1 state"

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p21_mv_travel_{tag}")
    names = set(os.listdir(base))
    assert {"agg_mv-g002", "agg_mv-g003", "bridge"} <= names
    for gone in ("agg_mv", "delta_ins", "delta_del", "delta_del2"):
        assert gone not in names, f"feeds must vacuum despite retention: {gone}"
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert man["by"] == "agg_mv-g003"
    assert man["retained"] == ["agg_mv-g002"]
    assert [h["by"] for h in man["history"]] == ["agg_mv-g002", "agg_mv-g003"]

    # the head generation simultaneously serves the window-2 state
    g3 = spark.read.schema(
        "n_name string, cnt bigint, rev decimal(38,6), qty decimal(38,6)"
    ).parquet(os.path.join(base, "agg_mv-g003"))
    got3 = sorted(
        tuple(r)
        for r in g3.select(
            "n_name",
            F.col("cnt").alias("n_items"),
            F.col("rev").cast("double").alias("sum_revenue"),
            F.col("qty").cast("double").alias("sum_qty"),
        ).collect()
    )
    lineitem = load(spark, SF_SMOKE, "lineitem")
    orders = load(spark, SF_SMOKE, "orders")
    customer = load(spark, SF_SMOKE, "customer")
    nation = load(spark, SF_SMOKE, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )
    expected3 = sorted(
        tuple(r)
        for r in (
            lineitem.filter(
                (F.col("l_orderkey") % 100 != 4)
                & (F.col("l_orderkey") % 100 != 24)
            )
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(rev).cast("double").alias("sum_revenue"),
                F.sum(F.col("l_quantity").cast("decimal(28,6)"))
                .cast("double")
                .alias("sum_qty"),
            )
            .collect()
        )
    )
    assert got3 == expected3, "head generation must serve the window-2 state"


def test_p21_serving_plan_is_retained_generation_scan(spark):
    """The time-travel read is ONE scan of the retained generation: no
    union/anti-join/delta residue, no base-table scans, and no scan of
    the HEAD generation (two versions must not leak into each other)."""
    import re

    from dask_pipes_spark.operators.pipeline_ops import p21_mv_time_travel
    from tests.conftest import SF_SMOKE

    plan = p21_mv_time_travel(spark, SF_SMOKE)._jdf.queryExecution().toString()
    assert "Union" not in plan and "LeftAnti" not in plan
    for fact in ("lineitem", "orders", "customer"):
        assert not re.search(rf"{fact}\.parquet", plan)
    assert plan.count("agg_mv-g002") >= 1
    assert "agg_mv-g003" not in plan


def test_p22_restore_layout_and_forensic_head(spark):
    """p22 contract: after the restore window, history is the monotonic
    g002→g003→g004 chain, the head (resolved from the manifest) equals
    the window-1 state (the parity oracle pins its values), the bad g003
    stays READABLE in the retention window for forensics, and g002's
    directory is swept — its bytes live on as g004."""
    import json
    import os

    from dask_pipes_spark.operators.pipeline_ops import (
        p18_agg_mv_maintain,
        p22_mv_restore,
    )
    from dask_pipes_spark.session import scratch_path
    from tests.conftest import SF_SMOKE

    restored = sorted(
        tuple(r) for r in p22_mv_restore(spark, SF_SMOKE).collect()
    )
    batch = sorted(
        tuple(r) for r in p18_agg_mv_maintain(spark, SF_SMOKE).collect()
    )
    assert restored, "restored head must be non-empty at sf0.001"
    assert restored == batch, "restore must reinstate the window-1 state"

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p22_mv_restore_{tag}")
    names = set(os.listdir(base))
    assert {"agg_mv-g003", "agg_mv-g004", "bridge"} <= names
    assert "agg_mv-g002" not in names, (
        "g002 fell out of the retention window once g004 re-committed it"
    )
    for gone in ("agg_mv", "delta_ins", "delta_del", "delta_bad"):
        assert gone not in names, f"feeds must vacuum despite retention: {gone}"
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert man["by"] == "agg_mv-g004"
    assert man["retained"] == ["agg_mv-g003"]
    assert [h["by"] for h in man["history"]] == [
        "agg_mv-g002", "agg_mv-g003", "agg_mv-g004",
    ]
    # the bad generation is still a consistent, readable version: it
    # differs from the restored head (the retraction really landed)
    g3 = spark.read.schema(
        "n_name string, cnt bigint, rev decimal(38,6), qty decimal(38,6)"
    ).parquet(os.path.join(base, "agg_mv-g003"))
    g4 = spark.read.schema(
        "n_name string, cnt bigint, rev decimal(38,6), qty decimal(38,6)"
    ).parquet(os.path.join(base, "agg_mv-g004"))
    assert g3.count() > 0
    bad = {r.n_name: r.cnt for r in g3.collect()}
    good = {r.n_name: r.cnt for r in g4.collect()}
    assert bad != good, "forensic g003 must show the bad batch's effect"
    assert all(bad[k] <= good[k] for k in bad), (
        "the bad batch only retracted rows"
    )


def test_p22_serving_plan_is_head_generation_scan(spark):
    """The restored read is ONE scan of the manifest-resolved head: no
    union/anti-join residue, no base-table scans, and no scan of the
    forensic g003."""
    import re

    from dask_pipes_spark.operators.pipeline_ops import p22_mv_restore
    from tests.conftest import SF_SMOKE

    plan = p22_mv_restore(spark, SF_SMOKE)._jdf.queryExecution().toString()
    assert "Union" not in plan and "LeftAnti" not in plan
    for fact in ("lineitem", "orders", "customer"):
        assert not re.search(rf"{fact}\.parquet", plan)
    assert plan.count("agg_mv-g004") >= 1
    assert "agg_mv-g003" not in plan


def test_p23_change_feed_reads_only_generations(spark):
    """The CDF is served from the two retained generations alone: no
    fact-table scans, no feed residue (the feeds were vacuumed at
    checkpoint time), and the diff is a single full-outer join of
    MV-sized inputs."""
    import re

    from dask_pipes_spark.operators.pipeline_ops import p23_mv_change_feed
    from tests.conftest import SF_SMOKE

    df = p23_mv_change_feed(spark, SF_SMOKE)
    rows = df.collect()
    assert rows, "the window-2 retraction must produce a non-empty feed"
    # every delta is a pure retraction in this fixture (negative counts)
    assert all(r.d_items < 0 for r in rows)
    plan = df._jdf.queryExecution().toString()
    for fact in ("lineitem", "orders", "customer"):
        assert not re.search(rf"{fact}\.parquet", plan)
    assert "delta_" not in plan, "vacuumed feeds must not be re-read"
    assert plan.count("agg_mv-g002") >= 1 and plan.count("agg_mv-g003") >= 1
    assert "FullOuter" in plan


def test_p24_refresh_scans_only_changed_partition(spark):
    """p24 contract: the fingerprint diff identifies exactly the 'R'
    partition as changed, and the refresh plan reads the stored
    partials plus ONLY the changed partition's directory — no scan of
    the unchanged partitions' data, no lineitem.parquet."""
    import re

    from dask_pipes_spark.operators.pipeline_ops import (
        p24_partition_incremental_refresh,
    )
    from tests.conftest import SF_SMOKE

    df = p24_partition_incremental_refresh(spark, SF_SMOKE)
    assert df.count() > 0
    plan = df._jdf.queryExecution().toString()
    assert not re.search(r"lineitem\.parquet", plan)
    assert "l_returnflag=R" in plan, "changed partition must rescan"
    for unchanged in ("l_returnflag=A", "l_returnflag=N"):
        assert unchanged not in plan, (
            f"unchanged partition {unchanged} must serve from partials"
        )
    assert "partials" in plan


def test_p24_unchanged_world_reuses_everything(spark):
    """With no partition changed since the manifest (re-recording the
    fingerprints after day 2), the refresh is a pure partials rollup:
    zero source scans of any partition."""
    import json
    import os

    from dask_pipes_spark.operators.pipeline_ops import (
        p24_partition_incremental_refresh,
    )
    from dask_pipes_spark.session import dataset_fingerprint, scratch_path
    from tests.conftest import SF_SMOKE

    # first call stages and refreshes (R changed)
    ref = sorted(
        tuple(r)
        for r in p24_partition_incremental_refresh(spark, SF_SMOKE).collect()
    )
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p24_pinc_{tag}")
    # simulate the post-refresh manifest re-record + partials write-back
    # a production refresh would commit: partials := refreshed, manifest
    # := current fingerprints
    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.pipeline_ops import (  # noqa: F401
        p24_partition_incremental_refresh as _p24,
    )

    src = os.path.join(base, "source")
    parts = sorted(
        p for p in os.listdir(src) if p.startswith("l_returnflag=")
    )
    fps = {p: dataset_fingerprint(os.path.join(src, p)) for p in parts}
    with open(os.path.join(base, "FINGERPRINTS.json"), "w") as fh:
        json.dump(fps, fh)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )
    day2 = spark.read.parquet(src)
    day2.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(rev).alias("rev")
    ).write.mode("overwrite").parquet(os.path.join(base, "partials"))
    df = p24_partition_incremental_refresh(spark, SF_SMOKE)
    got = sorted(tuple(r) for r in df.collect())
    assert got == ref, "steady-state refresh must serve the same answer"
    plan = df._jdf.queryExecution().toString()
    assert "l_returnflag=" not in plan, (
        "no partition may rescan when no fingerprint moved"
    )
    # restore a clean slate (manifest now claims partials include day 2,
    # which is true, but other tests expect the staged day-1 layout)
    import shutil

    shutil.rmtree(base)


def test_p25_bad_batch_quarantined_good_batch_published(spark):
    """p25 contract: the double-delete batch is caught by the
    conservation audit and quarantined (the head never serves it), the
    correct batch publishes as g002, AUDIT.json records both verdicts
    with their numbers, and the published MV equals the correctly
    maintained state."""
    import json
    import os

    from dask_pipes_spark.operators.pipeline_ops import (
        p18_agg_mv_maintain,
        p25_write_audit_publish,
    )
    from dask_pipes_spark.session import scratch_path
    from tests.conftest import SF_SMOKE

    wap = sorted(
        tuple(r) for r in p25_write_audit_publish(spark, SF_SMOKE).collect()
    )
    batch = sorted(
        tuple(r) for r in p18_agg_mv_maintain(spark, SF_SMOKE).collect()
    )
    assert wap, "published head must be non-empty at sf0.001"
    assert wap == batch, "the published batch must be the correct one"

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p25_wap_{tag}")
    names = set(os.listdir(base))
    assert "agg_mv-g002" in names
    assert "agg_mv-g001" not in names, "superseded head must vacuum"
    quarantined = [n for n in names if ".quarantine-" in n]
    assert quarantined == ["agg_mv-g002.quarantine-double-delete"]
    assert not any(".staged-" in n for n in names), "no staged residue"
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [h["by"] for h in man["history"]] == ["agg_mv-g001", "agg_mv-g002"]
    audits = json.load(open(os.path.join(base, "AUDIT.json")))
    assert [a["verdict"] for a in audits] == ["quarantine", "publish"]
    bad, good = audits
    assert not bad["conservation"]
    assert bad["expected_total"] - bad["staged_total"] > 0, (
        "the double delete must under-count by the delete feed's size"
    )
    assert good["conservation"] and good["group_keys_non_null"]
    # the quarantined bytes remain inspectable: a consistent (wrong) MV
    q = spark.read.schema(
        "n_name string, cnt bigint, rev decimal(38,6), qty decimal(38,6)"
    ).parquet(os.path.join(base, quarantined[0]))
    assert q.count() > 0
    bad_total = q.agg({"cnt": "sum"}).collect()[0][0]
    assert bad_total == bad["staged_total"]


def test_p26_conflict_detected_and_rebased(spark):
    """p26 contract: B's stale-head publish raises CommitConflictError
    (recorded in CONFLICTS.json), its staged bytes survive the conflict
    to be re-based, the final history is the monotonic 3-link chain, and
    the head equals p18's both-applied-once state."""
    import json
    import os

    from dask_pipes_spark.operators.pipeline_ops import (
        p18_agg_mv_maintain,
        p26_concurrent_commit_rebase,
    )
    from dask_pipes_spark.session import scratch_path
    from tests.conftest import SF_SMOKE

    occ = sorted(
        tuple(r)
        for r in p26_concurrent_commit_rebase(spark, SF_SMOKE).collect()
    )
    ref = sorted(
        tuple(r) for r in p18_agg_mv_maintain(spark, SF_SMOKE).collect()
    )
    assert occ, "head must be non-empty at sf0.001"
    assert occ == ref, "both maintainers' batches must land exactly once"

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p26_occ_{tag}")
    conflicts = json.load(open(os.path.join(base, "CONFLICTS.json")))
    assert len(conflicts) == 1
    assert "agg_mv-g001" in conflicts[0] and "agg_mv-g002" in conflicts[0]
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [h["by"] for h in man["history"]] == [
        "agg_mv-g001", "agg_mv-g002", "agg_mv-g003",
    ]
    names = set(os.listdir(base))
    assert "agg_mv-g003" in names
    for gone in ("agg_mv-g001", "agg_mv-g002", "agg_mv-g002.staged-B",
                 "delta_ins", "delta_del"):
        assert gone not in names, f"superseded state survived: {gone}"


def test_publish_generation_cas(spark, tmp_path):
    """Unit contract for the CAS: a publish whose expected_head is stale
    raises BEFORE any rename (staged dir intact, manifest untouched);
    the correct expectation succeeds; expected_head=None skips the
    check."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from dask_pipes_spark.session import (
        CommitConflictError,
        checkpoint_index_generation,
        publish_generation,
    )

    base = str(tmp_path / "idx")
    os.makedirs(base)
    df = spark.range(50).select("id", (F.col("id") * 3).alias("v"))
    checkpoint_index_generation(base, df, superseded=[], generation="g001")
    staged = os.path.join(base, "g002.staged")
    df.filter(F.col("id") % 5 != 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staged)
    with pytest.raises(CommitConflictError):
        publish_generation(
            base, staged, "g002", superseded=[], expected_head="g000"
        )
    assert os.path.exists(staged), "loser's staged bytes must survive"
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [h["by"] for h in man["history"]] == ["g001"]
    publish_generation(
        base, staged, "g002", superseded=["g001"], expected_head="g001"
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [h["by"] for h in man["history"]] == ["g001", "g002"]
    assert spark.read.parquet(os.path.join(base, "g002")).count() == 40


def test_p27_schema_registry_and_v1_time_travel(spark):
    """p27 contract: SCHEMA.json maps all three generations to their
    column lists; the retained v1 generation (retain=2 window) is still
    readable WITH ITS OWN 3-column schema and carries the v1 state; the
    retained v2 backfill equals the pre-CDC 4-column state; and the head
    equals p18's maintained answer (the parity oracle pins its values)."""
    import json
    import os

    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.pipeline_ops import (
        p27_mv_schema_evolution,
    )
    from dask_pipes_spark.session import load, scratch_path
    from tests.conftest import SF_SMOKE

    assert p27_mv_schema_evolution(spark, SF_SMOKE).count() > 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p27_mvevo_{tag}")
    schemas = json.load(open(os.path.join(base, "SCHEMA.json")))
    assert schemas == {
        "agg_mv-g001": ["n_name", "cnt", "rev"],
        "agg_mv-g002": ["n_name", "cnt", "rev", "qty"],
        "agg_mv-g003": ["n_name", "cnt", "rev", "qty"],
    }
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert man["retained"] == ["agg_mv-g001", "agg_mv-g002"]
    # v1 time travel: old generation, old schema, day-1 state
    g1 = spark.read.schema(
        "n_name string, cnt bigint, rev decimal(38,6)"
    ).parquet(os.path.join(base, "agg_mv-g001"))
    assert g1.columns == ["n_name", "cnt", "rev"]
    li_old = load(spark, SF_SMOKE, "lineitem").filter(
        F.col("l_orderkey") % 10 != 7
    )
    assert g1.agg(F.sum("cnt")).collect()[0][0] == li_old.count()
    # v2 backfill: same rows, qty present, pre-CDC totals
    g2 = spark.read.schema(
        "n_name string, cnt bigint, rev decimal(38,6), qty decimal(38,6)"
    ).parquet(os.path.join(base, "agg_mv-g002"))
    assert g2.agg(F.sum("cnt")).collect()[0][0] == li_old.count()
    assert g2.filter(F.col("qty").isNull()).count() == 0


def test_p27_delta_window_is_fact_scan_free(spark):
    """The CDC window on the evolved schema reads only the v2 generation
    + broadcast feeds at maintenance time, and SERVING reads only the
    head generation — no lineitem/orders/customer scans in the served
    plan."""
    import re

    from dask_pipes_spark.operators.pipeline_ops import (
        p27_mv_schema_evolution,
    )
    from tests.conftest import SF_SMOKE

    plan = (
        p27_mv_schema_evolution(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .toString()
    )
    for fact in ("lineitem", "orders", "customer"):
        assert not re.search(rf"{fact}\.parquet", plan)
    assert plan.count("agg_mv-g003") >= 1
    assert "agg_mv-g002" not in plan and "agg_mv-g001" not in plan


def test_p28_gc_report_and_serving(spark):
    """p28 contract: GC removes exactly the planted torn states (the
    abandoned tmp, the stale staged duplicate, the resurrected
    superseded generation), keeps the head / quarantine / unlisted infra
    dirs, records it all in GC.json, and the post-GC serving answer
    equals the correctly maintained state (p18's)."""
    import json
    import os

    from dask_pipes_spark.operators.pipeline_ops import (
        p18_agg_mv_maintain,
        p28_orphan_gc,
    )
    from dask_pipes_spark.session import scratch_path
    from tests.conftest import SF_SMOKE

    got = sorted(tuple(r) for r in p28_orphan_gc(spark, SF_SMOKE).collect())
    ref = sorted(
        tuple(r) for r in p18_agg_mv_maintain(spark, SF_SMOKE).collect()
    )
    assert got, "post-GC head must be non-empty at sf0.001"
    assert got == ref, "GC must not change the serving answer"

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p28_gc_{tag}")
    report = json.load(open(os.path.join(base, "GC.json")))
    assert report["heads"] == ["agg_mv-g002"]
    assert set(report["removed"]) == {
        "agg_mv-g001",
        "agg_mv-g002.staged-crashed",
        "agg_mv-g003.tmp",
    }
    assert "agg_mv-g002.quarantine-bad" in report["kept"]
    assert "bridge" in report["kept"], "unlisted infra dirs are never GC'd"
    names = set(os.listdir(base))
    assert "agg_mv-g002" in names, "never GC the head"
    assert "agg_mv-g002.quarantine-bad" in names
    for gone in ("agg_mv-g001", "agg_mv-g002.staged-crashed",
                 "agg_mv-g003.tmp"):
        assert gone not in names, f"torn state survived GC: {gone}"


def test_gc_torn_states_and_reentrancy(spark, tmp_path):
    """gc_index_dir unit contract, one planted torn layout per kill
    point: tmp/staged/superseded-aside/resurrected-generation debris is
    removed, a YOUNG tmp (possibly a live in-flight build) survives a
    nonzero age guard, quarantine needs the explicit flag, a second
    sweep removes nothing, and the head is structurally un-sweepable."""
    import json
    import os

    from pyspark.sql import functions as F

    from dask_pipes_spark.session import (
        checkpoint_index_generation,
        gc_index_dir,
    )

    base = str(tmp_path / "idx")
    os.makedirs(base)
    df = spark.range(30).select("id", (F.col("id") * 2).alias("v"))
    checkpoint_index_generation(base, df, superseded=[], generation="g001")
    checkpoint_index_generation(
        base, df.filter("id % 3 != 0"), superseded=["g001"], generation="g002"
    )
    # plant one artifact per kill point
    df.coalesce(1).write.parquet(os.path.join(base, "g003.tmp"))
    df.coalesce(1).write.parquet(os.path.join(base, "g002.staged-dup"))
    df.coalesce(1).write.parquet(os.path.join(base, "g001"))  # resurrected
    df.coalesce(1).write.parquet(os.path.join(base, "g001.superseded"))
    df.coalesce(1).write.parquet(os.path.join(base, "g00X.quarantine-q"))
    os.makedirs(os.path.join(base, "cdc"))

    # age guard: a young tmp for an UNCOMMITTED generation is kept (it may
    # be a live build); committed-generation debris and the resurrected
    # superseded dir go regardless of age
    rep = gc_index_dir(base, older_than_sec=3600)
    assert "g003.tmp" in rep["kept"]
    assert {"g001", "g002.staged-dup", "g001.superseded"} <= set(
        rep["removed"]
    )

    rep = gc_index_dir(base, older_than_sec=0)
    assert rep["heads"] == ["g002"]
    assert "g003.tmp" in rep["removed"]
    assert "g00X.quarantine-q" in rep["kept"] and "cdc" in rep["kept"]
    assert os.path.isdir(os.path.join(base, "g002")), "head intact"
    assert spark.read.parquet(os.path.join(base, "g002")).count() == 20

    rep2 = gc_index_dir(base, older_than_sec=0)
    assert rep2["removed"] == [], "GC must be re-entrant (second sweep no-op)"
    rep3 = gc_index_dir(base, older_than_sec=0, remove_quarantine=True)
    assert rep3["removed"] == ["g00X.quarantine-q"]


def test_checkpoint_resumes_after_kill_at_any_step(spark, tmp_path):
    """Resumability contract (round 10): a same-args retry of
    checkpoint_index_generation completes a run killed at ANY step
    without double work or duplicate history links.

    - compact done / swap not done: the durable tmp (_SUCCESS present)
      is reused — proven by handing the retry a DIFFERENT DataFrame and
      observing the tmp's bytes serve (the retry never recomputes);
    - swap done / manifest not done: the final dir is linked without a
      data rewrite (a marker file planted inside survives);
    - manifest done / vacuum not done: the resurrected superseded dir is
      swept, and the history gains NO second link."""
    import json
    import os

    from pyspark.sql import functions as F

    from dask_pipes_spark.session import (
        checkpoint_index_generation,
        publish_generation,
    )

    base = str(tmp_path / "idx")
    os.makedirs(base)
    df = spark.range(40).select("id", (F.col("id") + 1).alias("v"))
    checkpoint_index_generation(base, df, superseded=[], generation="g001")

    # --- kill point 1: compact done, swap not done ---
    df.filter("id < 10").coalesce(1).write.parquet(
        os.path.join(base, "g002.tmp")
    )
    assert os.path.exists(os.path.join(base, "g002.tmp", "_SUCCESS"))
    decoy = spark.range(999)  # must NOT be recomputed/written
    checkpoint_index_generation(
        base, decoy, superseded=["g001"], generation="g002"
    )
    assert not os.path.exists(os.path.join(base, "g002.tmp"))
    assert spark.read.parquet(os.path.join(base, "g002")).count() == 10, (
        "retry must reuse the durable compaction, not rewrite from the arg"
    )

    # --- kill point 2: swap done, manifest not done ---
    df.filter("id < 5").coalesce(1).write.parquet(os.path.join(base, "g003"))
    open(os.path.join(base, "g003", "MARKER"), "w").close()
    checkpoint_index_generation(
        base, decoy, superseded=["g002"], generation="g003"
    )
    assert os.path.exists(os.path.join(base, "g003", "MARKER")), (
        "resume must link the existing final dir, never rewrite it"
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [h["by"] for h in man["history"]] == ["g001", "g002", "g003"]
    assert not os.path.exists(os.path.join(base, "g002")), "vacuum ran"

    # --- kill point 3: manifest done, vacuum not done ---
    df.coalesce(1).write.parquet(os.path.join(base, "g002"))  # resurrect
    checkpoint_index_generation(
        base, decoy, superseded=["g002"], generation="g003"
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [h["by"] for h in man["history"]] == ["g001", "g002", "g003"], (
        "a manifest-done retry must not append a duplicate link"
    )
    assert not os.path.exists(os.path.join(base, "g002")), "re-sweep ran"

    # --- publish: manifest-done retry is idempotent too ---
    staged = os.path.join(base, "g004.staged")
    df.filter("id >= 35").coalesce(1).write.parquet(staged)
    publish_generation(base, staged, "g004", superseded=["g003"])
    df.coalesce(1).write.parquet(os.path.join(base, "g003"))  # resurrect
    publish_generation(
        base, os.path.join(base, "gone.staged"), "g004", superseded=["g003"]
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [h["by"] for h in man["history"]] == [
        "g001", "g002", "g003", "g004",
    ]
    assert not os.path.exists(os.path.join(base, "g003"))
    assert spark.read.parquet(os.path.join(base, "g004")).count() == 5


def test_p29_branch_wap_layout_and_audit(spark):
    """p29 contract: the buggy batch publishes to branch `audit` (main
    never moves), fails its audit, and its branch is retired — the
    orphaned generation is vacuumed, not left as live debris; the
    correct batch merges via CAS and main's ref serves it; AUDIT.json
    records both verdicts; the served state equals p18's."""
    import json
    import os

    from dask_pipes_spark.operators.pipeline_ops import (
        p18_agg_mv_maintain,
        p29_branch_wap,
    )
    from dask_pipes_spark.session import scratch_path
    from tests.conftest import SF_SMOKE

    got = sorted(tuple(r) for r in p29_branch_wap(spark, SF_SMOKE).collect())
    ref = sorted(
        tuple(r) for r in p18_agg_mv_maintain(spark, SF_SMOKE).collect()
    )
    assert got, "main's head must be non-empty at sf0.001"
    assert got == ref, "only the correct batch may reach main"

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p29_branch_{tag}")
    branches = json.load(open(os.path.join(base, "BRANCHES.json")))
    assert branches["main"] == "agg_mv-g002b"
    assert branches.get("audit") == "agg_mv-g002b", (
        "merge is a ref move; the source branch ref survives it"
    )
    names = set(os.listdir(base))
    assert "agg_mv-g002b" in names
    assert "agg_mv-g002a" not in names, (
        "the retired audit branch's generation must vacuum"
    )
    assert "agg_mv-g001" not in names, "old main head vacuumed after merge"
    audits = json.load(open(os.path.join(base, "AUDIT.json")))
    assert [a["verdict"] for a in audits] == ["retire-branch", "merge"]
    assert audits[0]["staged_total"] != audits[0]["expected_total"]
    assert audits[1]["staged_total"] == audits[1]["expected_total"]


def test_branch_refs_cas_retain_and_protection(spark, tmp_path):
    """Unit contract for branch refs: a stale expected_head on merge
    raises BEFORE the ref moves; retain keeps the just-retired main
    head (supersession-ordered window, not publish-ordered); a
    generation referenced by ANY branch survives vacuum and GC until
    the last ref drops."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from dask_pipes_spark.session import (
        CommitConflictError,
        checkpoint_index_generation,
        delete_branch,
        gc_index_dir,
        merge_branch,
        publish_generation,
        set_branch,
    )

    base = str(tmp_path / "idx")
    os.makedirs(base)
    df = spark.range(60).select("id", (F.col("id") * 7).alias("v"))
    checkpoint_index_generation(base, df, superseded=[], generation="g001")
    set_branch(base, "main", "g001")

    staged = os.path.join(base, "g002.staged")
    df.filter("id % 2 = 0").coalesce(1).write.parquet(staged)
    publish_generation(base, staged, "g002", superseded=[], branch="audit")
    assert os.path.isdir(os.path.join(base, "g001")), "main untouched"

    with pytest.raises(CommitConflictError):
        merge_branch(base, "audit", "main", expected_head="g000")
    assert json.load(open(os.path.join(base, "BRANCHES.json")))["main"] == (
        "g001"
    ), "failed CAS must not move the ref"

    # retain interplay: the just-retired main head stays readable even
    # though a LATER publish (the staged branch generation) intervened
    merge_branch(base, "audit", "main", expected_head="g001", retain=1)
    b = json.load(open(os.path.join(base, "BRANCHES.json")))
    assert b["main"] == "g002"
    assert os.path.isdir(os.path.join(base, "g001")), (
        "retain=1 keeps the retired main head (supersession order)"
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert man["retained"] == ["g001"]

    # ref-protection: supersede g002 on main while a pin branch holds it
    set_branch(base, "pin", "g002")
    staged3 = os.path.join(base, "g003.staged")
    df.filter("id % 3 = 0").coalesce(1).write.parquet(staged3)
    publish_generation(
        base, staged3, "g003", superseded=["g002"], branch="main"
    )
    assert os.path.isdir(os.path.join(base, "g002")), "pinned gen survives"
    rep = gc_index_dir(base, older_than_sec=0)
    assert "g002" not in rep["removed"], "GC honors branch refs"
    # audit still references g002 too; drop both refs -> swept
    delete_branch(base, "audit")
    assert os.path.isdir(os.path.join(base, "g002")), "pin still holds"
    delete_branch(base, "pin")
    assert not os.path.isdir(os.path.join(base, "g002")), (
        "last ref dropped -> the superseded generation sweeps"
    )
    assert spark.read.parquet(os.path.join(base, "g003")).count() == 20


def test_default_scratch_root_removed_at_exit(tmp_path):
    """The default per-process scratch root (<tempdir>/dps_scratch_<pid>)
    is removed when its process exits; a $SPARK_GRAFT_SCRATCH_ROOT root,
    the shared build-once store, survives. No Spark: each child process
    only makes a scratch dir, writes a file there and exits."""
    import os
    import subprocess
    import sys

    child = (
        "import os\n"
        "from dask_pipes_spark.session import scratch_path\n"
        "p = scratch_path('x')\n"
        "os.makedirs(p)\n"
        "open(os.path.join(p, 'f'), 'w').close()\n"
        "print(os.path.dirname(p))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SCRATCH_ROOT"}
    env["TMPDIR"] = str(tmp_path)

    def run(env) -> str:
        out = subprocess.run(
            [sys.executable, "-c", child], cwd=repo, env=env,
            capture_output=True, text=True, check=True, timeout=120,
        )
        return out.stdout.strip().splitlines()[-1]

    root = run(env)
    assert os.path.basename(root).startswith("dps_scratch_")
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root), "default root outlived its process"

    shared = str(tmp_path / "shared")
    assert run({**env, "SPARK_GRAFT_SCRATCH_ROOT": shared}) == shared
    assert os.path.isfile(os.path.join(shared, "x", "f")), (
        "the shared root must survive its process"
    )


def test_gc_scratch_root_sweeps_ensure_index_debris(tmp_path):
    """The root-level sweep removes what the per-index sweep cannot see:
    torn ensure_index swap intermediates (<index>.build / <index>.stale
    siblings) and orphaned lock files — age-guarded so a live in-flight
    build survives — and recurses the per-index GC into every
    manifest-bearing index dir."""
    import json
    import os

    from dask_pipes_spark.session import (
        _append_vacuum_link,
        gc_scratch_root,
    )

    root = str(tmp_path)
    # a live index with a manifest + an internal torn tmp
    idx = os.path.join(root, "idx_a")
    os.makedirs(os.path.join(idx, "g001"))
    _append_vacuum_link(idx, [], "g001", 0)
    os.makedirs(os.path.join(idx, "g001.tmp"))
    # ensure_index debris beside it
    os.makedirs(os.path.join(root, "idx_a.build"))
    os.makedirs(os.path.join(root, "idx_b.stale"))
    open(os.path.join(root, "idx_a.lock"), "w").close()   # owner exists
    open(os.path.join(root, "idx_gone.lock"), "w").close()  # orphaned

    rep = gc_scratch_root(root, older_than_sec=0)
    assert set(rep["removed"]) == {"idx_a.build", "idx_b.stale",
                                   "idx_gone.lock"}
    assert "idx_a.lock" in rep["kept"], "live index keeps its lock"
    assert rep["indexes"]["idx_a"]["removed"] == ["g001.tmp"]
    assert os.path.isdir(os.path.join(idx, "g001")), "head untouched"

    # age guard: fresh debris (possibly live) survives a nonzero guard
    os.makedirs(os.path.join(root, "idx_c.build"))
    rep2 = gc_scratch_root(root, older_than_sec=3600)
    assert "idx_c.build" in rep2["kept"]


def _cas_racer(base: str, who: str, barrier, q) -> None:
    """Spawn-target for the cross-process CAS race (module-level so the
    spawn context can pickle it)."""
    import os

    from dask_pipes_spark.session import (
        CommitConflictError,
        publish_generation,
    )

    barrier.wait()  # maximize overlap of the two critical sections
    try:
        publish_generation(
            base,
            os.path.join(base, f"g002{who}.staged"),
            f"g002{who}",
            superseded=["g001"],
            expected_head="g001",
        )
        q.put((who, "won"))
    except CommitConflictError:
        q.put((who, "conflict"))


def test_publish_cas_exactly_one_winner_across_processes(tmp_path):
    """The r10 advice fix: the CAS head-check, rename, and manifest
    append are one flock-guarded critical section, so two PROCESSES
    publishing from the same expected_head cannot both win — exactly
    one succeeds, the loser raises CommitConflictError with its staged
    bytes intact, and the history gains exactly one link."""
    import json
    import multiprocessing as mp
    import os

    from dask_pipes_spark.session import _append_vacuum_link

    base = str(tmp_path / "idx")
    os.makedirs(os.path.join(base, "g001"))
    _append_vacuum_link(base, [], "g001", 0)
    for who in ("A", "B"):
        os.makedirs(os.path.join(base, f"g002{who}.staged"))

    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(2)
    q = ctx.Queue()
    ps = [
        ctx.Process(target=_cas_racer, args=(base, w, barrier, q))
        for w in "AB"
    ]
    for p in ps:
        p.start()
    outcomes = dict(q.get(timeout=60) for _ in ps)
    for p in ps:
        p.join(timeout=60)
    assert sorted(outcomes.values()) == ["conflict", "won"], outcomes
    winner = next(w for w, o in outcomes.items() if o == "won")
    loser = next(w for w, o in outcomes.items() if o == "conflict")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [h["by"] for h in man["history"]] == ["g001", f"g002{winner}"]
    assert os.path.isdir(os.path.join(base, f"g002{loser}.staged")), (
        "loser's staged bytes must survive for the re-base"
    )
    assert not os.path.isdir(os.path.join(base, "g001")), "vacuum ran once"


def test_p30_expiry_layout_and_time_travel_floor(spark):
    """p30 contract: g001 ages out (gone from disk and from the retained
    list), the keep_last floor protects g002 (still readable — time
    travel to it works), the head g003 serves p18's state, and
    EXPIRE.json records the sweep."""
    import json
    import os

    from dask_pipes_spark.operators.pipeline_ops import (
        p18_agg_mv_maintain,
        p30_expire_snapshots,
    )
    from dask_pipes_spark.session import scratch_path
    from tests.conftest import SF_SMOKE

    got = sorted(
        tuple(r) for r in p30_expire_snapshots(spark, SF_SMOKE).collect()
    )
    ref = sorted(
        tuple(r) for r in p18_agg_mv_maintain(spark, SF_SMOKE).collect()
    )
    assert got and got == ref

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p30_expire_{tag}")
    names = set(os.listdir(base))
    assert "agg_mv-g003" in names, "head untouched"
    assert "agg_mv-g002" in names, "keep_last floor must survive expiry"
    assert "agg_mv-g001" not in names, "aged-out snapshot must be deleted"
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert man["retained"] == ["agg_mv-g002"]
    assert all("ts" in h for h in man["history"]), "links carry timestamps"
    rep = json.load(open(os.path.join(base, "EXPIRE.json")))
    assert rep["expired"] == ["agg_mv-g001"]
    assert rep["kept"] == ["agg_mv-g002"]
    # the floor-protected snapshot still answers (time travel intact)
    g2 = spark.read.schema(
        "n_name string, cnt bigint, rev decimal(38,6), qty decimal(38,6)"
    ).parquet(os.path.join(base, "agg_mv-g002"))
    assert g2.count() > 0


def test_expire_snapshots_unit_contract(spark, tmp_path):
    """expire_snapshots unit contract: age cutoff honored (young
    snapshots stay), branch-referenced snapshots never expire, keep_last
    floor regardless of age, re-entrancy, heads untouched."""
    import json
    import os

    from pyspark.sql import functions as F

    from dask_pipes_spark.session import (
        checkpoint_index_generation,
        expire_snapshots,
        set_branch,
    )

    base = str(tmp_path / "idx")
    os.makedirs(base)
    df = spark.range(20).select("id", (F.col("id") * 5).alias("v"))
    checkpoint_index_generation(base, df, superseded=[], generation="g001")
    checkpoint_index_generation(
        base, df.filter("id < 15"), superseded=["g001"],
        generation="g002", retain=3,
    )
    checkpoint_index_generation(
        base, df.filter("id < 10"), superseded=["g002"],
        generation="g003", retain=3,
    )
    checkpoint_index_generation(
        base, df.filter("id < 5"), superseded=["g003"],
        generation="g004", retain=3,
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert man["retained"] == ["g001", "g002", "g003"]

    # a young window expires nothing
    rep = expire_snapshots(base, older_than_sec=3600, keep_last=1)
    assert rep["expired"] == []
    # branch protection: pin g001 (the oldest), expire aggressively
    set_branch(base, "pin", "g001")
    rep = expire_snapshots(base, older_than_sec=0, keep_last=1)
    assert rep["expired"] == ["g002"], rep
    assert set(rep["kept"]) == {"g001", "g003"}
    assert os.path.isdir(os.path.join(base, "g001")), "branch-pinned stays"
    assert os.path.isdir(os.path.join(base, "g003")), "keep_last floor"
    assert not os.path.isdir(os.path.join(base, "g002"))
    assert os.path.isdir(os.path.join(base, "g004")), "head never expires"
    # re-entrant
    rep2 = expire_snapshots(base, older_than_sec=0, keep_last=1)
    assert rep2["expired"] == [], rep2
    assert spark.read.parquet(os.path.join(base, "g004")).count() == 5


def test_p31_compaction_bounds_manifest_and_preserves_state(spark):
    """p31 layout contract (round 11): after twelve maintenance windows
    with in-loop compaction (keep_tail=4, retain=2), the history TAIL is
    bounded at keep_tail while checkpoint.folded carries the rest; the
    retained time-travel window still resolves on disk; the head serves;
    GC and a fresh compaction are both no-ops (steady state)."""
    import json
    import os

    from dask_pipes_spark.operators.pipeline_ops import (
        p31_manifest_compaction,
    )
    from dask_pipes_spark.session import (
        compact_manifest,
        gc_index_dir,
        scratch_path,
    )

    assert p31_manifest_compaction(spark, SF_SMOKE).count() >= 0
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p31_compact_{tag}")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert len(man["history"]) == 4, "tail bounded at keep_tail"
    ck = man["checkpoint"]
    assert ck["folded"] == 8, "12 links total, 8 folded"
    assert man["history"][-1]["by"] == "agg_mv-g012"
    assert set(man["retained"]) == {"agg_mv-g010", "agg_mv-g011"}
    for name in man["retained"]:
        assert os.path.isdir(os.path.join(base, name)), (
            "compaction never touches the retained window"
        )
    report = json.load(open(os.path.join(base, "COMPACT.json")))
    assert report["total_folded"] == 8
    # steady state: nothing further to fold, nothing for GC to remove
    rep = compact_manifest(base, keep_tail=4)
    assert rep["folded"] == 0, "re-entrant"
    rep = gc_index_dir(base, older_than_sec=0)
    assert rep["removed"] == [], rep
    assert "agg_mv-g012" in rep["heads"]


def test_atomic_pair_commit_kill_points(spark, tmp_path):
    """checkpoint_index_generations contract (round 11 — the r10
    verdict's item 2): BOTH tables commit under ONE history link, and at
    every kill point the manifest never names a state where one table's
    head moved and the other's didn't.

    - kill after tmp writes: retry reuses BOTH durable tmps (proven with
      decoy DataFrames that must not be recomputed);
    - kill between the two renames: the first final exists on disk but
      the manifest still resolves the OLD pair — readers are unaffected;
      retry completes the second rename and appends exactly ONE link;
    - kill between link and vacuum: resurrected superseded dirs are
      re-swept, history gains no second link."""
    import json
    import os

    from pyspark.sql import functions as F

    from dask_pipes_spark.session import (
        _link_bys,
        checkpoint_index_generations,
    )

    base = str(tmp_path / "idx")
    os.makedirs(base)
    a1 = spark.range(30).select("id", (F.col("id") * 2).alias("v"))
    c1 = spark.range(30).select("id", (F.col("id") * 3).alias("w"))
    checkpoint_index_generations(
        base, [(a1, [], "a-g001"), (c1, [], "c-g001")]
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert _link_bys(man["history"][0]) == ["a-g001", "c-g001"]

    # --- kill point 1: both tmps durable, no rename ran ---
    a1.filter("id < 10").coalesce(1).write.parquet(
        os.path.join(base, "a-g002.tmp")
    )
    c1.filter("id < 5").coalesce(1).write.parquet(
        os.path.join(base, "c-g002.tmp")
    )
    decoy = spark.range(999)
    checkpoint_index_generations(
        base,
        [(decoy, ["a-g001"], "a-g002"), (decoy, ["c-g001"], "c-g002")],
    )
    assert spark.read.parquet(os.path.join(base, "a-g002")).count() == 10
    assert spark.read.parquet(os.path.join(base, "c-g002")).count() == 5, (
        "retry must reuse the durable tmps, not rewrite from the args"
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert len(man["history"]) == 2
    assert _link_bys(man["history"][-1]) == ["a-g002", "c-g002"]

    # --- kill point 2: first rename done, second tmp durable, no link ---
    a1.filter("id < 10").coalesce(1).write.parquet(
        os.path.join(base, "a-g003")
    )
    open(os.path.join(base, "a-g003", "MARKER"), "w").close()
    spark.read.parquet(os.path.join(base, "c-g002")).coalesce(1).write.parquet(
        os.path.join(base, "c-g003.tmp")
    )
    # observable state: the manifest still serves the OLD pair
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    bys = [b for h in man["history"] for b in _link_bys(h)]
    assert "a-g003" not in bys and "c-g003" not in bys, (
        "a kill between renames must not be observable through the manifest"
    )
    checkpoint_index_generations(
        base,
        [(decoy, ["a-g002"], "a-g003"), (decoy, ["c-g002"], "c-g003")],
    )
    assert os.path.exists(os.path.join(base, "a-g003", "MARKER")), (
        "resume must keep the already-renamed final, never rewrite it"
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert len(man["history"]) == 3, "exactly one link for the pair"
    assert _link_bys(man["history"][-1]) == ["a-g003", "c-g003"]
    assert not os.path.exists(os.path.join(base, "a-g002"))
    assert not os.path.exists(os.path.join(base, "c-g002")), "vacuum ran"

    # --- kill point 3: link done, vacuum not — resurrected dirs ---
    a1.filter("id < 10").coalesce(1).write.parquet(
        os.path.join(base, "a-g002")
    )
    checkpoint_index_generations(
        base,
        [(decoy, ["a-g002"], "a-g003"), (decoy, ["c-g002"], "c-g003")],
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert len(man["history"]) == 3, "same-args retry appends no second link"
    assert not os.path.exists(os.path.join(base, "a-g002")), "re-swept"


def _mk_generation(base, name):
    """Plant a committed generation: directory with a DATA marker plus the
    manifest link (pure metadata — no Spark needed)."""
    import os

    from dask_pipes_spark.session import publish_generation

    staged = os.path.join(base, name + ".staged")
    os.makedirs(staged, exist_ok=True)
    with open(os.path.join(staged, "DATA"), "w") as fh:
        fh.write(name)
    return publish_generation(base, staged, name, superseded=[])


def test_expire_rewrites_manifest_before_deleting(tmp_path, monkeypatch):
    """Crash-ordering contract (round 11, advice item): expire_snapshots
    rewrites VACUUM.json's retained list BEFORE unlinking any snapshot
    directory, so a kill mid-expiry leaves on-disk orphans (sweepable by
    gc_index_dir) — never a manifest claiming readable snapshots whose
    bytes are gone. Pinned by fault injection: rmtree raises on first
    call; the manifest must already exclude the expired name, and the
    orphaned directory must then be GC-sweepable."""
    import json
    import os
    import shutil

    from dask_pipes_spark.session import (
        _append_vacuum_link,
        expire_snapshots,
        gc_index_dir,
    )

    base = str(tmp_path / "idx")
    _mk_generation(base, "g001")
    # supersede g001 with retain=1 so it lands on the retained list, then
    # age its link far past any cutoff
    os.makedirs(os.path.join(base, "g002"))
    _append_vacuum_link(base, ["g001"], "g002", retain=1)
    man_path = os.path.join(base, "VACUUM.json")
    man = json.load(open(man_path))
    assert man["retained"] == ["g001"]
    for h in man["history"]:
        h["ts"] = 1.0  # epoch-old supersession
    with open(man_path, "w") as fh:
        json.dump(man, fh)

    real_rmtree = shutil.rmtree

    def boom(path, *a, **kw):
        raise OSError("injected kill between manifest rewrite and delete")

    monkeypatch.setattr(shutil, "rmtree", boom)
    try:
        expire_snapshots(base, older_than_sec=10.0, keep_last=0)
    except OSError:
        pass
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)

    man = json.load(open(man_path))
    assert man["retained"] == [], (
        "manifest must be rewritten before any directory deletion"
    )
    assert os.path.isdir(os.path.join(base, "g001")), "bytes still present"
    # the leftover is exactly the orphan shape gc_index_dir sweeps:
    # superseded + no longer retained
    rep = gc_index_dir(base, older_than_sec=0)
    assert "g001" in rep["removed"]


def test_expire_keep_last_floor_ignores_tsless_links(tmp_path):
    """keep_last protects the newest TIMESTAMPED retained generations
    (round 11, advice item): ts-less pre-r10 links are already
    unexpirable, so they must not occupy floor slots — otherwise the
    genuinely newest timestamped snapshot expires despite keep_last."""
    import json
    import os

    from dask_pipes_spark.session import _append_vacuum_link, expire_snapshots

    base = str(tmp_path / "idx")
    os.makedirs(base)
    for g in ("g001", "g002", "g003", "g004"):
        os.makedirs(os.path.join(base, g))
    _append_vacuum_link(base, [], "g001", retain=3)
    _append_vacuum_link(base, ["g001"], "g002", retain=3)
    _append_vacuum_link(base, ["g002"], "g003", retain=3)
    _append_vacuum_link(base, ["g003"], "g004", retain=3)
    man_path = os.path.join(base, "VACUUM.json")
    man = json.load(open(man_path))
    assert set(man["retained"]) == {"g001", "g002", "g003"}
    # g001: legacy ts-less link; g002 old; g003 newest timestamped
    for h in man["history"]:
        if "g001" in h["superseded"]:
            del h["ts"]
        elif "g002" in h["superseded"]:
            h["ts"] = 1.0
        elif "g003" in h["superseded"]:
            h["ts"] = 2.0
    with open(man_path, "w") as fh:
        json.dump(man, fh)

    rep = expire_snapshots(base, older_than_sec=10.0, keep_last=1)
    assert rep["expired"] == ["g002"], rep
    assert os.path.isdir(os.path.join(base, "g003")), (
        "the newest timestamped snapshot holds the keep_last floor"
    )
    assert os.path.isdir(os.path.join(base, "g001")), "ts-less stays (age unknown)"


def test_gc_guard_precedes_unlink(tmp_path):
    """The never-sweep-a-live-head invariant is a PREVENTION (round 11,
    advice item): a live head whose caller-chosen name matches the torn
    filters (here a generation literally named ``weird.tmp``) makes GC
    raise BEFORE any deletion — the directory survives intact, where the
    old post-hoc check deleted first and raised after."""
    import os

    import pytest

    from dask_pipes_spark.session import gc_index_dir

    base = str(tmp_path / "idx")
    _mk_generation(base, "weird.tmp")
    with pytest.raises(RuntimeError, match="nothing was deleted"):
        gc_index_dir(base, older_than_sec=0)
    marker = os.path.join(base, "weird.tmp", "DATA")
    assert os.path.exists(marker), "guard must fire before any rmtree"
    with open(marker) as fh:
        assert fh.read() == "weird.tmp"


def test_delete_branch_without_main_never_dangles_head(tmp_path):
    """delete_branch with no 'main' ref (round 11, advice item): the
    vacuum link anchors at the previous durable history head — never a
    self-superseding {superseded:[X], by:X} link whose retain=0 sweep
    deletes the directory the manifest head names. And when the deleted
    branch pointed at the ONLY generation, the link is skipped entirely:
    the head stays readable."""
    import json
    import os

    from dask_pipes_spark.session import delete_branch, set_branch

    base = str(tmp_path / "idx")
    _mk_generation(base, "g001")
    _mk_generation(base, "g002")
    set_branch(base, "feature", "g002")

    retired = delete_branch(base, "feature", retain=0)
    assert retired == "g002"
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    head = man["history"][-1]["by"]
    assert head == "g001", "anchor falls back to the previous history head"
    assert os.path.isdir(os.path.join(base, head)), "head never dangles"
    assert not os.path.isdir(os.path.join(base, "g002")), "retired gen swept"
    for h in man["history"]:
        assert h["by"] not in h["superseded"], "self-superseding link written"

    # only-generation case: skip the link, keep the head readable
    base2 = str(tmp_path / "idx2")
    _mk_generation(base2, "solo")
    set_branch(base2, "feature", "solo")
    hist_before = json.load(open(os.path.join(base2, "VACUUM.json")))["history"]
    delete_branch(base2, "feature", retain=0)
    man2 = json.load(open(os.path.join(base2, "VACUUM.json")))
    assert man2["history"] == hist_before, "no self-superseding link appended"
    assert os.path.isdir(os.path.join(base2, "solo")), "sole head stays readable"


def test_pair_commit_rechecks_under_second_lock(spark, tmp_path):
    """Double-commit race (round 12, advice item): a same-args retry that
    passed the first committed-check, then lost the data-plane race to a
    concurrent twin that committed the whole transaction, must NOT append
    a second history link — the rename guard (`if not exists(final)`)
    lets a second rename through, so without the re-check under the
    second lock the duplicate link lands silently.
    The interleave is forced deterministically: the first move's
    `coalesce` hook runs the competing commit to completion — after the
    sibling move's durable `c-g001.tmp` has landed, so the twin reuses
    that tmp instead of rewriting it under the sibling's writer."""
    import json
    import os

    from pyspark.sql import functions as F

    from dask_pipes_spark.session import (
        _link_bys,
        checkpoint_index_generations,
    )

    base = str(tmp_path / "idx")
    os.makedirs(base)
    a1 = spark.range(20).select("id", (F.col("id") * 2).alias("v"))
    c1 = spark.range(20).select("id", (F.col("id") * 3).alias("w"))

    class Racer:
        """Delegates to a real DataFrame, but the competing transaction
        commits inside `coalesce` — i.e. between the caller's first
        committed-check (passed: nothing committed yet) and its second
        lock section."""

        def __init__(self, df):
            self._df = df

        def coalesce(self, n):
            _wait_for(os.path.join(base, "c-g001.tmp", "_SUCCESS"))
            checkpoint_index_generations(
                base, [(a1, [], "a-g001"), (c1, [], "c-g001")]
            )
            return self._df.coalesce(n)

    checkpoint_index_generations(
        base, [(Racer(a1), [], "a-g001"), (c1, [], "c-g001")]
    )
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    links = [h for h in man["history"] if "a-g001" in _link_bys(h)]
    assert len(links) == 1, (
        f"the losing retry must observe the winner under the second lock "
        f"and append no duplicate link: {man['history']}"
    )
    # the winner's data serves; the loser's stale tmp is GC debris at most
    assert spark.read.parquet(os.path.join(base, "a-g001")).count() == 20


def _wait_for(path: str, timeout: float = 120.0) -> None:
    """Block until ``path`` exists; raise after ``timeout`` seconds."""
    import os
    import time

    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            raise TimeoutError(f"{path} did not appear within {timeout}s")
        time.sleep(0.05)


def test_single_commit_rechecks_under_second_lock(spark, tmp_path):
    """The single-table twin of the double-commit race: a same-args
    `checkpoint_index_generation` that passed its first committed-check,
    then lost the data-plane race to a twin that committed the same
    generation, must append no second link. As a one-move call of
    `checkpoint_index_generations` it re-checks under the second lock;
    its former standalone path raised `OSError` (directory not empty)
    renaming the loser's tmp onto the winner's final."""
    import json
    import os

    from pyspark.sql import functions as F

    from dask_pipes_spark.session import (
        _link_bys,
        checkpoint_index_generation,
    )

    base = str(tmp_path / "idx")
    os.makedirs(base)
    a1 = spark.range(20).select("id", (F.col("id") * 2).alias("v"))

    class Racer:
        """Delegates to a real DataFrame; the competing commit of the same
        generation runs to completion inside `coalesce`."""

        def __init__(self, df):
            self._df = df

        def coalesce(self, n):
            checkpoint_index_generation(base, a1, [], "a-g001")
            return self._df.coalesce(n)

    checkpoint_index_generation(base, Racer(a1), [], "a-g001")
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    links = [h for h in man["history"] if "a-g001" in _link_bys(h)]
    assert len(links) == 1, man["history"]
    assert spark.read.parquet(os.path.join(base, "a-g001")).count() == 20


def test_delete_branch_anchors_at_checkpoint_head(tmp_path):
    """delete_branch after manifest compaction (round 12, advice item):
    when every tail link's `by` is the deleted head itself, the anchor
    search must consult checkpoint.heads — durable live heads whose links
    compact_manifest folded — instead of skipping the supersession link
    and leaking the retired branch head as a forever-live, unsweepable
    head."""
    import json
    import os

    from dask_pipes_spark.session import (
        _link_bys,
        compact_manifest,
        delete_branch,
        gc_index_dir,
        set_branch,
    )

    base = str(tmp_path / "idx")
    for g in ("g001", "g002", "g003", "g004"):
        _mk_generation(base, g)
    rep = compact_manifest(base, keep_tail=1)
    assert rep["folded"] == 3 and "g002" in rep["heads"]
    # scenario: the one tail link's by IS the branch head being deleted
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    assert [b for h in man["history"] for b in _link_bys(h)] == ["g004"]
    set_branch(base, "feature", "g004")

    retired = delete_branch(base, "feature", retain=0)
    assert retired == "g004"
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    last = man["history"][-1]
    assert last["superseded"] == ["g004"], (
        "the supersession link must land (anchored at a checkpoint head), "
        f"not be skipped: {man['history']}"
    )
    assert last["by"] in set(rep["heads"]), "anchor is a folded live head"
    assert not os.path.isdir(os.path.join(base, "g004")), "retired gen swept"
    # and GC now provably cannot resurrect it as a live head
    gc = gc_index_dir(base, older_than_sec=0)
    assert "g004" not in gc["heads"]


def test_head_bys_survives_compaction(tmp_path):
    """head_bys contract (round 12, advice item): serving readers resolve
    per-table heads by prefix over ALL committed generations — after
    compact_manifest folds the pair link of a table that commits less
    often than its sibling, the head exists only in checkpoint.heads, and
    the old history-only scan would IndexError (or resolve a stale head).
    Order is preserved: newest per prefix stays [-1]."""
    import json
    import os

    from dask_pipes_spark.session import (
        _append_vacuum_link,
        _link_bys,
        compact_manifest,
        head_bys,
    )

    base = str(tmp_path / "idx")
    os.makedirs(base)
    # one pair commit (assignments + codes), then codes-only churn
    for g in ("a-g001", "c-g001"):
        os.makedirs(os.path.join(base, g))
    _append_vacuum_link(base, [], ["a-g001", "c-g001"], 0)
    prev = "c-g001"
    for i in range(2, 7):
        nxt = f"c-g{i:03d}"
        os.makedirs(os.path.join(base, nxt))
        _append_vacuum_link(base, [prev], nxt, 0)
        prev = nxt
    rep = compact_manifest(base, keep_tail=2)
    assert rep["folded"] >= 1 and "a-g001" in rep["heads"]
    man = json.load(open(os.path.join(base, "VACUUM.json")))
    tail_bys = [b for h in man["history"] for b in _link_bys(h)]
    assert not [b for b in tail_bys if b.startswith("a-")], (
        "scenario must be real: the assignments head survives ONLY in "
        "checkpoint.heads"
    )
    bys = head_bys(base)
    assert [b for b in bys if b.startswith("a-")][-1] == "a-g001"
    assert [b for b in bys if b.startswith("c-")][-1] == "c-g006", (
        "compaction must not reorder: newest per prefix stays [-1]"
    )
