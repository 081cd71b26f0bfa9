"""Plan-level assertions for group A: pushdown must reach the parquet scan
(SURVEY §2-A / §4.1), plus sink round-trip equality the oracle can't see."""

from pyspark.sql import functions as F

from dask_pipes_spark.session import load
from tests.conftest import SF_SMOKE, jobs_run


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_a1_projection_pruned_to_two_columns(spark, registry):
    queries, _ = registry
    df = queries["a1_scan_parquet"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_quantity" not in read_schema


def test_a2_filter_pushed_to_scan(spark, registry):
    queries, _ = registry
    df = queries["a2_scan_filter_pushdown"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "GreaterThan(l_quantity" in pushed


def test_a3_roundtrip_counts_match_source(spark, registry):
    queries, _ = registry
    out = queries["a3_sink_parquet_roundtrip"](spark, SF_SMOKE).collect()
    src = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .filter(F.col("l_returnflag") == "A")
        .count()
    )
    assert len(out) == 1 and out[0].cnt == src


def test_a5_csv_roundtrip_equals_source(spark, registry):
    queries, _ = registry
    back = queries["a5_scan_csv"](spark, SF_SMOKE)
    src = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    assert back.count() == src.count()
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


def test_a7_bucketed_join_has_no_exchange(spark, registry):
    """The whole point of bucketing: the fact-fact join plan contains no
    shuffle Exchange — co-location was paid once at write time."""
    queries, _ = registry
    queries["a7_bucketed_join"](spark, SF_SMOKE)  # writes the bucketed tables
    # at smoke scale Catalyst would just broadcast (also shuffle-free);
    # disable broadcast to surface the large-scale plan: bucketed SMJ
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ob = spark.table("dps_orders_b")
        lb = spark.table("dps_lineitem_b")
        bare = _plan(lb.join(ob, lb.l_orderkey == ob.o_orderkey))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in bare
    assert "Exchange hashpartitioning" not in bare


def test_a7_bucketed_join_matches_plain_join(spark, registry):
    """Same aggregate through the bucketed path and the plain shuffle path."""
    queries, _ = registry
    a = {r.o_orderpriority: (r.n_items, round(r.revenue, 2))
         for r in queries["a7_bucketed_join"](spark, SF_SMOKE).collect()}
    b = {r.o_orderpriority: (r.n_items, round(r.revenue, 2))
         for r in queries["c13_join_skew_salted"](spark, SF_SMOKE).collect()}
    assert a == b


def test_a8_partition_filters_reach_the_scan(spark, registry):
    from dask_pipes_spark.session import scratch_path

    queries, _ = registry
    queries["a8_partition_pruned_scan"](spark, SF_SMOKE)  # writes the layout
    out = scratch_path("dps_a8_events_by_type_sf0.001")
    back = spark.read.parquet(out)
    plan = _plan(back.filter(F.col("event_type") == "click"))
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_type" in pf  # the filter prunes directories, not rows


def test_a8_dynamic_partition_pruning_from_dim_filter(spark, registry):
    """A join whose dim side is filtered must inject a dynamicpruning
    subquery on the partitioned fact scan — Spark's runtime analog of
    Dask's divisions-based partition pruning."""
    from dask_pipes_spark.session import scratch_path

    queries, _ = registry
    queries["a8_partition_pruned_scan"](spark, SF_SMOKE)
    out = scratch_path("dps_a8_events_by_type_sf0.001")
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1)], "event_type string, weight double"
    ).filter(F.col("weight") > 0.5)
    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        plan = _plan(fact.join(dim, "event_type").groupBy("event_type").count())
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", prev)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_a10_binary_scan_sizes_match_disk(spark, registry):
    """binaryFile rows must report the exact on-disk byte size, from both
    the length metadata column and the materialized content bytes."""
    import os

    queries, _ = registry
    rows = queries["a10_scan_binary"](spark, SF_SMOKE).collect()
    on_disk = {
        f: os.path.getsize(os.path.join(SF_SMOKE, f))
        for f in os.listdir(SF_SMOKE)
        if f.endswith(".parquet")
    }
    assert {r["file_name"] for r in rows} == set(on_disk)
    for r in rows:
        assert r["meta_bytes"] == on_disk[r["file_name"]]
        assert r["content_bytes"] == on_disk[r["file_name"]]


def test_a11_text_roundtrip_equals_source(spark, registry):
    queries, _ = registry
    back = queries["a11_scan_text"](spark, SF_SMOKE)
    src = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    a = sorted((r.doc_id, r.text) for r in back.collect())
    b = sorted((r.doc_id, r.text) for r in src.collect())
    assert a == b


def test_a12_schema_evolution_null_partition(spark, registry):
    """mergeSchema must reconcile generations: v1 rows (even keys) carry
    NULL for the evolved column, v2 rows all carry it."""
    queries, _ = registry
    rows = {r.is_v2: r for r in queries["a12_schema_evolution_merge"](spark, SF_SMOKE).collect()}
    assert set(rows) == {True, False}
    assert rows[False].n_with_priority == 0          # v1: column absent → NULL
    assert rows[True].n_with_priority == rows[True].n_rows  # v2: always present
    assert rows[True].n_rows + rows[False].n_rows == 1500


def test_a13_rowgroup_stats_match_duckdb_at_smoke_sf(spark, registry):
    """Cross-check pyarrow's footer parse against DuckDB's at sf0.001 (the
    oracle itself is pinned to the driver's sf0.01 path) and against the
    actual data: min/max must bound the true key range exactly."""
    import duckdb

    queries, _ = registry
    got = sorted(
        (r.row_group_id, r.n_rows, r.min_key, r.max_key, r.null_count)
        for r in queries["a13_rowgroup_stats"](spark, SF_SMOKE).collect()
    )
    con = duckdb.connect()
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"""SELECT row_group_id, CAST(row_group_num_rows AS BIGINT),
                       CAST(stats_min_value AS BIGINT),
                       CAST(stats_max_value AS BIGINT),
                       CAST(stats_null_count AS BIGINT)
                FROM parquet_metadata('{SF_SMOKE}/orders.parquet')
                WHERE path_in_schema = 'o_orderkey'"""
        ).fetchall()
    )
    assert got == want
    lo, hi = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .agg(F.min("o_orderkey"), F.max("o_orderkey"))
        .collect()[0]
    )
    assert min(r[2] for r in got) == lo and max(r[3] for r in got) == hi


def test_a14_dropmalformed_equals_good_count(spark):
    """DROPMALFORMED must keep exactly the rows PERMISSIVE classifies as
    good — the two modes agree on what 'malformed' means."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dask_pipes_spark.operators.scans import a14_csv_malformed_audit
    from dask_pipes_spark.session import scratch_path

    audit = a14_csv_malformed_audit(spark, SF_SMOKE).collect()[0]
    assert audit.n_corrupt > 0 and audit.n_good > 0
    assert audit.n_rows == audit.n_good + audit.n_corrupt

    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
        ]
    )
    # Measured trap (documented in a14): a zero-column scan — count() —
    # never parses fields, so DROPMALFORMED detects nothing and reports the
    # RAW line count; only a query that materializes columns drops rows.
    dropped = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED")
        .csv(scratch_path("dps_a14_csv"))
    )
    assert dropped.count() == audit.n_rows  # pinned: count() sees raw lines
    assert dropped.agg(F.count("l_quantity")).collect()[0][0] == audit.n_good
    assert len(dropped.collect()) == audit.n_good
    # and the surviving rows are exactly the non-planted ones (collect
    # forces the full parse, so the malformed lines are really gone)
    planted = [
        r
        for r in dropped.collect()
        if (r.l_orderkey + r.l_linenumber) % 7 == 0
    ]
    assert planted == []


def test_a15_sorted_layout_beats_arrival_order(spark):
    """The write-side zone-map contract: the verdict frame must show the
    key-sorted layout (near-)disjoint and never worse than arrival order,
    and the write→read roundtrip must account for every row."""
    from dask_pipes_spark.operators.scans import a15_sorted_write_zonemap

    row = a15_sorted_write_zonemap(spark, SF_SMOKE).collect()[0]
    assert row.sorted_disjoint is True
    assert row.sorted_not_worse is True
    expected = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").count()
    assert row.n_rows_roundtrip == expected


def test_a15_strict_raw_overlap_factors(spark):
    """The pre-promotion STRICT contract, kept as a diagnosable test next
    to the oracle's threshold verdicts (round-5 advice): the key-sorted
    layout must be PERFECTLY disjoint (factor == 1.0) and strictly better
    than arrival order at this fixture. If a Spark upgrade changes the
    range sampler or row-group sizing, this assertion names the factor
    instead of flipping an opaque oracle hash."""
    from dask_pipes_spark.operators.scans import (
        a15_sorted_write_zonemap,
        zonemap_overlap_factor,
    )
    from dask_pipes_spark.session import scratch_path

    a15_sorted_write_zonemap(spark, SF_SMOKE).collect()  # writes layouts
    ns, fs = zonemap_overlap_factor(scratch_path("dps_a15_sorted"))
    na, fa = zonemap_overlap_factor(scratch_path("dps_a15_arrival"))
    assert ns > 1 and na > 1, (ns, na)  # multi-row-group, or nothing scored
    assert fs == 1.0, f"sorted layout no longer disjoint: factor={fs}"
    assert fs < fa, f"sorted ({fs}) not strictly better than arrival ({fa})"


def test_a19_bloom_prunes_files_and_misses_nothing(spark):
    """a19 contract: the driver-side bloom probe plans the scan over a
    STRICT subset of the base files (the layout is o_orderkey-ranged, so
    min/max zone maps could prune nothing for a custkey lookup), and the
    pruned scan returns exactly the full-scan answer — no false
    negatives, false positives removed by the residual filter."""
    import os

    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.scans import a19_bloom_file_skip
    from dask_pipes_spark.session import scratch_path
    from tests.conftest import SF_SMOKE

    df = a19_bloom_file_skip(spark, SF_SMOKE)
    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_a19_bloom_{tag}")
    total = [
        f
        for f in os.listdir(os.path.join(base, "base"))
        if f.endswith(".parquet")
    ]
    scanned = {os.path.basename(p) for p in df.inputFiles()}
    assert scanned, "candidate set must be non-empty at sf0.001"
    assert scanned < set(total), (
        f"bloom must prune: scanned {len(scanned)}/{len(total)} files"
    )
    # exactness vs the full scan (no candidate file wrongly dropped)
    keys = [r.o_custkey for r in df.select("o_custkey").distinct().collect()]
    full = (
        spark.read.parquet(os.path.join(base, "base"))
        .filter(F.col("o_custkey").isin(keys))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_a19_probe_hash_matches_build_hash(spark):
    """The driver-side md5 slicer and Spark's build-side expression agree
    on every position for a spread of keys — the invariant that makes
    false negatives impossible."""
    from pyspark.sql import functions as F

    from dask_pipes_spark.operators.scans import (
        _A19_BLOOM_BITS,
        _A19_BLOOM_K,
        _a19_positions_py,
    )

    keys = [0, 7, 1007, 123456789, 2**40 + 3]
    k, w = _A19_BLOOM_K, _A19_BLOOM_BITS
    df = spark.createDataFrame([(x,) for x in keys], "key bigint")
    hx = F.md5(F.col("key").cast("string"))
    rows = df.select(
        "key",
        F.array(
            *[
                F.conv(F.substring(hx, 1 + i * w, w), 16, 10).cast("int")
                for i in range(k)
            ]
        ).alias("pos"),
    ).collect()
    for r in rows:
        assert list(r.pos) == _a19_positions_py(r.key)


def test_load_skips_schema_inference_of_unchanged_file(spark, tmp_path):
    """A repeat load() of an unchanged parquet file runs no Spark job (its
    inferred schema is remembered), and a rewrite with another schema is
    picked up, also when the new file has the same byte size and the old
    mtime is restored (as ``cp -p`` or ``rsync -t`` leave it)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path, other = tmp_path / "t.parquet", tmp_path / "other"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load(spark, str(tmp_path), "t").columns == ["a"]
    assert jobs_run(spark, lambda: load(spark, str(tmp_path), "t")) == 0

    before = os.stat(path)
    pq.write_table(pa.table({"b": [1, 2, 3]}), other)
    os.replace(other, path)
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(path)
    assert (after.st_size, after.st_mtime_ns) == (before.st_size, before.st_mtime_ns)
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["b"]
    assert sorted(r.b for r in df.collect()) == [1, 2, 3]

    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]
