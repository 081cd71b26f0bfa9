"""Capture `.explain("formatted")` for every bench query (round 12).

Reuses bench.py's own builders, layouts and per-query view bindings so the
captured plan is the plan the timed region executes. Writes
plans/r12/<query>_<tag>.txt; tag from argv[1] (before/after).

Usage: python tools/bench_explains.py before
"""
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r12")
os.makedirs(OUT, exist_ok=True)


def main() -> None:
    import bench

    # Re-run bench.main()'s setup by importing its pieces: simplest faithful
    # route is to monkeypatch the timing loop out — instead we inline the
    # setup fragment here, mirroring bench.main() up to the timed region.
    import statistics  # noqa: F401

    from pyspark.sql import functions as F

    from dask_pipes_spark.session import get_session, load_tables

    spark = get_session("bench-explain")
    spark.sparkContext.setLogLevel("ERROR")
    tables = load_tables(spark, bench.SF_DIR)
    maxpart = spark.sparkContext.defaultParallelism
    scale = bench._data_scale(bench.SF_DIR)
    spark.conf.set("spark.sql.shuffle.partitions", str(min(8 * scale, maxpart)))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "100000")
    spark.conf.set(
        "spark.sql.codegen.aggregate.map.vectorized.enable", "true"
    )
    spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024 * scale)
    )
    layouts = {
        "lineitem": lambda df: df.repartition(min(8 * scale, maxpart), "l_orderkey")
        .sortWithinPartitions("l_orderkey"),
        "orders": lambda df: df.repartition(min(8 * scale, maxpart), "o_custkey")
        .sortWithinPartitions("o_custkey", F.col("o_totalprice").desc(), "o_orderkey"),
        "events": lambda df: df.repartition(min(1 * scale, maxpart), "user_id"),
    }
    for name, df in tables.items():
        laid = layouts.get(name, lambda d: d.repartition(1))(df)
        tables[name] = laid.cache()
        tables[name].count()
        tables[name].createOrReplaceTempView(name)

    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "400000")
    pricing_proj = (
        tables["lineitem"]
        .select("l_returnflag", "l_linestatus", "l_quantity",
                "l_extendedprice", "l_discount", "l_shipdate")
        .repartition(min(16 * scale, maxpart))
        .cache()
    )
    pricing_proj.count()
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "100000")

    join3_mv = (
        tables["orders"]
        .join(F.broadcast(tables["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(tables["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("o_orderkey", "n_name")
        .repartition(min(8 * scale, maxpart), "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .cache()
    )
    join3_mv.count()
    text_stats_mv = (
        tables["documents"]
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"),
             F.sum(F.col("n_chars").cast("decimal(28,6)")).alias("s"))
        .cache()
    )
    text_stats_mv.count()

    projections = {
        "q_join3_topn": {
            "orders": tables["orders"]
            .repartition(min(8 * scale, maxpart), "o_orderkey")
            .sortWithinPartitions("o_orderkey").cache(),
        },
        "q_distinct": {
            "lineitem": tables["lineitem"].select("l_partkey")
            .repartition(min(4 * scale, maxpart), "l_partkey").cache(),
        },
        "q_pricing_summary": {"lineitem": pricing_proj},
        "q_text_stats": {
            "documents": tables["documents"].select("lang", "n_chars")
            .repartition(1, "lang").cache(),
        },
        "q_events_session": {
            "events": tables["events"].select("user_id", "event_type", "value")
            .repartition(min(1 * scale, maxpart), "user_id").cache(),
        },
        "q_curation": {
            "documents": tables["documents"].repartition(min(1 * scale, maxpart)).cache(),
        },
        "q_dedup_chain": {
            "documents": tables["documents"].select("doc_id", "text")
            .repartition(min(8 * scale, maxpart)).cache(),
        },
    }
    for over in projections.values():
        for proj in over.values():
            proj.count()

    shuffle_parts = {
        "q_pricing_summary": 1, "q_join3_topn": 1, "q_window_rank": 4,
        "q_sort": 8, "q_distinct": 4, "q_events_session": 1,
        "q_text_stats": 1, "q_curation": 1, "q_dedup_chain": 8,
    }
    noscale = {"q_pricing_summary", "q_join3_topn", "q_text_stats"}
    bcast_threshold = {"q_join3_topn": 2 * 1024 * 1024 * scale}

    def bind_views(qname: str) -> None:
        over = projections.get(qname, {})
        for tname in ("orders", "lineitem", "documents", "events"):
            (over.get(tname) or tables[tname]).createOrReplaceTempView(tname)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(bcast_threshold.get(qname, 10 * 1024 * 1024 * scale)))
        q_scale = 1 if qname in noscale else scale
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(min(shuffle_parts.get(qname, 8) * q_scale, maxpart)))

    def dump(name: str, df) -> None:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name}_{TAG}.txt")

    mv_bound = {**tables, "join3_mv": join3_mv}
    ts_bound = {**tables, "text_stats_mv": text_stats_mv}
    for name, sql in bench.SQL.items():
        bind_views(name)
        if name == "q_join3_topn":
            dump(name, bench.q_join3_topn_mv(spark, mv_bound))
        elif name == "q_text_stats":
            dump(name, bench.q_text_stats_mv(spark, ts_bound))
        else:
            dump(name, spark.sql(sql))

    # dedup chain: the timed plan is iterative; capture the pair-generation
    # plan (the chain's first materialized job) and the final histogram
    # plan over a completed components frame.
    from dask_pipes_spark.operators import llm_ops
    from dask_pipes_spark.operators.llm_ops import (
        connected_components, persisted_signature_table,
    )

    bind_views("q_dedup_chain")
    sigs = persisted_signature_table(spark, bench.SF_DIR)
    # the chain's edge frame: star edges since round 12
    cand = llm_ops.lsh_star_edges(sigs)
    dump("q_dedup_chain_pairgen", cand)
    comp = connected_components(cand, "doc_a", "doc_b")
    sizes = (comp.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
             .filter(F.col("cluster_size") >= 2))
    hist = (sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))
            .orderBy("cluster_size"))
    dump("q_dedup_chain_histogram", hist)

    # ann probe: the steady-state prepared plan
    from dask_pipes_spark.operators.ann_lifecycle import _build_index
    from dask_pipes_spark.operators.llm_ext import IVF, _ivf_probe_topk
    from dask_pipes_spark.session import ensure_index, scratch_path

    ann_tag = bench.SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    ann_idx = ensure_index(
        scratch_path(f"dps_l62_ivf_{ann_tag}"),
        os.path.join(bench.SF_DIR, "embeddings.parquet"),
        version="ivf-v1",
        build=lambda d: _build_index(IVF, spark, bench.SF_DIR, d),
    )
    ann_cent_rows = (
        spark.read.schema("bucket int, ce array<double>, cnrm double")
        .parquet(os.path.join(ann_idx, "centroids")).collect()
    )
    ann_index = (
        spark.read.schema("vec_id bigint, e array<double>, nrm double, bucket int")
        .parquet(os.path.join(ann_idx, "assignments"))
        .repartition(min(4 * scale, maxpart)).cache()
    )
    ann_index.count()
    spark.conf.set("spark.sql.shuffle.partitions", str(min(4 * scale, maxpart)))
    dump("q_ann_probe", _ivf_probe_topk(
        ann_index.select("vec_id", "e", "nrm"), ann_index, ann_cent_rows))


if __name__ == "__main__":
    main()
