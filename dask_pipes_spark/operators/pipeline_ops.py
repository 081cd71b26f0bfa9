"""Group P — pipeline-layer operators (SURVEY.md §2-P).

p1 exercises the full Pipeline DAG (fit → params → lazy transform → persist);
p2 is the concrete fitted-preprocess chain with a *full SQL oracle*: because
fit params are computed with exact decimal sums, the oracle can recompute
them in SQL subqueries and the fitted transform matches bitwise — the
fit/transform contract is verified end-to-end, not just smoke-tested.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dask_pipes_spark.pipeline import (
    CategoryEncoder,
    DateExpander,
    FnNode,
    NumericImputer,
    Pipeline,
    StandardScaler,
)
from dask_pipes_spark.registry import query
from dask_pipes_spark.session import (
    CommitConflictError,
    _read_branches,
    _write_json,
    checkpoint_index_generation,
    compact_manifest,
    dataset_fingerprint,
    delete_branch,
    ensure_index,
    expire_snapshots,
    fanout,
    gc_index_dir,
    head_generations,
    load,
    load_tables,
    merge_branch,
    publish_generation,
    scratch_path,
    set_branch,
)


_P1_ORACLE = """
    WITH stats1 AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             COUNT(*) AS n
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    imputed AS (
      SELECT o_orderkey, o_orderpriority, o_orderdate,
             CASE WHEN o_orderkey % 10 = 0 THEN sx / n
                  ELSE o_totalprice END AS val
      FROM orders CROSS JOIN stats1
    ),
    stats2 AS (
      SELECT CAST(SUM(CAST(val AS DECIMAL(28,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(val * val AS DECIMAL(28,6))) AS DOUBLE) AS s22,
             COUNT(*) AS m
      FROM imputed
    ),
    vocab AS (
      SELECT o_orderpriority AS pr,
             CAST(ROW_NUMBER() OVER (ORDER BY o_orderpriority) - 1 AS INTEGER)
               AS code
      FROM (SELECT DISTINCT o_orderpriority FROM orders)
    )
    SELECT o_orderkey, val AS o_totalprice,
           ROUND((val - s2 / m) / SQRT((s22 - s2 * s2 / m) / (m - 1)), 6)
             AS o_totalprice_z,
           code AS o_orderpriority_code,
           CAST(YEAR(o_orderdate) AS INTEGER) AS o_orderdate_year,
           CAST(MONTH(o_orderdate) AS INTEGER) AS o_orderdate_month,
           CAST(DAYOFWEEK(o_orderdate) + 1 AS INTEGER) AS o_orderdate_dow
    FROM imputed CROSS JOIN stats2 JOIN vocab ON o_orderpriority = pr
    """


@query("p1_pipeline_fit_transform", oracle=_P1_ORACLE)
def p1_pipeline_fit_transform(spark, sf_dir):
    """Full pipeline run (reference: ``Pipeline.fit`` over a node DAG):
    inject NAs → impute with fitted means → standardize → encode categories
    → expand dates. Persistence round-trip is asserted in
    tests/test_pipeline.py. Full SQL oracle since round 2: the fit params
    (imputation mean, post-imputation mean/std, sorted vocabulary) are all
    recomputed in SQL subqueries from the same exact decimal sums — the
    p2 discipline applied to the whole DAG (Spark dayofweek is 1-based,
    DuckDB 0-based, hence the +1)."""
    orders = load(spark, sf_dir, "orders")
    pipe = Pipeline(
        [
            # manufacture NAs so imputation is observable (fixtures are NULL-free)
            FnNode(
                lambda df: df.withColumn(
                    "o_totalprice",
                    F.when(F.col("o_orderkey") % 10 == 0, None).otherwise(
                        F.col("o_totalprice")
                    ),
                ),
                name="inject_nulls",
            ),
            NumericImputer(["o_totalprice"], name="impute"),
            StandardScaler(["o_totalprice"], name="scale"),
            CategoryEncoder("o_orderpriority", name="encode"),
            DateExpander("o_orderdate", name="dates"),
        ]
    )
    out = pipe.fit_transform(orders)
    return out.select(
        "o_orderkey",
        "o_totalprice",
        "o_totalprice_z",
        "o_orderpriority_code",
        "o_orderdate_year",
        "o_orderdate_month",
        "o_orderdate_dow",
    )


@query(
    "p2_fitted_preprocess",
    oracle="""
    WITH stats AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
             COUNT(*) AS n
      FROM customer
    ),
    vocab AS (
      SELECT c_mktsegment AS seg,
             CAST(ROW_NUMBER() OVER (ORDER BY c_mktsegment) - 1 AS INTEGER) AS code
      FROM (SELECT DISTINCT c_mktsegment FROM customer)
    )
    SELECT c_custkey,
           ROUND((c_acctbal - sx / n)
                 / SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS c_acctbal_z,
           code AS c_mktsegment_code
    FROM customer CROSS JOIN stats JOIN vocab ON c_mktsegment = seg
    """,
)
def p2_fitted_preprocess(spark, sf_dir):
    """Fitted preprocess chain under a full SQL oracle: the oracle recomputes
    the fit params (mean/std via exact decimal sums, vocabulary by sorted
    rank) in SQL — proving fit+transform together, bit-exact."""
    cust = load(spark, sf_dir, "customer")
    pipe = Pipeline(
        [
            StandardScaler(["c_acctbal"], name="scale"),
            CategoryEncoder("c_mktsegment", name="encode"),
        ]
    )
    out = pipe.fit_transform(cust)
    return out.select(
        "c_custkey",
        F.col("c_acctbal_z"),
        F.col("c_mktsegment_code"),
    )


@query(
    "p3_llm_corpus_pipeline",
    oracle="""
    WITH filtered AS (
      SELECT * FROM documents WHERE lang IN ('en','fr','es') AND n_chars >= 50
    ),
    deduped AS (
      SELECT * FROM filtered
      QUALIFY ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1
    )
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) AS BIGINT) AS sum_tokens,
           CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) / COUNT(n_chars)
             AS avg_chars
    FROM deduped GROUP BY lang, source
    """,
)
def p3_llm_corpus_pipeline(spark, sf_dir):
    """End-to-end training-data curation pipeline as a Pipeline of nodes —
    the composition the whole engine exists for: language filter → quality
    (length) filter → exact dedup (keep min doc_id per content hash) →
    tokenize → per-(lang, source) corpus stats.

    Every stage is a lazy DataFrame op, so the fitted pipeline is ONE
    Catalyst plan: filters merge and push into the parquet scan, the dedup
    is a keyed window (one shuffle), the final agg is partial+final. At
    100 TB this runs exactly as written — no driver materialization between
    stages; swap the exact-dedup node for the MinHash-LSH operator (l2) for
    near-dedup at the same pipeline position."""
    from pyspark.sql import Window

    from dask_pipes_spark.pipeline import FnNode, Pipeline
    from dask_pipes_spark.registry import davg

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    pipe = Pipeline(
        [
            FnNode(lambda df: df.filter(F.col("lang").isin("en", "fr", "es")), name="lang_filter"),
            FnNode(lambda df: df.filter(F.col("n_chars") >= 50), name="quality_filter"),
            FnNode(
                lambda df: df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn"),
                name="exact_dedup",
            ),
            FnNode(
                lambda df: df.withColumn("n_tokens", F.size(F.split("text", " ")).cast("long")),
                name="tokenize",
            ),
        ]
    )
    curated = pipe.fit_transform(docs)
    return curated.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        davg("n_chars").alias("avg_chars"),
    )


_P4_ORACLE = """
    WITH RECURSIVE v AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, e,
             SQRT(LIST_SUM(LIST_TRANSFORM(e, x -> x * x))) AS nrm
      FROM v
    ),
    pairs AS (
      SELECT a.vec_id AS pa, b.vec_id AS pb
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.e, b.e),
                           p -> p[1] * p[2])) / (a.nrm * b.nrm), 6) >= 0.30
    ),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL
      SELECT pb, pa FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
    SELECT emb.label AS vec_label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) FILTER (WHERE COALESCE(c.component, emb.vec_id)
                                       <> emb.vec_id) AS BIGINT) AS n_purged,
           CAST(COUNT(*) FILTER (WHERE COALESCE(c.component, emb.vec_id)
                                       = emb.vec_id) AS BIGINT) AS n_kept
    FROM embeddings emb LEFT JOIN comp c ON emb.vec_id = c.node
    GROUP BY emb.label
    """


@query("p4_semantic_dedup", oracle=_P4_ORACLE)
def p4_semantic_dedup(spark, sf_dir):
    """Semantic dedup end-to-end: embedding-cosine near-dup pairs (l11's
    predicate, threshold 0.30) -> connected components (l18's propagation) ->
    purge non-representative members, report per-label kept/purged. The
    embedding-space twin of the MinHash pipeline -- at 100 TB the pair stage
    swaps to LSH/IVF candidates and the rest of the plan is unchanged.
    Full SQL oracle since round 2: DuckDB re-derives the same cosine pairs
    and clusters them with a recursive-CTE transitive closure."""
    from dask_pipes_spark.operators.llm_ext import cosine_pairs
    from dask_pipes_spark.operators.llm_ops import connected_components

    e = fanout(load(spark, sf_dir, "embeddings"))
    pairs = cosine_pairs(e, threshold=0.30).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    comp = connected_components(pairs).withColumnRenamed("label", "component")
    labeled = (
        e.select(F.col("vec_id").alias("node"), F.col("label").alias("vec_label"))
        .join(comp, "node", "left")
        .select("node", "vec_label", F.coalesce("component", "node").alias("component"))
    )
    return labeled.groupBy("vec_label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count_if(F.col("component") != F.col("node")).alias("n_purged"),
        F.count_if(F.col("component") == F.col("node")).alias("n_kept"),
    )


@query(
    "p5_incremental_merge",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def p5_incremental_merge(spark, sf_dir):
    """Incremental aggregate maintenance: a materialized per-type aggregate
    built from history (ts < Jan 16) is MERGED with the new partition's
    partial aggregate via full-outer join + coalesce-add, instead of
    rescanning history — the incremental-view-maintenance pattern every
    long-running 100 TB pipeline needs (only the delta is scanned per run).
    Partials stay DECIMAL until after the merge add, so the merged sum is
    bit-identical to the oracle's single-pass aggregate — correctness of the
    merge algebra is exactly what the oracle checks."""
    e = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp_ntz")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("s"),
        )

    hist = partial(e.filter(F.col("ts") < cutoff))
    delta = partial(e.filter(F.col("ts") >= cutoff))
    h, d = hist.alias("h"), delta.alias("d")
    return (
        h.join(d, "event_type", "full_outer")
        .select(
            "event_type",
            (
                F.coalesce(F.col("h.cnt"), F.lit(0))
                + F.coalesce(F.col("d.cnt"), F.lit(0))
            ).alias("n_events"),
            (
                F.coalesce(F.col("h.s"), F.lit(0).cast("decimal(28,6)"))
                + F.coalesce(F.col("d.s"), F.lit(0).cast("decimal(28,6)"))
            )
            .cast("double")
            .alias("sum_value"),
        )
    )


@query(
    "p6_observe_metrics",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(*) FILTER (value >= 50.0) AS n_big,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events
    """,
)
def p6_observe_metrics(spark, sf_dir):
    """Inline data-quality instrumentation via ``DataFrame.observe``: named
    accumulator metrics ride along with a real action (here a parquet sink
    write) at zero extra passes — the production pattern for row-count /
    invariant gates inside an ETL job, instead of a second audit scan over
    100 TB. The observed metrics are returned as a 1-row frame and oracled
    against a direct aggregate, pinning that observe() sees every row
    exactly once. The metric sum stays DECIMAL until the end (bit-stable)."""
    import os
    import tempfile

    from pyspark.sql import Observation

    obs = Observation("dq_metrics")
    e = load(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("value") >= 50.0).alias("n_big"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("s"),
    )
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = scratch_path(f"dps_p6_sink_{tag}")
    e.write.mode("overwrite").parquet(out)
    m = obs.get
    # SUM over zero rows observes NULL — report 0.0, the metric a monitor
    # expects from an empty batch (empty-input sweep contract)
    import pandas as pd

    # pandas/Arrow entry → LocalTableScan (audit-visible, round 12)
    return spark.createDataFrame(
        pd.DataFrame(
            [(m["n_rows"], m["n_big"], float(m["s"]) if m["s"] is not None else 0.0)],
            columns=["n_rows", "n_big", "sum_value"],
        ),
        "n_rows bigint, n_big bigint, sum_value double",
    )


@query(
    "p7_ml_pipeline_interop",
    oracle="""
    WITH ext AS (
      SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi FROM customer
    )
    SELECT c_custkey,
           ROUND((c_acctbal - lo) / (hi - lo), 6) AS acctbal_scaled
    FROM customer CROSS JOIN ext
    """,
)
def p7_ml_pipeline_interop(spark, sf_dir):
    """Native ``pyspark.ml.Pipeline`` interop (SURVEY §3.2/§7.5): a real
    Estimator→Transformer chain — VectorAssembler packs the column,
    MinMaxScaler *fits* the extrema (the dask-pipes ``fit`` analog: two
    exact aggregates collected into the model) and *transforms* to [0,1].
    ``vector_to_array`` unpacks for the relational surface. The fitted
    params are two doubles broadcast in the model closure, so transform is
    a pure per-row projection at any scale; the oracle inlines the same
    (x−min)/(max−min) with identical IEEE arithmetic."""
    from pyspark.ml import Pipeline as MlPipeline
    from pyspark.ml.feature import MinMaxScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    if c.isEmpty():
        # pyspark.ml Estimators refuse a zero-row fit; the transform of
        # nothing is nothing (empty-input sweep contract)
        return spark.createDataFrame(
            [], "c_custkey bigint, acctbal_scaled double"
        )
    pipe = MlPipeline(
        stages=[
            VectorAssembler(inputCols=["c_acctbal"], outputCol="feat"),
            MinMaxScaler(inputCol="feat", outputCol="scaled"),
        ]
    )
    model = pipe.fit(c)
    return model.transform(c).select(
        "c_custkey",
        F.round(vector_to_array("scaled")[0], 6).alias("acctbal_scaled"),
    )


@query(
    "p8_skew_report",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_total,
           CAST(32 AS BIGINT) AS n_nonempty_partitions,
           TRUE AS within_balance_bound,
           TRUE AS no_empty_partitions
    FROM lineitem
    """,
)
def p8_skew_report(spark, sf_dir):
    """Partition-skew diagnostic — the first thing to check when a 100 TB
    job straggles: row counts per physical partition after a key
    repartition, reduced to the balance stats that matter (max/avg skew
    ratio, emptiness). ``spark_partition_id`` is evaluated post-exchange,
    so this measures the REAL layout the hash partitioner produced for the
    key, not an estimate; run it on a sample before committing a partition
    strategy. Two tiny aggregations; the report is O(num_partitions).

    Full oracle since round 5 via the d5-style verdict contract: the raw
    per-partition min/max counts are hash-function-specific and stay out of
    the frame; it carries the exact total row count (no rows lost in the
    exchange), the non-empty partition count (pinned 32 — a near-uniform
    key must fill every bucket at ≥6k rows / 32 buckets), and verdicts
    ``within_balance_bound`` (max/avg ≤ 1.5 — murmur3 on a dense bigint key
    is binomially tight: even at sf0.001's ~190 rows/bucket the ratio stays
    under ~1.25) and ``no_empty_partitions``. The oracle recomputes the
    count and pins the rest."""
    li = load(spark, sf_dir, "lineitem")
    per_part = (
        li.repartition(32, "l_orderkey")
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return per_part.agg(
        F.sum("n_rows").alias("n_rows_total"),
        F.count(F.lit(1)).alias("n_nonempty_partitions"),
        (F.max("n_rows") / F.avg("n_rows") <= 1.5).alias("within_balance_bound"),
        (F.min("n_rows") > 0).alias("no_empty_partitions"),
    )


@query(
    "p9_dag_pipeline",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_spend
      FROM orders GROUP BY o_custkey
    ),
    act AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      FROM events GROUP BY user_id
    )
    SELECT c_custkey, c_mktsegment, n_orders, total_spend,
           COALESCE(n_events, 0) AS n_events,
           COALESCE(total_value, 0.0) AS total_value
    FROM customer
    JOIN spend ON c_custkey = o_custkey
    LEFT JOIN act ON c_custkey = user_id
    WHERE n_orders >= 5
    """,
)
def p9_dag_pipeline(spark, sf_dir):
    """The reference's DAG layer exercised end-to-end (its Graph/vertex/edge
    abstraction over named input slots): a DIAMOND topology — two parallel
    aggregation branches (order spend per customer, event activity per
    user) fan IN to a join node over the shared `customer` input, then a
    filter node — wired by node NAME through :class:`DagPipeline`,
    validated acyclic, topologically executed.

    The whole DAG compiles into ONE Catalyst plan (lazy wiring, no
    per-node materialization), so the optimizer sees across node
    boundaries — e.g. the final filter can push into the join. That is the
    Spark-first answer to the reference's per-node persist-to-parquet
    between stages: materialize only when a branch's reuse warrants it.
    """
    from dask_pipes_spark.pipeline import DagFn, DagPipeline

    dag = DagPipeline(
        nodes=[
            DagFn(
                "spend",
                ["orders"],
                lambda o: o.groupBy("o_custkey").agg(
                    F.count(F.lit(1)).alias("n_orders"),
                    F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
                    .cast("double")
                    .alias("total_spend"),
                ),
            ),
            DagFn(
                "act",
                ["events"],
                lambda e: e.groupBy("user_id").agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("value").cast("decimal(28,6)"))
                    .cast("double")
                    .alias("total_value"),
                ),
            ),
            DagFn(
                "enrich",
                ["customer", "spend", "act"],
                lambda c, s, a: c.join(
                    s, F.col("c_custkey") == F.col("o_custkey")
                ).join(a, F.col("c_custkey") == F.col("user_id"), "left"),
            ),
            DagFn(
                "final",
                ["enrich"],
                lambda df: df.filter(F.col("n_orders") >= 5).select(
                    "c_custkey",
                    "c_mktsegment",
                    "n_orders",
                    "total_spend",
                    F.coalesce("n_events", F.lit(0)).alias("n_events"),
                    F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
                ),
            ),
        ],
        outputs=["final"],
    )
    return dag.fit_transform(
        {
            "orders": load(spark, sf_dir, "orders"),
            "events": load(spark, sf_dir, "events"),
            "customer": load(spark, sf_dir, "customer"),
        }
    )


@query(
    "p10_checkpoint_restart",
    oracle="""
    WITH rollup AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS total_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey, c_mktsegment, n_orders, total_spend
    FROM rollup JOIN customer ON o_custkey = c_custkey
    WHERE n_orders >= 5
    """,
)  # full-oracle: checkpoint+restore must equal the single-plan answer
def p10_checkpoint_restart(spark, sf_dir):
    """Staged materialization (SURVEY §3.3 / the reference's
    persist-intermediates-between-stages behavior): stage 1 computes an
    expensive intermediate (per-customer order rollup) and CHECKPOINTS it
    to parquet; stage 2 re-reads the checkpoint and continues (join back
    to the dimension, final filter). The re-read severs lineage — a stage-2
    failure replays from the checkpoint, not from the raw scan, and the
    checkpoint parquet doubles as an inspectable artifact between pipeline
    runs — exactly how the reference dumps each node's output before the
    next node consumes it.

    100 TB: THE pattern for long DAGs — bound recompute-on-failure, cut
    optimizer/planning cost on giant plans, and make stages restartable;
    the cost is one write+read of the (already reduced) intermediate.
    Equality with the unchekpointed single-plan answer is asserted in
    tests/test_pipeline.py.
    """
    import os
    import tempfile

    t = load_tables(spark, sf_dir, ("orders", "customer"))
    stage1 = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_spend"),
        )
    )
    # call-unique dir under the scratch root (removed at exit): a fixed
    # path, even under a shared $SPARK_GRAFT_SCRATCH_ROOT, lets concurrent
    # sessions overwrite each other's checkpoint mid-read; normpath guards
    # a trailing-slash sf_dir yielding an empty basename
    ckpt = os.path.join(
        tempfile.mkdtemp(prefix="dps_ckpt_p10_", dir=scratch_path("")),
        os.path.basename(os.path.normpath(sf_dir)),
    )
    stage1.write.mode("overwrite").parquet(ckpt)
    restored = spark.read.parquet(ckpt)
    return (
        restored.join(
            t["customer"], F.col("o_custkey") == F.col("c_custkey")
        )
        .filter(F.col("n_orders") >= 5)
        .select("c_custkey", "c_mktsegment", "n_orders", "total_spend")
    )


@query("p11_hashing_tfidf")  # weak: ml-vector outputs summarized
def p11_hashing_tfidf(spark, sf_dir):
    """Feature-hashing TF-IDF through native pyspark.ml (the hashing-trick
    vectorizer every large-corpus featurizer uses when a vocab dict is too
    big to broadcast): Tokenizer → HashingTF(2^8 buckets, fixed seed
    internally — MurmurHash3 of the token) → IDF Estimator fit+transform —
    deepening p7's Estimator→Transformer interop with the text path. The
    vector column is summarized to scalars (nnz, L2 norm) for the
    driver-side check; l6 is the exact-vocabulary tf-idf twin with a full
    SQL oracle.

    100 TB: hashing needs NO vocabulary pass or broadcast (the trick);
    IDF.fit is one aggregate over document frequencies per bucket;
    collisions are the accepted trade (256 buckets here to force them —
    real deployments use 2^18+).
    """
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    if docs.isEmpty():
        # IDF.fit refuses a zero-row corpus; empty in → empty out
        return spark.createDataFrame(
            [], "doc_id bigint, n_tokens int, nnz int, l2_norm double"
        )
    pipe_in = Tokenizer(inputCol="text", outputCol="toks").transform(docs)
    tf = HashingTF(inputCol="toks", outputCol="tf", numFeatures=256).transform(
        pipe_in
    )
    idf_model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = idf_model.transform(tf)
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array("tfidf")
    return out.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.filter(arr, lambda x: x != 0)).alias("nnz"),
        F.round(
            F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("l2_norm"),
    )


@query(
    "p13_contract_check",
    oracle="""
    SELECT rule, n_violations, n_checked FROM (
      SELECT 'pk_unique' AS rule,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
             CAST(COUNT(*) AS BIGINT) AS n_checked
      FROM orders
      UNION ALL
      SELECT 'fk_customer',
             CAST(COUNT(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      UNION ALL
      SELECT 'price_positive',
             CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'status_domain',
             CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('P','O','F'))
                  AS BIGINT),
             CAST(COUNT(*) AS BIGINT)
      FROM orders
    )
    """,
)
def p13_contract_check(spark, sf_dir):
    """Declarative data-contract gate (the Deequ/Great-Expectations shape,
    pure DataFrame): one violations report over four rule kinds — primary
    key uniqueness, referential integrity (anti-join nulls), numeric
    range, and value domain — each a single aggregate, unioned into a
    (rule, n_violations, n_checked) frame a pipeline can assert on before
    publishing a dataset. Complements p6 (inline observe metrics riding a
    write) with the standalone pre-publish audit; d24's per-group BOOL
    aggregates are the grouped member of the family.

    100 TB: pk/range/domain rules are map-side counts; the FK rule is the
    one join (broadcast when the parent is a dimension, as here). At
    fixture quality all four counts are zero — the PLUMBING (counting,
    not failing, and the fixed report schema) is the operator.
    """
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    o = t["orders"]

    def report(rule, violations, checked):
        return F.struct(
            F.lit(rule).alias("rule"),
            violations.cast("bigint").alias("n_violations"),
            checked.cast("bigint").alias("n_checked"),
        )

    pk = o.agg(
        report(
            "pk_unique",
            F.count(F.lit(1)) - F.countDistinct("o_orderkey"),
            F.count(F.lit(1)),
        ).alias("r")
    )
    fk = (
        o.join(
            F.broadcast(t["customer"].select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .agg(
            report(
                "fk_customer",
                F.count(F.when(F.col("c_custkey").isNull(), 1)),
                F.count(F.lit(1)),
            ).alias("r")
        )
    )
    rng = o.agg(
        report(
            "price_positive",
            F.count(F.when(F.col("o_totalprice") <= 0, 1)),
            F.count(F.lit(1)),
        ).alias("r")
    )
    dom = o.agg(
        report(
            "status_domain",
            F.count(F.when(~F.col("o_orderstatus").isin("P", "O", "F"), 1)),
            F.count(F.lit(1)),
        ).alias("r")
    )
    return (
        pk.unionByName(fk).unionByName(rng).unionByName(dom).select("r.*")
    )


@query(
    "p14_drift_monitor",
    oracle="""
    WITH f AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
    s AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1),
    fstat AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxx,
             COUNT(*) AS n
      FROM f
    ),
    fit AS (
      SELECT sx / n AS mean_f,
             SQRT((sxx - sx * sx / n) / (n - 1)) AS std_f,
             n AS n_fit
      FROM fstat
    ),
    sstat AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS mean_s,
             COUNT(*) AS n_serve
      FROM s
    ),
    zrow AS (
      SELECT 'price_mean_shift_z' AS metric,
             FLOOR((mean_s - mean_f) / (std_f / SQRT(n_serve)) * 1000000 + 0.5)
               / 1000000 AS value,
             CAST(n_fit AS BIGINT) AS n_fit,
             CAST(n_serve AS BIGINT) AS n_serve
      FROM fit CROSS JOIN sstat
    ),
    fp AS (SELECT o_orderpriority AS pr, COUNT(*) AS c_f FROM f GROUP BY 1),
    sp AS (SELECT o_orderpriority AS pr, COUNT(*) AS c_s FROM s GROUP BY 1),
    terms AS (
      SELECT CAST((CAST(c_s AS DOUBLE) / (SELECT n_serve FROM sstat)
                   - CAST(c_f AS DOUBLE) / (SELECT n_fit FROM fit))
                  * LN((CAST(c_s AS DOUBLE) / (SELECT n_serve FROM sstat))
                       / (CAST(c_f AS DOUBLE) / (SELECT n_fit FROM fit)))
                  AS DECIMAL(28,12)) AS term
      FROM fp JOIN sp USING (pr)
    ),
    psirow AS (
      SELECT 'priority_psi' AS metric,
             FLOOR(CAST(SUM(term) AS DOUBLE) * 1000000 + 0.5) / 1000000
               AS value,
             (SELECT CAST(n_fit AS BIGINT) FROM fit) AS n_fit,
             (SELECT CAST(n_serve AS BIGINT) FROM sstat) AS n_serve
      FROM terms
    )
    SELECT * FROM zrow UNION ALL SELECT * FROM psirow
    """,
)
def p14_drift_monitor(spark, sf_dir):
    """Training-serving drift monitor — the production check between a
    FITTED pipeline and fresh data: the fit slice (even order keys) trains
    a :class:`StandardScaler` through the pipeline layer's normal ``fit``
    path; the serving slice (odd keys) is then scored against those FROZEN
    params with two canonical statistics:

    - ``price_mean_shift_z`` — the serving mean's z-distance from the
      fitted mean under the fitted std's standard error (the two-sample
      drift test applied one-sided, as monitors do against a frozen
      reference);
    - ``priority_psi`` — Population Stability Index over the categorical
      priority distribution, Σ (p_serve − p_fit)·ln(p_serve/p_fit), the
      industry-standard feature-drift score (>0.2 ⇒ investigate).

    The fitted params are driver floats, but they come from the pipeline's
    exact decimal-sum ``_exact_mean_std`` — so the SQL oracle recomputes
    them bitwise and the WHOLE monitor (fit arithmetic included) is
    parity-verified, same as p2's fitted-transform proof.

    100 TB: one aggregate pass per slice (decimal sums, map-side partial),
    a priority-cardinality groupBy each, and scalar joins — the monitor
    costs two scans and shuffles only group keys. The fit params cross the
    driver as a bounded dict (the documented pipeline-layer pattern)."""
    o = load(spark, sf_dir, "orders")
    fit_df = o.filter(F.col("o_orderkey") % 2 == 0)
    serve_df = o.filter(F.col("o_orderkey") % 2 == 1)

    scaler = StandardScaler(["o_totalprice"])
    mean_f, std_f = scaler.fit(fit_df)["o_totalprice"]
    n_fit = fit_df.count()

    quant = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731

    sstat = serve_df.agg(
        (F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double")
         / F.count(F.lit(1))).alias("mean_s"),
        F.count(F.lit(1)).alias("n_serve"),
    )
    zrow = sstat.select(
        F.lit("price_mean_shift_z").alias("metric"),
        # n_serve = 0 (empty serving slice) → no z to report (NULL), not an
        # ANSI divide-by-zero (empty-input sweep contract)
        quant(
            F.when(
                F.col("n_serve") > 0,
                (F.col("mean_s") - F.lit(mean_f))
                / (F.lit(std_f) / F.sqrt(F.col("n_serve"))),
            )
        ).alias("value"),
        F.lit(n_fit).cast("bigint").alias("n_fit"),
        F.col("n_serve").cast("bigint").alias("n_serve"),
    )

    fp = fit_df.groupBy(F.col("o_orderpriority").alias("pr")).agg(
        F.count(F.lit(1)).alias("c_f")
    )
    sp = serve_df.groupBy(F.col("o_orderpriority").alias("pr")).agg(
        F.count(F.lit(1)).alias("c_s")
    )
    joined = fp.join(sp, "pr").crossJoin(
        F.broadcast(sstat.select("n_serve"))
    )
    p_f = F.col("c_f").cast("double") / F.lit(n_fit)
    p_s = F.col("c_s").cast("double") / F.col("n_serve")
    psirow = (
        joined.select(
            ((p_s - p_f) * F.log(p_s / p_f)).cast("decimal(28,12)").alias("term"),
            "n_serve",
        )
        .groupBy()
        .agg(
            F.lit("priority_psi").alias("metric"),
            quant(F.sum("term").cast("double")).alias("value"),
            F.lit(n_fit).cast("bigint").alias("n_fit"),
            F.max("n_serve").cast("bigint").alias("n_serve"),
        )
        .select("metric", "value", "n_fit", "n_serve")
    )
    return zrow.unionByName(psirow)


_P16_SAMPLE = [
    "d3_groupby_multi",
    "c1_join_inner",
    "e1_row_number",
    "f2_topk",
    "l2_minhash_lsh",
    "d42_cms_topk",
    "x1_shipping_priority",
]
# keys in the governed sample whose CONTRACT is an Arrow-Python boundary
# (none: even l2's minhash runs in its Arrow-free relational form — md5/conv
# signatures, higher-order-function scoring)
_P16_PYTHON_EXPECTED: set = set()

_P16_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{k}', TRUE, TRUE, TRUE)" for k in sorted(_P16_SAMPLE))
    + ") t(key, within_budget, python_boundary_ok, has_recorded_budget)"
)


@query("p16_plan_governance", oracle=_P16_ORACLE)
def p16_plan_governance(spark, sf_dir):
    """The engine inspecting its own plans, as a queryable surface — plan
    governance the way a platform team consumes it: for a representative
    operator per family, build the DataFrame, parse the physical plan, and
    emit shuffle-exchange count, join strategies, Python-boundary presence,
    and whether the plan sits within its RECORDED exchange budget
    (tools/plan_budget.json — the plan-regression gate CI enforces). This
    is a13/a15's layout-governance idea applied to QUERY PLANS: regressions
    (a lost broadcast, a new shuffle, Python leaking into a relational
    pipeline) surface as rows in a table any dashboard can read, before
    they surface as cluster bills.

    100 TB: pure driver-side metadata (plan strings, KBs); the governed
    queries are built but never executed — zero data-path cost.

    Full oracle since round 5 via the d5-style verdict contract: raw plan
    metrics (exchange counts, join-strategy strings — engine-version
    formatting) stay out of the frame; each governed key emits three pinned
    verdicts — ``within_budget`` (exchange count ≤ the recorded
    tools/plan_budget.json budget), ``python_boundary_ok`` (Arrow-Python
    present exactly iff the key's contract declares it), and
    ``has_recorded_budget`` (the regression gate actually covers the key).
    The oracle is the literal all-TRUE table, so any plan regression in the
    governed sample is a driver-visible hash mismatch."""
    import json
    import os as _os
    import re as _re

    from dask_pipes_spark.registry import QUERIES

    sample = sorted(_P16_SAMPLE)
    budget_path = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
        "tools",
        "plan_budget.json",
    )
    budgets = {}
    if _os.path.exists(budget_path):
        with open(budget_path) as fh:
            budgets = json.load(fh)
    rows = []
    for key in sample:
        plan = QUERIES[key](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        nex = len(_re.findall(r"Exchange (?:hash|range|Single)", plan))
        joins = "+".join(
            sorted(
                set(
                    _re.findall(
                        r"(\w*?(?:HashJoin|MergeJoin|NestedLoopJoin|CartesianProduct))",
                        plan,
                    )
                )
            )
        )
        has_python = bool(
            _re.search(
                r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow",
                plan,
            )
        )
        budget = budgets.get(key)
        del joins  # parsed for the log-side story only; not hash-stable
        rows.append(
            (
                key,
                budget is not None and nex <= budget,
                has_python == (key in _P16_PYTHON_EXPECTED),
                budget is not None,
            )
        )
    import pandas as pd

    # pandas/Arrow entry → LocalTableScan (audit-visible, round 12)
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "key", "within_budget", "python_boundary_ok",
                "has_recorded_budget",
            ],
        ),
        "key string, within_budget boolean, python_boundary_ok boolean, "
        "has_recorded_budget boolean",
    )


@query(
    "p17_join_mv_maintain",
    oracle="""
    WITH customer_final AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 50 = 0
                  THEN CAST((c_nationkey + 7) % 25 AS INTEGER)
                  ELSE c_nationkey END AS c_nationkey
      FROM customer
    ),
    orders_final AS (
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 100 <> 4
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey
    FROM orders_final o
    JOIN customer_final c ON o.o_custkey = c.c_custkey
    JOIN nation ON c.c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def p17_join_mv_maintain(spark, sf_dir):
    """Incremental join-MV maintenance (r6 verdict item 3): the bench
    join3 MV — orders⋈customer⋈nation as (o_orderkey, o_custkey, n_name)
    — updated from CDC deltas WITHOUT rebuilding, p5's incremental-merge
    algebra applied at join-view granularity with g15's upsert/tombstone
    vocabulary.

    Staged on-disk state (yesterday's world): the MV materialized from
    orders-without-the-``%10==7``-slice, plus three CDC feeds — order
    inserts (the held-out slice), order tombstones (``%100==4``), and
    customer updates (``%50==0`` customers move nation:
    ``(c_nationkey+7)%25``). The maintenance pass then reads ONLY the MV
    and the delta feeds plus the broadcast dims — NEVER the orders fact
    table (test-pinned: zero orders.parquet scans in the plan):

    - kept   = MV  ⟕anti  (insert ∪ tombstone keys)  ⟕anti  changed-custkeys
    - re-aim = (MV ⟕anti order-deltas) ⋈ changed-customers ⋈ nation —
      the MV itself supplies (o_orderkey, o_custkey) for re-aimed rows,
      so a dimension update costs |affected MV rows|, not an orders scan
    - insert = order-insert feed ⋈ (customer ⟵ updates applied) ⋈ nation

    The returned per-nation aggregate runs over kept ∪ re-aim ∪ insert;
    the oracle computes the SAME final state from scratch (single-shot
    3-way join over the mutated base tables), so any row dropped twice,
    re-aimed to the wrong nation, or double-inserted by the merge algebra
    diverges the hash — delta-maintained MV == rebuilt-from-scratch MV.

    100 TB: this is the nightly MV-refresh pattern — the fact-side MV is
    bucketed by o_orderkey (the bench MV is cached co-partitioned with
    lineitem), deltas are broadcast (CDC batches are delta-sized, not
    corpus-sized), and the three anti/inner joins are all map-side; the
    only full pass is over the MV itself, which is the artifact being
    maintained. Tombstone/upsert semantics follow g15; the aggregate
    merge of p5 composes downstream unchanged."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p17_mv_{tag}")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    mv_path = os.path.join(base, "mv")
    ins_path = os.path.join(base, "delta_order_ins")
    del_path = os.path.join(base, "delta_order_del")
    cust_path = os.path.join(base, "delta_cust")
    def _stage(d: str) -> None:
        orders_old = orders.filter(F.col("o_orderkey") % 10 != 7)
        (
            orders_old.join(
                F.broadcast(customer),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .join(
                F.broadcast(nation),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .select("o_orderkey", "o_custkey", "n_name")
            .write.mode("overwrite")
            .parquet(os.path.join(d, "mv"))
        )
        orders.filter(F.col("o_orderkey") % 10 == 7).select(
            "o_orderkey", "o_custkey"
        ).write.mode("overwrite").parquet(os.path.join(d, "delta_order_ins"))
        orders_old.filter(F.col("o_orderkey") % 100 == 4).select(
            "o_orderkey"
        ).write.mode("overwrite").parquet(os.path.join(d, "delta_order_del"))
        customer.filter(F.col("c_custkey") % 50 == 0).select(
            "c_custkey",
            ((F.col("c_nationkey") + 7) % 25).cast("int").alias("new_nationkey"),
        ).write.mode("overwrite").parquet(os.path.join(d, "delta_cust"))

    # staleness-guarded staging (round 8, advice item): fingerprint the
    # WHOLE fixture dir — the staged state derives from orders, customer
    # AND nation, so a partial regeneration of any of them under the same
    # sf tag must invalidate the staged MV/delta feeds
    ensure_index(base, sf_dir, version="mv-v1", build=_stage)
    # --- maintenance: MV + deltas + broadcast dims only from here on ---
    mv_old = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, n_name string"
    ).parquet(mv_path)
    d_ins = spark.read.schema("o_orderkey bigint, o_custkey bigint").parquet(
        ins_path
    )
    d_del = spark.read.schema("o_orderkey bigint").parquet(del_path)
    d_cust = spark.read.schema("c_custkey bigint, new_nationkey int").parquet(
        cust_path
    )
    order_delta_keys = d_ins.select("o_orderkey").unionAll(
        d_del.select("o_orderkey")
    )
    survivors = mv_old.join(
        F.broadcast(order_delta_keys), "o_orderkey", "left_anti"
    )
    kept = survivors.join(
        F.broadcast(d_cust),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_anti",
    )
    # dimension re-aim: the MV supplies the fact keys; only n_name changes
    reaim = (
        survivors.drop("n_name")
        .join(
            F.broadcast(d_cust), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(nation), F.col("new_nationkey") == F.col("n_nationkey")
        )
        .select("o_orderkey", "o_custkey", "n_name")
    )
    cust_final = (
        customer.join(F.broadcast(d_cust), "c_custkey", "left")
        .withColumn(
            "c_nationkey", F.coalesce("new_nationkey", "c_nationkey")
        )
        .select("c_custkey", "c_nationkey")
    )
    # broadcast the DELTA, not the dimension (round-8 fix): a CDC batch is
    # delta-sized by contract while the customer dimension can exceed
    # broadcast limits at 100 TB; with d_ins broadcast the dimension side
    # streams map-side and is pruned to the insert custkeys by the join
    inserts = (
        F.broadcast(d_ins)
        .join(cust_final, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select("o_orderkey", "o_custkey", "n_name")
    )
    mv_new = kept.select("o_orderkey", "o_custkey", "n_name").unionAll(
        reaim
    ).unionAll(inserts)
    return mv_new.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("sum_orderkey"),
        F.sum("o_custkey").alias("sum_custkey"),
    )


# --- the aggregate-MV kit -----------------------------------------------------
# One implementation of the per-nation revenue aggregate MV that the batch
# keys p18-p31 and the streaming keys k19/k22/k25/k26 maintain: the oracle,
# the generation schema, the signed partial, the merge and the serving read.
# p18 maintenance == p20 checkpoint == the k19 drain: all start from the same
# staged world and apply the same signed-partial algebra.

#: From-scratch twin of the maintained MV: the aggregate over the base
#: tables with the ``%100==4`` tombstones applied (inserts are base rows).
_AGG_MV_ORACLE = """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS sum_revenue,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_orderkey % 100 <> 4
    GROUP BY n_name
    """
#: Every MV generation (and the staged ``agg_mv`` partials) has this layout.
_AGG_MV_SCHEMA = "n_name string, cnt bigint, rev decimal(38,6), qty decimal(38,6)"
_AGG_MV_BRIDGE_SCHEMA = "o_orderkey bigint, n_name string"


def _agg_mv_rev():
    # built lazily: Column construction needs an active SparkContext
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )


def _agg_mv_qty():
    return F.col("l_quantity").cast("decimal(28,6)")


_AGG_MV_FEED_COLS = [
    "l_orderkey", "l_extendedprice", "l_discount", "l_quantity",
]
_AGG_MV_FEED_SCHEMA = (
    "l_orderkey bigint, l_extendedprice double, l_discount double, "
    "l_quantity double"
)


def _agg_mv_bridge(spark, sf_dir: str):
    """The o_orderkey→n_name bridge: orders ⋈ customer ⋈ nation."""
    return (
        load(spark, sf_dir, "orders")
        .join(
            F.broadcast(load(spark, sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("o_orderkey", "n_name")
    )


def _agg_mv_initial(lineitem, bridge):
    """Nation-grain partials of a lineitem slice through the bridge: the
    fact scan that builds (or backfills) an MV, never a maintenance step."""
    return (
        lineitem.join(bridge, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(_agg_mv_rev()).cast("decimal(38,6)").alias("rev"),
            F.sum(_agg_mv_qty()).cast("decimal(38,6)").alias("qty"),
        )
    )


def _stage_agg_mv_state(spark, sf_dir: str, d: str) -> None:
    """Stage 'yesterday's' aggregate-MV world: the o_orderkey→n_name
    bridge, nation-grain partials over lineitem-without-the-``%10==7``
    slice, the insert feed (that slice) and before-image tombstones
    (``%100==4``)."""
    lineitem = load(spark, sf_dir, "lineitem")
    bridge = _agg_mv_bridge(spark, sf_dir)
    bridge.write.mode("overwrite").parquet(os.path.join(d, "bridge"))
    li_old = lineitem.filter(F.col("l_orderkey") % 10 != 7)
    _agg_mv_initial(li_old, bridge).write.mode("overwrite").parquet(
        os.path.join(d, "agg_mv")
    )
    lineitem.filter(F.col("l_orderkey") % 10 == 7).select(
        *_AGG_MV_FEED_COLS
    ).write.mode("overwrite").parquet(os.path.join(d, "delta_ins"))
    li_old.filter(F.col("l_orderkey") % 100 == 4).select(
        *_AGG_MV_FEED_COLS
    ).write.mode("overwrite").parquet(os.path.join(d, "delta_del"))


def _read_agg_mv(spark, d: str, gen: str):
    """Scan one MV generation (or the staged ``agg_mv`` partials)."""
    return spark.read.schema(_AGG_MV_SCHEMA).parquet(os.path.join(d, gen))


def _read_agg_mv_feeds(spark, d: str):
    """Load the staged bridge and CDC feeds back (persisted tables only):
    (bridge, delta_ins, delta_del)."""
    bridge = spark.read.schema(_AGG_MV_BRIDGE_SCHEMA).parquet(
        os.path.join(d, "bridge")
    )
    d_ins = spark.read.schema(_AGG_MV_FEED_SCHEMA).parquet(
        os.path.join(d, "delta_ins")
    )
    d_del = spark.read.schema(_AGG_MV_FEED_SCHEMA).parquet(
        os.path.join(d, "delta_del")
    )
    return bridge, d_ins, d_del


def _agg_mv_partial(feed, bridge, sign):
    """Signed per-nation partial of a CDC lineitem feed: broadcast the
    delta batch (delta-sized by contract), stream the bridge map-side.
    ``sign`` is +1/−1 for a one-sign feed, or a Column (the CDC rows'
    ``sign``) when one batch interleaves inserts and retractions."""
    s = F.lit(sign) if isinstance(sign, int) else sign
    return (
        F.broadcast(feed)
        .join(bridge, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(
            F.sum(s).alias("cnt"),
            F.sum(s * _agg_mv_rev()).cast("decimal(38,6)").alias("rev"),
            F.sum(s * _agg_mv_qty()).cast("decimal(38,6)").alias("qty"),
        )
    )


def _agg_mv_merge(mv, *partials):
    """Merge signed partials into an MV: one unionAll + groupBy. Counts and
    decimal sums are exact and associative, so the result is bit-equal to
    the from-scratch aggregate; groups whose count reaches zero retire."""
    for partial in partials:
        mv = mv.unionAll(partial)
    return (
        mv.groupBy("n_name")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("rev").alias("rev"),
            F.sum("qty").alias("qty"),
        )
        .filter(F.col("cnt") > 0)  # retired groups leave the MV
    )


def _agg_mv_project(mv):
    """The served columns of the MV's mergeable partials."""
    return mv.select(
        "n_name",
        F.col("cnt").alias("n_items"),
        F.col("rev").cast("double").alias("sum_revenue"),
        F.col("qty").cast("double").alias("sum_qty"),
    )


def _serve_agg_mv(spark, idx: str, gen: str | None = None):
    """The aggregate MV's serving read: one scan of generation ``gen``,
    by default the manifest's head."""
    return _agg_mv_project(
        _read_agg_mv(spark, idx, gen or head_generations(idx)["agg_mv-"])
    )


def _commit_agg_mv_birth(spark, sf_dir: str, d: str):
    """Stage yesterday's world and commit its partials as the birth
    generation ``agg_mv-g001``; returns (bridge, delta_ins, delta_del)."""
    _stage_agg_mv_state(spark, sf_dir, d)
    checkpoint_index_generation(
        d, _read_agg_mv(spark, d, "agg_mv"),
        superseded=["agg_mv"], generation="agg_mv-g001",
    )
    return _read_agg_mv_feeds(spark, d)


def _commit_agg_mv_cdc(
    spark, d: str, feeds, head: str, generation: str, retain: int = 0
) -> None:
    """One CDC window: merge the staged feeds (inserts minus tombstones)
    into generation ``head`` and checkpoint ``generation``, vacuuming
    ``head`` and both feeds."""
    br, d_ins, d_del = feeds
    checkpoint_index_generation(
        d,
        _agg_mv_merge(
            _read_agg_mv(spark, d, head),
            _agg_mv_partial(d_ins, br, 1),
            _agg_mv_partial(d_del, br, -1),
        ),
        superseded=[head, "delta_ins", "delta_del"],
        generation=generation, retain=retain,
    )


def _stage_agg_mv_windows(
    spark, sf_dir: str, d: str, residue: int, feed: str
) -> None:
    """Two maintenance windows under ``retain=1`` (p21/p22/p23): window 1
    applies the staged CDC and checkpoints ``agg_mv-g002``; window 2
    retracts the ``l_orderkey % 100 == residue`` slice — staged FIRST as
    the before-image feed ``feed``, while its rows are still live — from
    g002 and checkpoints ``agg_mv-g003``, keeping g002 readable."""
    _stage_agg_mv_state(spark, sf_dir, d)
    load(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == residue
    ).select(*_AGG_MV_FEED_COLS).write.mode("overwrite").parquet(
        os.path.join(d, feed)
    )
    feeds = _read_agg_mv_feeds(spark, d)
    _commit_agg_mv_cdc(spark, d, feeds, "agg_mv", "agg_mv-g002", retain=1)
    retract = spark.read.schema(_AGG_MV_FEED_SCHEMA).parquet(
        os.path.join(d, feed)
    )
    checkpoint_index_generation(
        d,
        _agg_mv_merge(
            _read_agg_mv(spark, d, "agg_mv-g002"),
            _agg_mv_partial(retract, feeds[0], -1),
        ),
        superseded=["agg_mv-g002", feed],
        generation="agg_mv-g003", retain=1,
    )


@query("p18_agg_mv_maintain", oracle=_AGG_MV_ORACLE)
def p18_agg_mv_maintain(spark, sf_dir):
    """Fact-side aggregate IVM (round 8 — composing p17's CDC vocabulary
    with p5's partial-merge algebra at the grain the bench actually
    serves): LINEITEM deltas maintain the per-nation revenue aggregate MV
    without rescanning the fact table. This is the nightly-refresh
    pattern a 100 TB warehouse runs most — the fact table churns, the
    aggregate must stay current, and a rebuild is a full fact scan.

    Staged state (yesterday's world, under an ensure_index fingerprint
    covering the WHOLE fixture directory — the state derives from
    lineitem AND the orders/customer/nation dimension chain, so a
    partial regeneration of any of them must invalidate it):

    - ``agg_mv`` — MERGEABLE partials per n_name (count, decimal revenue
      sum, decimal quantity sum) over lineitem-without-the-``%10==7``
      slice, through the orders⋈customer⋈nation bridge;
    - ``bridge`` — the o_orderkey→n_name join MV (exactly what p17
      maintains; order/dimension churn is p17's job, so it is static
      here);
    - ``delta_ins`` — the held-out lineitem slice (CDC inserts);
    - ``delta_del`` — tombstones for ``l_orderkey%100==4``, carrying the
      BEFORE-IMAGE measure columns (the Debezium delete shape) — signed
      retraction needs the old values, which is why CDC feeds carry
      them.

    Maintenance reads ONLY the MV partials, the two feeds, and the
    bridge (test-pinned: zero lineitem/orders/customer scans): each
    broadcast delta joins the bridge map-side to pick up n_name, folds
    to per-nation partials with sign (+1 inserts, −1 tombstones), and
    the three partial sets merge by one unionAll + groupBy — counts and
    DECIMAL sums are exact and associative, so old + ins − del is
    BIT-equal to the from-scratch aggregate the oracle computes over the
    mutated base tables (a tombstone not retracted, an insert
    double-counted, or a sign slip diverges the hash). Groups whose
    count reaches zero are retired (n_items > 0), matching GROUP BY
    semantics.

    100 TB: per-refresh cost is O(|delta|) map-side joins + a 25-row
    merge, against a full lineitem⋈orders⋈customer scan for the rebuild;
    the MV partials stay mergeable so the NEXT delta applies the same
    algebra — this is self-maintaining state, not a cache. Composes with
    p17 upstream (bridge maintenance) and p10 downstream (checkpointed
    restart)."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p18_aggmv_{tag}")
    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(
        base, sf_dir, version="aggmv-v1",
        build=lambda d: _stage_agg_mv_state(spark, sf_dir, d),
    )
    # --- maintenance: MV partials + feeds + bridge only from here on ---
    bridge, d_ins, d_del = _read_agg_mv_feeds(spark, base)
    return _agg_mv_project(
        _agg_mv_merge(
            _read_agg_mv(spark, base, "agg_mv"),
            _agg_mv_partial(d_ins, bridge, 1),
            _agg_mv_partial(d_del, bridge, -1),
        )
    )


@query(
    "p19_mv_chain_maintain",
    oracle="""
    WITH customer_final AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 50 = 0
                  THEN CAST((c_nationkey + 7) % 25 AS INTEGER)
                  ELSE c_nationkey END AS c_nationkey
      FROM customer
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS sum_revenue,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer_final c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n_nationkey
    WHERE l.l_orderkey % 100 <> 4
    GROUP BY n_name
    """,
)
def p19_mv_chain_maintain(spark, sf_dir):
    """Composed IVM under SIMULTANEOUS fact and dimension churn (round 8 —
    p17 + p18 in one maintenance pass; the summary-delta method of
    Mumick/Quass/Mumick 1997, "Maintenance of Data Cubes and Summary
    Tables in a Warehouse"): lineitem CDC (inserts + before-image
    tombstones) AND customer nation moves maintain the per-nation revenue
    aggregate, with neither a lineitem nor an orders rescan.

    The key design point is the PARTIAL GRAIN: a nation-grain MV (p18)
    cannot survive a dimension update — moving a customer between
    nations requires knowing how much of each nation's total belonged
    to that customer. So the maintained state is CUSTOMER-grain summary
    partials (c_custkey, n_name, count, decimal rev/qty sums) — the
    finest key a dimension update touches — plus the static
    o_orderkey→o_custkey bridge. Maintenance then composes three signed
    merges, each O(|delta|) or O(|affected partials|):

    - re-aim: partials of moved customers flip n_name (broadcast d_cust
      join + nation lookup) — p17's re-aim branch at partial grain;
    - fact deltas: broadcast lineitem feeds join the bridge to customer
      grain, fold to ±partials, and pick up n_name from the POST-update
      dimension (an insert for a moved customer lands in its NEW
      nation, matching the re-aimed history);
    - merge: one unionAll + customer-grain groupBy re-materializes the
      self-maintaining partials (what production would persist back via
      the checkpoint_index_generation protocol), then the nation rollup
      answers the query; count/decimal sums keep every step exact, so
      the result is bit-equal to the oracle's from-scratch join over
      the mutated base tables.

    100 TB: the partials table is |active customers| × ~1 row — orders
    of magnitude smaller than the fact table — and every join here is
    broadcast-delta against it; this is the nightly pattern where BOTH
    the fact stream and the dimension SCD feed arrive together, and the
    answer must reflect each applied exactly once."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p19_mvchain_{tag}")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")

    def _stage(d: str) -> None:
        lineitem = load(spark, sf_dir, "lineitem")
        orders = load(spark, sf_dir, "orders")
        bridge = orders.select("o_orderkey", "o_custkey")
        bridge.write.mode("overwrite").parquet(os.path.join(d, "bridge"))
        li_old = lineitem.filter(F.col("l_orderkey") % 10 != 7)
        (
            li_old.join(bridge, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(
                F.broadcast(customer),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .join(
                F.broadcast(nation),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .groupBy("c_custkey", "n_name")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(_agg_mv_rev()).alias("rev"),
                F.sum(_agg_mv_qty()).alias("qty"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(d, "partials"))
        )
        lineitem.filter(F.col("l_orderkey") % 10 == 7).select(
            *_AGG_MV_FEED_COLS
        ).write.mode("overwrite").parquet(os.path.join(d, "delta_ins"))
        li_old.filter(F.col("l_orderkey") % 100 == 4).select(
            *_AGG_MV_FEED_COLS
        ).write.mode("overwrite").parquet(os.path.join(d, "delta_del"))
        customer.filter(F.col("c_custkey") % 50 == 0).select(
            "c_custkey",
            ((F.col("c_nationkey") + 7) % 25).cast("int").alias("new_nationkey"),
        ).write.mode("overwrite").parquet(os.path.join(d, "delta_cust"))

    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(base, sf_dir, version="mvchain-v1", build=_stage)
    # --- maintenance: partials + bridge + feeds + broadcast dims only ---
    partials = spark.read.schema(
        "c_custkey bigint, n_name string, cnt bigint, "
        "rev decimal(38,6), qty decimal(38,6)"
    ).parquet(os.path.join(base, "partials"))
    bridge = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint"
    ).parquet(os.path.join(base, "bridge"))
    d_ins = spark.read.schema(_AGG_MV_FEED_SCHEMA).parquet(
        os.path.join(base, "delta_ins")
    )
    d_del = spark.read.schema(_AGG_MV_FEED_SCHEMA).parquet(
        os.path.join(base, "delta_del")
    )
    d_cust = spark.read.schema("c_custkey bigint, new_nationkey int").parquet(
        os.path.join(base, "delta_cust")
    )
    # 1. dimension re-aim at partial grain
    kept = partials.join(F.broadcast(d_cust), "c_custkey", "left_anti")
    reaim = (
        partials.drop("n_name")
        .join(F.broadcast(d_cust), "c_custkey")
        .join(
            F.broadcast(nation), F.col("new_nationkey") == F.col("n_nationkey")
        )
        .select("c_custkey", "n_name", "cnt", "rev", "qty")
    )
    # 2. fact deltas to customer grain, named by the POST-update dimension
    cust_final = (
        customer.join(F.broadcast(d_cust), "c_custkey", "left")
        .withColumn("c_nationkey", F.coalesce("new_nationkey", "c_nationkey"))
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select("c_custkey", "n_name")
    )

    def delta_partial(feed, sign: int):
        return (
            F.broadcast(feed)
            .join(bridge, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(F.col("o_custkey").alias("c_custkey"))
            .agg(
                (F.lit(sign) * F.count(F.lit(1))).alias("cnt"),
                (F.lit(sign) * F.sum(_agg_mv_rev()))
                .cast("decimal(38,6)")
                .alias("rev"),
                (F.lit(sign) * F.sum(_agg_mv_qty()))
                .cast("decimal(38,6)")
                .alias("qty"),
            )
        )

    dp = delta_partial(d_ins, 1).unionAll(delta_partial(d_del, -1))
    dp_named = (
        F.broadcast(dp)
        .join(cust_final, "c_custkey")
        .select("c_custkey", "n_name", "cnt", "rev", "qty")
    )
    # 3. re-materialize the self-maintaining customer-grain partials,
    # then the nation rollup
    merged = (
        kept.select("c_custkey", "n_name", "cnt", "rev", "qty")
        .unionAll(reaim)
        .unionAll(dp_named)
        .groupBy("c_custkey", "n_name")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("rev").alias("rev"),
            F.sum("qty").alias("qty"),
        )
    )
    return _agg_mv_project(_agg_mv_merge(merged.drop("c_custkey")))


@query("p20_agg_mv_checkpoint", oracle=_AGG_MV_ORACLE)
def p20_agg_mv_checkpoint(spark, sf_dir):
    """Aggregate-MV write-back (round 8 — the l70/l72 generation protocol
    applied to IVM state, closing p18's loop the way l70 closed l65's):
    without a checkpoint, every query over the delta-maintained aggregate
    re-pays the partial merge (p18's unionAll + groupBy) and the CDC
    feeds accumulate across refresh windows. Here the maintenance pass
    runs ONCE inside the build — p18's signed-partial algebra over the
    persisted MV, feeds, and bridge — and the merged partials are
    rewritten as generation ``agg_mv-g002`` via
    :func:`checkpoint_index_generation` (compact → ``os.replace`` →
    ``VACUUM.json`` supersession manifest → delete the old MV and both
    feeds; the bridge survives, it is the next window's lookup artifact).

    The SERVING plan is then one scan of the compacted generation plus a
    projection — no union, no anti-join, no delta reads (test-pinned
    with the vacuum layout) — and the oracle recomputes the final
    aggregate from the mutated base tables, so a partial lost or doubled
    by the rewrite, or a feed replayed after its vacuum, diverges the
    hash. Partials stay MERGEABLE in the new generation (count + decimal
    sums, not finalized averages), so the next CDC window applies the
    same p18 algebra against g002 and checkpoints g003 — the generation
    chain every warehouse MV lives on.

    100 TB: serving cost drops from O(|MV| + |accumulated deltas|) per
    query to O(|MV|) once per maintenance window; the vacuum bounds the
    feed directory exactly as k18 bounds the landing zone."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p20_aggmv_ckpt_{tag}")

    def _stage(d: str) -> None:
        # 1. yesterday's state (the shared p18 staging), 2. p18's
        #    maintenance algebra over the PERSISTED state only — partials
        #    stay MERGEABLE, 3. write-back: compact → swap → manifest →
        #    vacuum
        _stage_agg_mv_state(spark, sf_dir, d)
        _commit_agg_mv_cdc(
            spark, d, _read_agg_mv_feeds(spark, d), "agg_mv", "agg_mv-g002"
        )

    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(base, sf_dir, version="aggmv-ckpt-v1", build=_stage)
    # --- serving: ONE scan of the compacted generation ---
    return _serve_agg_mv(spark, base)


@query("p21_mv_time_travel", oracle=_AGG_MV_ORACLE)
def p21_mv_time_travel(spark, sf_dir):
    """Generation time travel (round 9 — the registry-level consumer of
    ``checkpoint_index_generation``'s new ``retain`` window; the
    ``VERSION AS OF`` read every Delta/Iceberg warehouse leans on for
    audits and rollbacks): TWO maintenance windows run inside the build —
    window 1 applies p18's CDC (inserts + ``%100==4`` tombstones) and
    checkpoints ``agg_mv-g002``; window 2 retracts the ``%100==24``
    slice and checkpoints ``agg_mv-g003`` with ``retain=1``, which keeps
    the superseded g002 ON DISK and names it in the manifest's
    ``retained`` list instead of vacuuming it. The served query is then a
    TIME-TRAVEL read: one scan of the RETAINED g002 while g003 is
    current — the oracle recomputes the window-1 state from the base
    tables, so a retained generation corrupted by the later checkpoint,
    swept early, or confused with the head diverges the hash (and the
    companion test pins that g003 simultaneously serves the window-2
    answer: two consistent versions, one index directory).

    100 TB: retention is what makes the nightly write-back SAFE to
    automate — a bad CDC batch rolls back by re-pointing the serving
    query at the previous generation (an O(1) metadata change, exactly
    Iceberg's snapshot rollback), and regulatory as-of queries read
    retained history without replaying feeds. Cost is bounded: N extra
    generations of the (partial-sized, not fact-sized) MV."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p21_mv_travel_{tag}")
    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation). The
    # %100==24 slice survives window 1: 24 <> 4 mod 100, and 24 ends in
    # 4 so it cannot be in the %10==7 insert slice.
    ensure_index(
        base, sf_dir, version="mv-travel-v1",
        build=lambda d: _stage_agg_mv_windows(
            spark, sf_dir, d, 24, "delta_del2"
        ),
    )
    # --- serving: time-travel read of the RETAINED generation ---
    return _serve_agg_mv(spark, base, "agg_mv-g002")


@query("p22_mv_restore", oracle=_AGG_MV_ORACLE)
def p22_mv_restore(spark, sf_dir):
    """Generation RESTORE (round 9 — the write-path twin of p21's
    VERSION-AS-OF read; Delta Lake's ``RESTORE TABLE ... TO VERSION`` /
    Iceberg's snapshot rollback): a maintenance window lands a BAD batch,
    and the head is rolled back by committing a NEW generation whose
    content is the retained pre-bad state — history stays monotonic
    (g002 → g003 → g004), nothing is rewritten in place, and the bad
    generation remains readable for forensics.

    Three windows run inside the build: window 1 applies p18's CDC and
    checkpoints ``agg_mv-g002`` (``retain=1``); window 2 is the bad
    batch — it wrongly retracts the ``%100==42`` slice (42 ≢ 4 mod 100,
    so those rows are live; 42 ends in 2, so they are base rows, not
    window-1 inserts) and checkpoints ``agg_mv-g003``; window 3 is the
    RESTORE: it re-commits the RETAINED g002's content as ``agg_mv-g004``
    through the same compact→swap→manifest protocol, superseding the bad
    head. Restore-by-new-commit (not delete-the-bad-one) is the point:
    replication and downstream consumers see only forward history, and
    the retention window still governs what stays readable — after the
    restore, ``retained`` names g003 (the bad batch, kept for
    post-mortem) while g002's bytes live on as g004.

    Serving resolves the head FROM THE MANIFEST (the last history link's
    ``by``), not a hardcoded name — the O(1) metadata indirection that
    makes rollback instantaneous in production. The oracle recomputes
    the window-1 state from the base tables, so a restore that reads the
    wrong generation, double-applies the bad retraction, or serves a
    stale head diverges the hash.

    100 TB: this is the incident-response path for every nightly IVM
    write-back in this repo (p20/l70/l74/l76/l78): a bad CDC batch costs
    one O(MV-size) re-commit — never a fact-table replay — and the
    forensic read of the bad generation is a plain retained-generation
    scan (p21)."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p22_mv_restore_{tag}")

    def _stage(d: str) -> None:
        # window 1: p18's CDC merge -> g002 (retained past window 2);
        # window 2: the BAD batch — wrongly retracts the live base slice
        # %100==42 -> g003
        _stage_agg_mv_windows(spark, sf_dir, d, 42, "delta_bad")
        # window 3: RESTORE — re-commit the retained g002's content as
        # the new head g004; the bad g003 stays in the retention window
        checkpoint_index_generation(
            d, _read_agg_mv(spark, d, "agg_mv-g002"),
            superseded=["agg_mv-g003"],
            generation="agg_mv-g004", retain=1,
        )

    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(base, sf_dir, version="mv-restore-v1", build=_stage)
    # --- serving: resolve the head from the manifest, then ONE scan ---
    return _serve_agg_mv(spark, base)


@query(
    "p23_mv_change_feed",
    oracle="""
    SELECT n_name,
           CAST(-COUNT(*) AS BIGINT) AS d_items,
           CAST(-SUM(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(28,6))) AS DOUBLE) AS d_revenue,
           CAST(-SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS d_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_orderkey % 100 = 24
    GROUP BY n_name
    """,
)
def p23_mv_change_feed(spark, sf_dir):
    """Change data feed between two retained generations (round 9 —
    Delta Lake's ``table_changes(v1, v2)`` / Iceberg's incremental read,
    served the way those engines actually serve it: by DIFFING RETAINED
    VERSIONS, never by replaying CDC feeds — the feeds were vacuumed at
    checkpoint time, and a feed kept around for re-reading is the
    double-apply hazard the vacuum protocol exists to prevent).

    The staging is p21's two-window world: g002 = window-1 state
    (retained), g003 = head after window 2 retracted the ``%100==24``
    slice. The feed is then a full-outer join of the two generations on
    the MV key with signed deltas (decimal-exact subtraction, zero-delta
    groups dropped) — O(MV-size), fact-table-free, and correct for
    appears/changes/disappears alike: a group born between versions
    diffs against an absent left row, a retired group against an absent
    right row. The oracle recomputes the window-2 retraction from the
    base tables with the sign flipped, so a feed that reads the wrong
    generation pair, drops a changed group, or loses exactness in the
    subtraction diverges the hash.

    Downstream, this feed is what drives cascaded IVM (p19's composed
    maintenance consumes exactly this shape from upstream MVs) and
    cross-system replication — subscribers sync from version N to N+1
    without access to the source facts.

    100 TB: the diff shuffles two MV-sized tables by the MV key (both
    orders of magnitude smaller than the facts); on object storage the
    generation pair maps to two pinned snapshots, and the same join
    serves any (vN, vM) pair inside the retention window."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p23_mv_cdf_{tag}")
    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(
        base, sf_dir, version="mv-cdf-v1",
        build=lambda d: _stage_agg_mv_windows(
            spark, sf_dir, d, 24, "delta_del2"
        ),
    )
    # --- serving: version diff over the two retained generations ---
    old = _read_agg_mv(spark, base, "agg_mv-g002").select(
        "n_name",
        F.col("cnt").alias("cnt_old"),
        F.col("rev").alias("rev_old"),
        F.col("qty").alias("qty_old"),
    )
    new = _read_agg_mv(spark, base, "agg_mv-g003").select(
        "n_name",
        F.col("cnt").alias("cnt_new"),
        F.col("rev").alias("rev_new"),
        F.col("qty").alias("qty_new"),
    )
    z_cnt = F.lit(0).cast("bigint")
    z_dec = F.lit(0).cast("decimal(38,6)")
    diff = new.join(old, "n_name", "full_outer").select(
        "n_name",
        (
            F.coalesce("cnt_new", z_cnt) - F.coalesce("cnt_old", z_cnt)
        ).alias("d_items"),
        (
            F.coalesce("rev_new", z_dec) - F.coalesce("rev_old", z_dec)
        ).alias("d_rev_dec"),
        (
            F.coalesce("qty_new", z_dec) - F.coalesce("qty_old", z_dec)
        ).alias("d_qty_dec"),
    )
    return diff.filter(
        (F.col("d_items") != 0)
        | (F.col("d_rev_dec") != 0)
        | (F.col("d_qty_dec") != 0)
    ).select(
        "n_name",
        "d_items",
        F.col("d_rev_dec").cast("double").alias("d_revenue"),
        F.col("d_qty_dec").cast("double").alias("d_qty"),
    )


@query(
    "p24_partition_incremental_refresh",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS sum_revenue
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def p24_partition_incremental_refresh(spark, sf_dir):
    """Partition-fingerprint incremental refresh (round 9 — the
    dbt-incremental / Airflow-backfill pattern, and the IVM answer for
    sources that publish NO changelog: p17/p18/k19 all assume a CDC
    feed; most real upstreams just rewrite partitions): per-partition
    aggregate partials are maintained by DIFFING PARTITION FINGERPRINTS
    (the ``dataset_fingerprint`` listing — file names, sizes, mtimes;
    a metadata-plane decision, zero Spark jobs) against the manifest
    recorded at the last refresh, then recomputing partials ONLY for
    the partitions whose fingerprint moved.

    Staging builds day 1: lineitem WITHOUT the (``%10==7`` ∩
    returnflag='R') slice, written ``partitionBy(l_returnflag)``;
    per-partition partials at (returnflag, linestatus) grain; a
    fingerprint manifest. Day 2 appends the held-out slice INTO the 'R'
    partition directory — an in-place partition rewrite, exactly what a
    daily upstream drop looks like. Serving diffs fingerprints (only
    'R' moved), rescans ONLY that partition's files, and unions the
    recomputed 'R' partials with the REUSED day-1 partials of the
    untouched partitions before the final rollup — the oracle is the
    from-scratch aggregate over the full day-2 state, so a stale
    partial served for a changed partition, a partition recomputed
    against day-1 bytes, or a fingerprint that failed to move all
    diverge the hash. The companion test pins the plan: no scan of any
    unchanged partition's data, no lineitem.parquet.

    100 TB: refresh cost is O(changed partitions) scan + O(partials)
    merge — on a 10k-partition daily table where 1–3 partitions move,
    that is the difference between a 5-minute incremental and a full
    rebuild; the fingerprint diff costs one listing per partition (the
    same metadata-plane budget as a13/a19), and on object storage the
    fingerprint is the partition's manifest-entry set (Iceberg) or the
    transaction log's partition high-watermark (Delta)."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p24_pinc_{tag}")
    part_schema = (
        "l_linestatus string, cnt bigint, rev decimal(38,6), "
        "l_returnflag string"
    )
    src_schema = (
        "l_orderkey bigint, l_linenumber bigint, l_linestatus string, "
        "l_quantity double, l_extendedprice double, l_discount double"
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )

    def _partials(df):
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum(rev).alias("rev")
        )

    def _stage(d: str) -> None:
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
            "l_quantity", "l_extendedprice", "l_discount",
        )
        held_out = (F.col("l_orderkey") % 10 == 7) & (
            F.col("l_returnflag") == "R"
        )
        day1 = li.filter(~held_out)
        # file sizing (the l74 lesson, SCALING.md round 9): range-shuffle
        # by (partition column, key) keeps each partition at ~8 well-sized
        # files instead of 32 writer-task shards — small-file overhead
        # on the changed-partition rescan was the measured refresh tax
        day1.repartitionByRange(24, "l_returnflag", "l_orderkey").write.mode(
            "overwrite"
        ).partitionBy("l_returnflag").parquet(os.path.join(d, "source"))
        _partials(day1).write.mode("overwrite").parquet(
            os.path.join(d, "partials")
        )
        # fingerprint manifest: one listing per partition directory
        parts = sorted(
            p
            for p in os.listdir(os.path.join(d, "source"))
            if p.startswith("l_returnflag=")
        )
        fps = {
            p: dataset_fingerprint(os.path.join(d, "source", p))
            for p in parts
        }
        _write_json(os.path.join(d, "FINGERPRINTS.json"), fps)
        # day 2: the upstream rewrites the 'R' partition in place
        li.filter(held_out).drop("l_returnflag").coalesce(4).write.mode(
            "append"
        ).parquet(os.path.join(d, "source", "l_returnflag=R"))

    ensure_index(
        base,
        os.path.join(sf_dir, "lineitem.parquet"),
        version="pinc-v1",
        build=_stage,
    )
    # --- refresh: fingerprint diff (driver-side listing, no Spark jobs) ---
    manifest = json.load(open(os.path.join(base, "FINGERPRINTS.json")))
    parts = sorted(
        p
        for p in os.listdir(os.path.join(base, "source"))
        if p.startswith("l_returnflag=")
    )
    changed = [
        p
        for p in parts
        if dataset_fingerprint(os.path.join(base, "source", p))
        != manifest.get(p)
    ]
    stored = spark.read.schema(part_schema).parquet(
        os.path.join(base, "partials")
    )
    reused = stored.filter(
        ~F.col("l_returnflag").isin(
            [p.split("=", 1)[1] for p in changed] or ["\x00"]
        )
    )
    fresh_parts = [
        spark.read.schema(src_schema)
        .parquet(os.path.join(base, "source", p))
        .withColumn("l_returnflag", F.lit(p.split("=", 1)[1]))
        for p in changed
    ]
    merged = reused
    for fp in fresh_parts:
        merged = merged.unionByName(_partials(fp))
    return (
        merged.groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("cnt").alias("cnt"), F.sum("rev").alias("rev"))
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("cnt").alias("n_rows"),
            F.col("rev").cast("double").alias("sum_revenue"),
        )
    )


@query("p25_write_audit_publish", oracle=_AGG_MV_ORACLE)
def p25_write_audit_publish(spark, sf_dir):
    """Write-audit-publish (round 9 — Iceberg's WAP pattern / Delta's
    staged commit; the quality gate p22's RESTORE exists to back up):
    every maintenance batch lands in a STAGED directory OFF the serving
    path, is AUDITED there, and only a passing batch is PUBLISHED — an
    O(1) metadata promotion (:func:`publish_generation`: one rename +
    the manifest link, never a data rewrite). A failing batch is
    quarantined, equally O(1), and the head never moves — the bad data
    was never readable, which beats p22's restore (where the bad batch
    served until rollback).

    The build walks the realistic sequence: generation ``agg_mv-g001``
    is born from p18's day-1 partials; batch 1 is the classic
    at-least-once BUG — the delete feed applied TWICE — staged, audited,
    and CAUGHT by the conservation audit (sum-of-counts delta must equal
    |inserts| − |deletes| computed from the feeds themselves; the double
    apply misses by exactly |deletes|), so it quarantines and g001 keeps
    serving; batch 2 applies the same CDC correctly, passes both audits
    (conservation + group-key non-null), and publishes ``agg_mv-g002``.
    ``AUDIT.json`` records every verdict with its numbers — the audit
    trail IS the artifact a data-quality incident review reads. Serving
    resolves the head from the manifest; the oracle recomputes the
    correct post-CDC state from the base tables, so a published bad
    batch, a quarantined good batch, or a head that moved early all
    diverge the hash (and the companion test pins the quarantine layout,
    the single-link history, and the audit records).

    100 TB: the audit costs two MV-sized aggregates per batch — orders
    of magnitude under the fact scan the batch itself avoided — and
    publication stays O(1) at any size; on object storage staged/
    quarantine/publish map to Iceberg's WAP branch, and the conservation
    check generalizes to any signed-merge invariant (row counts, decimal
    control totals, FK coverage)."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p25_wap_{tag}")

    def _stage(d: str) -> None:
        br, d_ins, d_del = _commit_agg_mv_birth(spark, sf_dir, d)
        n_ins = d_ins.count()
        n_del = d_del.count()
        audits: list[dict] = []

        def _attempt(name: str, extra_del_applies: int) -> bool:
            # resolve the CURRENT head from the manifest — on a zero-row
            # fixture even the buggy batch conserves trivially and
            # publishes, so the next attempt must not hardcode g001
            head_gen = head_generations(d)["agg_mv-"]
            nxt = f"agg_mv-g{int(head_gen.rsplit('g', 1)[1]) + 1:03d}"
            g1 = _read_agg_mv(spark, d, head_gen)
            head_total = (g1.agg(F.sum("cnt")).collect()[0][0]) or 0
            staged_df = _agg_mv_merge(
                g1,
                _agg_mv_partial(d_ins, br, 1),
                *[_agg_mv_partial(d_del, br, -1)] * (1 + extra_del_applies),
            )
            staged = os.path.join(d, f"{nxt}.staged-{name}")
            staged_df.coalesce(1).write.mode("overwrite").parquet(staged)
            # --- audit the STAGED bytes (off the serving path) ---
            s = spark.read.schema(_AGG_MV_SCHEMA).parquet(staged)
            got_total, n_null = s.agg(
                F.sum("cnt"), F.count_if(F.col("n_name").isNull())
            ).collect()[0]
            got_total = got_total or 0
            expected_total = head_total + n_ins - n_del
            conserved = got_total == expected_total
            keys_ok = n_null == 0
            audits.append(
                {
                    "batch": name,
                    "expected_total": expected_total,
                    "staged_total": got_total,
                    "conservation": bool(conserved),
                    "group_keys_non_null": bool(keys_ok),
                    "verdict": "publish" if conserved and keys_ok else "quarantine",
                }
            )
            if conserved and keys_ok:
                publish_generation(
                    d, staged, nxt,
                    superseded=[head_gen, "delta_ins", "delta_del"],
                )
                return True
            os.replace(staged, staged.replace(".staged-", ".quarantine-"))
            return False

        # alternative candidates for the SAME batch: once one publishes,
        # the CDC is applied and its feeds are vacuumed — attempting again
        # would be exactly the double-apply the protocol prevents (on the
        # zero-row fixture the "buggy" candidate conserves vacuously and
        # publishes first; on any real data it quarantines)
        if not _attempt("double-delete", extra_del_applies=1):
            _attempt("correct", extra_del_applies=0)
        _write_json(os.path.join(d, "AUDIT.json"), audits)

    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(base, sf_dir, version="wap-v1", build=_stage)
    # --- serving: head from the manifest (the bad batch never appears) ---
    return _serve_agg_mv(spark, base)


@query("p26_concurrent_commit_rebase", oracle=_AGG_MV_ORACLE)
def p26_concurrent_commit_rebase(spark, sf_dir):
    """Optimistic concurrency on the generation protocol (round 9 —
    Iceberg's commit CAS / Delta's conflict-checked transaction; the
    missing piece once TWO maintainers share one MV): every publish
    states the generation its merge was computed FROM
    (``expected_head``), and :func:`publish_generation` refuses with
    :class:`CommitConflictError` if the head has moved — the loser
    RE-BASES (recomputes its delta merge against the new head) and
    retries, so both batches land exactly once and the classic lost
    update (read-modify-write over a shared aggregate) is structurally
    impossible.

    The build races two maintainers the realistic way: maintainer A
    (the insert feed) and maintainer B (the tombstone feed) BOTH stage
    their merges from head ``agg_mv-g001`` — B's staged bytes are
    durable before A commits; A publishes ``agg_mv-g002`` (CAS on g001,
    wins); B's publish with the same expectation raises — without the
    check, B's g001-based merge would have silently DROPPED A's
    inserts — so B re-bases on g002 and publishes ``agg_mv-g003``. The
    oracle recomputes the both-applied-once state from the base tables,
    so a lost update, a double apply on retry, or a re-base against the
    wrong head all diverge the hash; the conflict record, the staged
    survival through the conflict, and the monotonic 3-link history are
    test-pinned.

    100 TB: concurrent maintainers are the NORM — a streaming ingest
    (k19) plus a nightly compactor (p20) plus a backfill all write one
    table; the CAS costs one manifest read per commit, retries cost
    O(MV) recompute (never a fact rescan, the delta feeds are still
    staged), and on object storage the expectation maps to Iceberg's
    snapshot-id check inside the atomic metadata swap."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p26_occ_{tag}")

    def _stage(d: str) -> None:
        br, d_ins, d_del = _commit_agg_mv_birth(spark, sf_dir, d)
        g1 = _read_agg_mv(spark, d, "agg_mv-g001")
        # both maintainers stage FROM g001 — B's bytes are durable
        # before A commits (the genuine race shape)
        staged_a = os.path.join(d, "agg_mv-g002.staged-A")
        _agg_mv_merge(g1, _agg_mv_partial(d_ins, br, 1)).coalesce(
            1
        ).write.mode("overwrite").parquet(staged_a)
        staged_b = os.path.join(d, "agg_mv-g002.staged-B")
        _agg_mv_merge(g1, _agg_mv_partial(d_del, br, -1)).coalesce(
            1
        ).write.mode("overwrite").parquet(staged_b)
        # A commits first: CAS on g001 holds
        publish_generation(
            d, staged_a, "agg_mv-g002",
            superseded=["agg_mv-g001", "delta_ins"],
            expected_head="agg_mv-g001",
        )
        # B's publish must CONFLICT — its merge would drop A's inserts
        conflicts = []
        try:
            publish_generation(
                d, staged_b, "agg_mv-g002b",
                superseded=["delta_del"], expected_head="agg_mv-g001",
            )
        except CommitConflictError as exc:
            conflicts.append(str(exc))
        # re-base: recompute B's delta against the NEW head, retry CAS
        staged_b2 = os.path.join(d, "agg_mv-g003.staged-B")
        _agg_mv_merge(
            _read_agg_mv(spark, d, "agg_mv-g002"),
            _agg_mv_partial(d_del, br, -1),
        ).coalesce(1).write.mode("overwrite").parquet(staged_b2)
        publish_generation(
            d, staged_b2, "agg_mv-g003",
            superseded=["agg_mv-g002.staged-B", "delta_del", "agg_mv-g002"],
            expected_head="agg_mv-g002",
        )
        _write_json(os.path.join(d, "CONFLICTS.json"), conflicts)

    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(base, sf_dir, version="occ-v1", build=_stage)
    return _serve_agg_mv(spark, base)


@query("p27_mv_schema_evolution", oracle=_AGG_MV_ORACLE)
def p27_mv_schema_evolution(spark, sf_dir):
    """Schema evolution through the generation protocol (round 9 — the
    Iceberg/Delta schema-evolution story applied to a maintained MV;
    every long-lived aggregate eventually grows a measure): the MV is
    born at schema v1 (count + revenue), a MIGRATION window backfills
    the new ``qty`` measure — the one deliberate fact rescan, priced as
    the migration, never as steady state — and checkpoints schema v2;
    the NEXT CDC window then maintains v2 incrementally (p18's signed
    algebra, now carrying qty), proving the delta path works against the
    evolved schema. ``SCHEMA.json`` maps each generation to its column
    list, so a reader resolves (head, schema) together — and the
    RETAINED v1 generation stays readable WITH ITS OWN SCHEMA while v2
    serves (the time-travel guarantee survives evolution; test-pinned,
    as is the schema registry's three-version record and the delta
    window's freedom from fact scans).

    The oracle recomputes the final v2 state from the base tables, so a
    backfill that dropped CDC-pending rows, a delta window that lost the
    new column, or a v1/v2 confusion at serve time diverges the hash.

    100 TB: the migration costs ONE fact scan (unavoidable — the new
    measure's history exists only in the facts) scheduled like any
    backfill; every window after it is O(|delta|) again, and old
    retained generations need no rewrite — the schema registry, not the
    data, carries the difference (Iceberg evolves schemas by metadata
    for exactly this reason)."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p27_mvevo_{tag}")

    def _stage(d: str) -> None:
        _stage_agg_mv_state(spark, sf_dir, d)
        feeds = _read_agg_mv_feeds(spark, d)
        schemas = {}
        # v1 birth: count + revenue only (qty dropped at the partials)
        checkpoint_index_generation(
            d, _read_agg_mv(spark, d, "agg_mv").select("n_name", "cnt", "rev"),
            superseded=["agg_mv"], generation="agg_mv-g001",
        )
        schemas["agg_mv-g001"] = ["n_name", "cnt", "rev"]
        # migration window: backfill qty — the ONE deliberate fact scan
        backfilled = _agg_mv_initial(
            load(spark, sf_dir, "lineitem").filter(
                F.col("l_orderkey") % 10 != 7
            ),
            feeds[0],
        )
        checkpoint_index_generation(
            d, backfilled, superseded=["agg_mv-g001"],
            generation="agg_mv-g002", retain=2,
        )
        schemas["agg_mv-g002"] = ["n_name", "cnt", "rev", "qty"]
        # CDC window on the EVOLVED schema: p18's signed algebra + qty
        _commit_agg_mv_cdc(
            spark, d, feeds, "agg_mv-g002", "agg_mv-g003", retain=2
        )
        schemas["agg_mv-g003"] = ["n_name", "cnt", "rev", "qty"]
        _write_json(os.path.join(d, "SCHEMA.json"), schemas)

    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(base, sf_dir, version="mvevo-v1", build=_stage)
    # --- serving: resolve (head, schema) together from the registries ---
    head = head_generations(base)["agg_mv-"]
    cols = json.load(open(os.path.join(base, "SCHEMA.json")))[head]
    if cols != ["n_name", "cnt", "rev", "qty"]:
        # explicit raise, not `assert` (stripped under python -O): a head
        # whose registered schema is not the v2 contract must fail fast,
        # never be read through the wrong reader schema
        raise ValueError(
            f"schema registry mismatch for head {head!r}: got {cols!r}, "
            "expected the v2 column list ['n_name', 'cnt', 'rev', 'qty']"
        )
    return _serve_agg_mv(spark, base, head)


@query("p28_orphan_gc", oracle=_AGG_MV_ORACLE)
def p28_orphan_gc(spark, sf_dir):
    """Orphan GC + crash recovery for the generation protocol (round 10 —
    the Delta VACUUM / Iceberg remove-orphan-files analog; the r9
    verdict's top item): a continuously-running pipeline's maintenance
    process WILL eventually be killed mid-protocol, and every kill point
    leaves debris the serving path never reads but the storage bill and
    the listing path pay for forever. :func:`gc_index_dir` sweeps that
    debris from the metadata registries alone — no data reads, no
    guesses.

    The build walks the full lifecycle and then plants every torn state
    a kill can produce (constructing the torn layout directly — the
    deterministic twin of killing the JVM): generation ``agg_mv-g001``
    is checkpointed from p18's day-1 partials; the CDC merge is staged
    and PUBLISHED as ``agg_mv-g002`` (the serving head); then the crash
    debris: ``agg_mv-g003.tmp`` (killed between compaction and swap),
    ``agg_mv-g002.staged-crashed`` (a staged duplicate whose publish
    never ran), a RESURRECTED ``agg_mv-g001`` directory (killed between
    the manifest append and the vacuum delete), and a quarantine dir
    (audit evidence — GC must KEEP it). ``gc_index_dir`` removes exactly
    the first three, never the head, never the quarantine, never
    unlisted infra dirs; its report is persisted as ``GC.json`` (the
    artifact an operator reads after the nightly sweep) and the serving
    answer is byte-identical to the pre-GC head — the oracle recomputes
    it from the base tables, so a GC that swept the head, resurrected
    g001 into serving, or confused staged debris for the head diverges
    the hash. Re-entrancy (GC twice = no-op), per-torn-state removal,
    the never-GC-the-head invariant, and the resumable-checkpoint fast
    paths are test-pinned in tests/test_pipeline.py.

    100 TB: the sweep is O(listing) metadata work scheduled nightly;
    ``older_than_sec`` (Iceberg's orphan age guard, default one day)
    keeps it safe to run WHILE maintenance is live — a young tmp dir
    might be an in-flight build, an old one provably is not."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p28_gc_{tag}")

    def _stage(d: str) -> None:
        br, d_ins, d_del = _commit_agg_mv_birth(spark, sf_dir, d)
        staged = os.path.join(d, "agg_mv-g002.staged-cdc")
        _agg_mv_merge(
            _read_agg_mv(spark, d, "agg_mv-g001"),
            _agg_mv_partial(d_ins, br, 1),
            _agg_mv_partial(d_del, br, -1),
        ).coalesce(1).write.mode("overwrite").parquet(staged)
        publish_generation(
            d, staged, "agg_mv-g002",
            superseded=["agg_mv-g001", "delta_ins", "delta_del"],
            expected_head="agg_mv-g001",
        )
        # --- plant every kill-point's debris (deterministic torn layouts) ---
        head = _read_agg_mv(spark, d, "agg_mv-g002")
        # killed between compaction and swap: durable tmp, no final dir
        head.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "agg_mv-g003.tmp")
        )
        # killed before publish: staged bytes for an already-moved head
        head.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "agg_mv-g002.staged-crashed")
        )
        # killed between manifest append and vacuum delete: g001 lingers
        g1_resurrected = os.path.join(d, "agg_mv-g001")
        head.coalesce(1).write.mode("overwrite").parquet(g1_resurrected)
        # a quarantined batch: audit evidence, GC must keep it
        head.limit(1).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "agg_mv-g002.quarantine-bad")
        )
        report = gc_index_dir(d, older_than_sec=0)
        _write_json(os.path.join(d, "GC.json"), report)

    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(base, sf_dir, version="gc-v1", build=_stage)
    # --- serving: head from the manifest — GC never moved it ---
    return _serve_agg_mv(spark, base)


@query("p29_branch_wap", oracle=_AGG_MV_ORACLE)
def p29_branch_wap(spark, sf_dir):
    """Named branches on the manifest (round 10 — Iceberg refs / the
    branch form of write-audit-publish, completing what p25/p26
    started): ``BRANCHES.json`` maps branch → head generation; serving
    resolves ``main``'s ref, staging publishes to a named branch
    instead of a bare quarantine-able dir, and promotion is
    :func:`merge_branch` — a fast-forward ref move under the commit
    lock, CAS-guarded by ``expected_head`` exactly like p26's publish.

    The build walks the realistic audit-gate sequence: ``agg_mv-g001``
    is checkpointed and ``main`` is pointed at it; the BUGGY batch (the
    p25 double-delete) publishes ``agg_mv-g002a`` to branch ``audit`` —
    main's ref has NOT moved, so the bad data was never servable — the
    conservation audit fails against the branch head, and
    :func:`delete_branch` retires the ref, which appends the orphaned
    generation to the vacuum chain (no forever-live debris — the gap
    bare WAP left); the CORRECT batch publishes ``agg_mv-g002b`` to
    ``audit``, passes, and ``merge_branch("audit", "main",
    expected_head="agg_mv-g001")`` flips serving atomically; the old
    main head enters the vacuum chain (branch heads are vacuum-
    protected while referenced — the p21 time-travel guarantee extended
    to refs). AUDIT.json records both verdicts; serving reads
    ``BRANCHES.json["main"]``. The oracle recomputes the correct
    post-CDC state from the base tables, so a premature ref move, a
    merged bad batch, or serving from the staging branch diverges the
    hash. Conflict (stale ``expected_head``), retain interplay, and
    ref-protection are pinned in the companion tests.

    100 TB: refs are O(1) metadata on any generation size; the audit
    queries the BRANCH head through the identical read path serving
    uses (Iceberg's WAP-branch advantage over a side quarantine dir:
    one resolution code path, no layout fork)."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p29_branch_{tag}")

    def _stage(d: str) -> None:
        br, d_ins, d_del = _commit_agg_mv_birth(spark, sf_dir, d)
        set_branch(d, "main", "agg_mv-g001")
        n_ins = d_ins.count()
        n_del = d_del.count()
        audits: list[dict] = []

        def _attempt(gen: str, extra_del_applies: int) -> bool:
            # merge is always computed FROM main's ref (the serving line)
            head_gen = _read_branches(d)["main"]
            g1 = _read_agg_mv(spark, d, head_gen)
            head_total = (g1.agg(F.sum("cnt")).collect()[0][0]) or 0
            staged = os.path.join(d, f"{gen}.staged")
            _agg_mv_merge(
                g1,
                _agg_mv_partial(d_ins, br, 1),
                *[_agg_mv_partial(d_del, br, -1)] * (1 + extra_del_applies),
            ).coalesce(1).write.mode("overwrite").parquet(staged)
            # publish to the AUDIT branch: durable + linked + ref-
            # protected, but main has not moved — never servable yet
            publish_generation(
                d, staged, gen, superseded=[], branch="audit"
            )
            # audit the BRANCH head through the serving read path
            got_total, n_null = _read_agg_mv(spark, d, gen).agg(
                F.sum("cnt"), F.count_if(F.col("n_name").isNull())
            ).collect()[0]
            got_total = got_total or 0
            expected_total = head_total + n_ins - n_del
            ok = got_total == expected_total and n_null == 0
            audits.append(
                {
                    "generation": gen,
                    "expected_total": expected_total,
                    "staged_total": got_total,
                    "verdict": "merge" if ok else "retire-branch",
                }
            )
            if ok:
                merge_branch(d, "audit", "main", expected_head=head_gen)
                return True
            delete_branch(d, "audit")
            return False

        # on real data the double-delete fails its audit and the branch
        # retires (main never moves); on the zero-row fixture it conserves
        # vacuously and merges first — same resolution discipline as p25
        if not _attempt("agg_mv-g002a", extra_del_applies=1):
            _attempt("agg_mv-g002b", extra_del_applies=0)
        _write_json(os.path.join(d, "AUDIT.json"), audits)

    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(base, sf_dir, version="branch-wap-v1", build=_stage)
    # --- serving: resolve main's ref — the only head readers ever see ---
    return _serve_agg_mv(spark, base, _read_branches(base)["main"])


@query("p30_expire_snapshots", oracle=_AGG_MV_ORACLE)
def p30_expire_snapshots(spark, sf_dir):
    """Age-based snapshot expiry (round 10 — Iceberg's
    ``expire_snapshots(older_than, retain_last)``; the missing third leg
    of the retention story after count-based ``retain=N`` (p21) and
    ref-protection (p29)): every manifest link now carries its commit
    timestamp, and :func:`expire_snapshots` sweeps RETAINED generations
    whose supersession is older than the window — the compliance /
    storage-budget knob ("keep 7 days of rollback") real tables run
    alongside the count-based one.

    The build walks three windows: ``agg_mv-g001`` (day-1 partials) →
    ``agg_mv-g002`` (the CDC applied — p18's state) → ``agg_mv-g003``
    (an OPTIMIZE window: g002 recompacted, logically identical — the
    Iceberg rewrite_data_files shape, which is exactly why old
    snapshots pile up in practice), checkpointed with ``retain=2`` so
    both g001 and g002 stay readable. Expiry with ``keep_last=1`` then
    ages g001 out (its directory deleted, the manifest's retained list
    rewritten under the commit lock) while g002 keeps serving time
    travel and head g003 keeps serving the query — the oracle
    recomputes the post-CDC state from base tables, so an expiry that
    touched the head, or swept the floor-protected g002, diverges the
    hash. ``EXPIRE.json`` records the sweep; never-expire-the-head /
    branch-protection / keep_last floor / re-entrancy are test-pinned.

    100 TB: expiry is O(retained) metadata + unlink — the nightly
    janitor pass; age answers a different question than count, and the
    timestamped manifest is what makes either auditable."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p30_expire_{tag}")

    def _stage(d: str) -> None:
        _commit_agg_mv_cdc(
            spark, d, _commit_agg_mv_birth(spark, sf_dir, d),
            "agg_mv-g001", "agg_mv-g002", retain=2,
        )
        # OPTIMIZE window: recompact g002 as g003 — logically identical,
        # a new snapshot (the reason old ones accumulate)
        checkpoint_index_generation(
            d, _read_agg_mv(spark, d, "agg_mv-g002"),
            superseded=["agg_mv-g002"],
            generation="agg_mv-g003", retain=2,
        )
        report = expire_snapshots(d, older_than_sec=0, keep_last=1)
        _write_json(os.path.join(d, "EXPIRE.json"), report)

    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(base, sf_dir, version="expire-v1", build=_stage)
    return _serve_agg_mv(spark, base)


@query("p31_manifest_compaction", oracle=_AGG_MV_ORACLE)
def p31_manifest_compaction(spark, sf_dir):
    """Manifest log compaction riding the maintenance loop (round 11 —
    the r10 verdict's TOP item; Delta's every-10-commits log checkpoint /
    Iceberg's manifest-list rewrite): the one measured growth bound in
    the metadata plane was the per-commit ``VACUUM.json`` whole-rewrite —
    O(history) each commit (2.4 ms at 200 links → 26.5 ms at 2,000,
    SCALING.md janitor table), cumulatively O(n²) for a continuous
    maintainer. :func:`compact_manifest` folds the inert history prefix
    into a bounded ``checkpoint`` record, making the rewrite flat.

    The build walks a LONG maintenance life: ``agg_mv-g001`` (day-1
    partials) → ``agg_mv-g002`` (the CDC applied — p18's state) → ten
    OPTIMIZE windows (``g003``…``g012``, each recompacting the head —
    the Iceberg rewrite_data_files cadence that actually piles links
    up), every window checkpointing with ``retain=2`` and then running
    ``compact_manifest(keep_tail=4)`` exactly where k25 runs its GC —
    inside the loop, under the same commit lock discipline. End state
    (test-pinned): the history TAIL is bounded (≤ keep_tail + the
    unfoldable suffix whose superseded generations are still retained
    on disk) while ``checkpoint.folded`` carries the folded count, the
    retained time-travel window still resolves, and the head serves the
    identical answer — the oracle recomputes the post-CDC state from
    the base tables, so a fold that dropped a live link, broke head
    resolution, or disturbed the retained window diverges the hash.
    ``COMPACT.json`` records the last report; flat per-commit append
    cost vs history length is measured in SCALING.md's round-11 janitor
    table; the protocol fuzzer interleaves compaction with every other
    commit-plane op.

    100 TB: without compaction the metadata plane is the one component
    whose cost grows with AGE rather than data size; with it a k19-style
    continuous maintainer commits in O(1) forever — the same argument
    every production table format ships."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_p31_compact_{tag}")

    def _stage(d: str) -> None:
        _commit_agg_mv_cdc(
            spark, d, _commit_agg_mv_birth(spark, sf_dir, d),
            "agg_mv-g001", "agg_mv-g002", retain=2,
        )
        # ten OPTIMIZE windows: recompact the head, retain=2, compact the
        # log in-loop — the continuous-maintainer cadence
        report = {}
        for i in range(3, 13):
            prev = f"agg_mv-g{i - 1:03d}"
            checkpoint_index_generation(
                d, _read_agg_mv(spark, d, prev), superseded=[prev],
                generation=f"agg_mv-g{i:03d}", retain=2,
            )
            report = compact_manifest(d, keep_tail=4)
        _write_json(os.path.join(d, "COMPACT.json"), report)

    # fingerprint the whole fixture dir: the staged state derives from
    # lineitem AND the dimension chain (orders/customer/nation)
    ensure_index(base, sf_dir, version="compact-v1", build=_stage)
    return _serve_agg_mv(spark, base)
