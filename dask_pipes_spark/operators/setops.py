"""Group G — set operations / dedup (SURVEY.md §2-G).

Reference surface: ``dd.concat`` (union-all), ``drop_duplicates(subset)``;
intersect/except via merge idioms. Spark has all four natively
(``unionByName/distinct/intersect/exceptAll``) — each *ALL→DISTINCT* variant
is a hash aggregate on the full row, i.e. one shuffle keyed by every column.

Scale note: ``dropDuplicates(subset)`` with an arbitrary survivor is
nondeterministic in any distributed engine; g4 implements the deterministic
keep-one form (row_number over an explicit tiebreaker) that a 100 TB dedup
pipeline needs for reproducibility (same pattern as l1_exact_dedup).
"""

from __future__ import annotations

import itertools

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_pipes_spark.registry import query
from dask_pipes_spark.session import load, load_tables

#: per-process sequence uniquifying _global_index scratch pins (g11 builds
#: two indexes in one query — same path would clobber the first)
_GIDX_SEQ = itertools.count()


@query(
    "g1_union_all",
    oracle="""
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 400000
    """,
)
def g1_union_all(spark, sf_dir):
    """concat / UNION ALL (duplicates preserved) via ``unionByName``."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderpriority"
    )
    b = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey", "o_orderpriority")
    return a.unionByName(b)


@query(
    "g2_union_distinct",
    oracle="""
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 400000
    """,
)
def g2_union_distinct(spark, sf_dir):
    """concat + dedup / UNION DISTINCT."""
    return g1_union_all(spark, sf_dir).distinct()


@query(
    "g3_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate FROM lineitem",
)
def g3_distinct(spark, sf_dir):
    """Whole-row distinct (Dask ``drop_duplicates()``)."""
    return load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_shipdate"
    ).distinct()


@query(
    "g4_dedup_subset",
    oracle="""
    SELECT l_partkey, l_orderkey, l_linenumber, l_quantity FROM (
      SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY l_orderkey, l_linenumber, l_quantity) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def g4_dedup_subset(spark, sf_dir):
    """drop_duplicates(subset=...) with a *deterministic* survivor: first row
    by (orderkey, linenumber, quantity) per partkey — quantity included
    because the fixture's (orderkey, linenumber) is not unique (duplicate
    pairs exist at sf0.001), and a tied pick would be engine-arbitrary.
    Plain ``dropDuplicates`` keeps an arbitrary row — unusable under a
    value-hash check or in a reproducible pipeline."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy("l_orderkey", "l_linenumber", "l_quantity")
    return (
        li.select("l_partkey", "l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "g5_intersect",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def g5_intersect(spark, sf_dir):
    """Row intersection (distinct semantics)."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    a = t["customer"].select(F.col("c_custkey").alias("custkey"))
    b = (
        t["orders"]
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return a.intersect(b)


@query(
    "g6_except",
    oracle="""
    SELECT l_partkey FROM lineitem
    EXCEPT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def g6_except(spark, sf_dir):
    """Multiset difference (EXCEPT ALL) — per-row multiplicity arithmetic."""
    li = load(spark, sf_dir, "lineitem")
    return li.select("l_partkey").exceptAll(
        li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    )


@query(
    "g7_union_missing_columns",
    oracle="""
    SELECT o_orderkey AS k, o_totalprice AS price, o_orderpriority AS pri FROM orders
    UNION ALL
    SELECT l_orderkey AS k, l_extendedprice AS price, NULL AS pri FROM lineitem
    """,
)
def g7_union_missing_columns(spark, sf_dir):
    """``unionByName(allowMissingColumns=True)`` (Dask ``dd.concat`` of
    frames with different columns): missing columns null-fill — schema
    alignment by *name*, the concat semantics pandas users expect."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    a = t["orders"].select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("pri"),
    )
    b = t["lineitem"].select(
        F.col("l_orderkey").alias("k"), F.col("l_extendedprice").alias("price")
    )
    return a.unionByName(b, allowMissingColumns=True)


@query(
    "g8_table_diff",
    oracle="""
    WITH b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 19 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 23 <> 0
    )
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'deleted'
                WHEN a.o_orderkey IS NULL THEN 'inserted'
                ELSE 'modified' END AS change_type,
           a.o_totalprice AS old_price,
           b.o_totalprice AS new_price
    FROM orders a FULL OUTER JOIN b USING (o_orderkey)
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_totalprice <> b.o_totalprice
    """,
)
def g8_table_diff(spark, sf_dir):
    """Table reconciliation (pandas ``DataFrame.compare`` / CDC validation):
    diff two snapshots by key, emitting only changed rows classified as
    inserted/deleted/modified with old+new values — the audit primitive for
    "did the migration/replication copy everything?". One co-partitioned
    full-outer join on the key; unchanged rows (the overwhelming majority at
    scale) are filtered before any further processing, so downstream cost is
    proportional to drift, not table size. Snapshot B is derived
    deterministically (keys %23 deleted, %19 repriced ×1.1)."""
    a = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    b = (
        a.filter(F.col("o_orderkey") % 23 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 19 == 0, F.col("o_totalprice") * 1.1
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    j = a.alias("a").join(b.alias("b"), "o_orderkey", "full_outer")
    ak, bk = F.col("a.o_totalprice"), F.col("b.o_totalprice")
    return (
        j.select(
            "o_orderkey",
            F.when(bk.isNull(), "deleted")
            .when(ak.isNull(), "inserted")
            .otherwise("modified")
            .alias("change_type"),
            ak.alias("old_price"),
            bk.alias("new_price"),
        )
        .filter(ak.isNull() | bk.isNull() | (ak != bk))
    )


@query(
    "g9_combine_first",
    oracle="""
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(a.price_a, b.price_b) AS price,
           CASE WHEN a.price_a IS NOT NULL THEN 'primary'
                ELSE 'fallback' END AS price_src
    FROM (SELECT o_orderkey, o_totalprice AS price_a FROM orders
          WHERE o_orderstatus = 'O') a
    FULL OUTER JOIN
         (SELECT o_orderkey, ROUND(CAST(CAST(o_totalprice AS DECIMAL(28,6))
                                        * 0.9 AS DOUBLE), 4) AS price_b
          FROM orders WHERE o_totalprice > 1000.0) b
      ON a.o_orderkey = b.o_orderkey
    """,
)
def g9_combine_first(spark, sf_dir):
    """Dask/pandas ``combine_first`` — overlay one keyed frame onto another,
    preferring the primary's non-null values and taking the union of keys.
    In Spark this is exactly FULL OUTER JOIN + per-column COALESCE, one
    shuffle on the key; at scale the join inherits AQE skew handling and
    either side can broadcast when small. A provenance column records which
    side supplied each value (pandas' ``indicator`` idiom)."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", F.col("o_totalprice").alias("price_a")
    )
    b = o.filter(F.col("o_totalprice") > 1000.0).select(
        "o_orderkey",
        F.round((F.col("o_totalprice").cast("decimal(28,6)") * 0.9).cast("double"), 4)
        .alias("price_b"),
    )
    return (
        a.join(b, "o_orderkey", "full_outer")
        .select(
            "o_orderkey",
            F.coalesce("price_a", "price_b").alias("price"),
            F.when(F.col("price_a").isNotNull(), "primary")
            .otherwise("fallback")
            .alias("price_src"),
        )
    )


@query(
    "g10_duplicated_flag",
    oracle="""
    SELECT doc_id, lang, source,
           (COUNT(*) OVER (PARTITION BY lang, source) > 1) AS is_dup,
           (ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) > 1)
             AS is_extra
    FROM documents
    """,
)
def g10_duplicated_flag(spark, sf_dir):
    """pandas ``duplicated()`` — MARK duplicates instead of dropping them
    (the audit-first idiom: inspect before deleting). ``is_dup`` flags every
    member of a multiply-occurring key group (``keep=False`` semantics);
    ``is_extra`` flags all but the first occurrence (``keep='first'``,
    deterministic via doc_id order). One window partition serves both — a
    single exchange on the subset key, and the flags compose with any
    downstream filter without a join."""
    d = load(spark, sf_dir, "documents")
    wc = Window.partitionBy("lang", "source")
    wr = Window.partitionBy("lang", "source").orderBy("doc_id")
    return d.select(
        "doc_id",
        "lang",
        "source",
        (F.count(F.lit(1)).over(wc) > 1).alias("is_dup"),
        (F.row_number().over(wr) > 1).alias("is_extra"),
    )


def _global_index(df, order_cols, npartitions=8):
    """Distributed global row index (Dask ``set_index``'s division builder /
    pandas RangeIndex): range-partition on the order columns, count rows per
    partition (a tiny ``npartitions``-row collect — the bounded fit-param
    exemption of SURVEY §7.7), broadcast the cumulative offsets back as a
    literal map, and number rows as offset + intra-partition row_number.
    No single-task global window: the sort parallelizes across partitions
    and only partition COUNTS travel through the driver.
    """
    from dask_pipes_spark.session import scratch_path

    rp = df.repartitionByRange(npartitions, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # repartitionByRange picks its boundaries by SAMPLING, re-drawn per job:
    # without pinning, the counts job and the numbering job can see different
    # partitionings and the offsets go stale (measured: duplicate indices).
    # The pin is a scratch-parquet round trip (the l80 persisted-generation
    # pattern, round 12 — a localCheckpoint here would hide the range
    # exchange from every downstream plan as an opaque ExistingRDD): both
    # the counts job and the numbering job read the SAME materialized
    # partitioning, and the serving plan stays a plain parquet scan the
    # EXPLAIN gate can audit. Cost class is identical (localCheckpoint also
    # materializes the full frame, to executor storage).
    pin = scratch_path(f"dps_gidx_{next(_GIDX_SEQ)}")
    rp.write.mode("overwrite").parquet(pin)
    rp = df.sparkSession.read.parquet(pin)
    counts = dict(
        (r["_pid"], r["cnt"])
        for r in rp.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return rp.withColumn(
        "_idx",
        (F.element_at(omap, F.col("_pid")) + F.row_number().over(w) - 1).cast(
            "long"  # bigint: ROW_NUMBER arithmetic is BIGINT on the oracle side
        ),
    ).drop("_pid")


@query(
    "g11_concat_axis1",
    oracle="""
    WITH a AS (
      SELECT ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) - 1 AS idx,
             o_orderkey AS big_spender_key, o_totalprice
      FROM orders
    ),
    b AS (
      SELECT ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS idx,
             o_orderkey AS earliest_key, o_orderdate
      FROM orders
    )
    SELECT a.idx, big_spender_key, o_totalprice, earliest_key, o_orderdate
    FROM a JOIN b ON a.idx = b.idx
    """,
)
def g11_concat_axis1(spark, sf_dir):
    """Positional column concatenation (pandas ``pd.concat([a, b], axis=1)``
    on default RangeIndexes): pair row N of one ordered frame with row N of
    another. Spark has no row identity, so the alignment index must be
    BUILT — the ``_global_index`` helper range-partitions each side on its
    own order, numbers rows as partition-offset + local row_number (Dask's
    divisions arithmetic), and the concat is then an equi-join on the
    index. Side A ranks orders by price, side B by date, so the output
    pairs the k-th biggest spender with the k-th earliest order.

    100 TB: both index builds are parallel range sorts (no single-task
    window — only the ``npartitions`` per-partition counts cross the
    driver), and the final equi-join shuffles on a perfectly uniform,
    dense integer key: zero skew by construction.
    """
    o = load(spark, sf_dir, "orders")
    a = _global_index(
        o.select("o_orderkey", "o_totalprice"),
        (F.col("o_totalprice").desc(), F.col("o_orderkey")),
    ).select(
        F.col("_idx").alias("idx"),
        F.col("o_orderkey").alias("big_spender_key"),
        "o_totalprice",
    )
    b = _global_index(
        o.select("o_orderkey", "o_orderdate"),
        (F.col("o_orderdate"), F.col("o_orderkey")),
    ).select(
        F.col("_idx").alias("idx"),
        F.col("o_orderkey").alias("earliest_key"),
        "o_orderdate",
    )
    return a.join(b, on="idx")


@query(
    "g12_table_checksum",
    oracle="""
    WITH rows_d AS (
      SELECT o_orderkey % 64 AS bucket,
             CAST(('0x' || substr(md5(concat_ws('|',
                 CAST(o_orderkey AS VARCHAR),
                 CAST(o_custkey AS VARCHAR),
                 o_orderstatus,
                 CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
                 strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                 o_orderpriority)), 1, 15)) AS BIGINT) AS digest
      FROM orders
    )
    SELECT bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(digest AS DECIMAL(38,0))) AS VARCHAR) AS sum_digest,
           BIT_XOR(digest) AS xor_digest
    FROM rows_d GROUP BY bucket
    """,
)
def g12_table_checksum(spark, sf_dir):
    """Bucketed content checksum — the anti-entropy primitive for verifying
    two copies of a 100 TB table WITHOUT co-locating them (the pattern
    behind Cassandra/Dynamo Merkle-tree repair and warehouse replication
    audits): each row folds to a portable 60-bit md5 digest (the l2/l16
    discipline — identical in Spark and DuckDB), rows hash into 64 buckets
    by key, and each bucket emits an order-insensitive SUM and BIT_XOR of
    its digests. Two replicas compare 64 tiny (bucket, checksum) rows; a
    mismatched bucket localizes the diff to 1/64th of the table, recursing
    like a Merkle level. Versus g8_table_diff (row-level EXCEPT — shuffles
    both full tables) this moves CONSTANT bytes per replica.

    Determinism notes: doubles are quantized to integer cents
    (``FLOOR(x*100+0.5)`` — SURVEY §7.6.2) and timestamps rendered with an
    explicit format before hashing, so the digest never depends on an
    engine's float/timestamp print rules. SUM is carried in DECIMAL(38,0)
    (bigint would overflow at ~8k rows/bucket) and emitted as a string;
    XOR stays closed over bigint. Map-side partial aggregation means the
    single shuffle moves 64 rows per partition, regardless of table size.
    """
    o = load(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.col("o_orderpriority"),
    )
    digest = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("bigint")
    return (
        o.select((F.col("o_orderkey") % 64).alias("bucket"), digest.alias("digest"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("digest").cast("decimal(38,0)")).cast("string").alias("sum_digest"),
            F.expr("bit_xor(digest)").alias("xor_digest"),
        )
    )


_ROW_DIGEST_SQL = """CAST(('0x' || substr(md5(concat_ws('|',
    CAST(o_orderkey AS VARCHAR),
    CAST(o_custkey AS VARCHAR),
    o_orderstatus,
    CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
    o_orderpriority)), 1, 15)) AS BIGINT)"""


@query(
    "g13_checksum_drilldown",
    oracle=f"""
    WITH a AS (SELECT * FROM orders),
    b AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
                  THEN o_totalprice + 10.0 ELSE o_totalprice END
               AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders
    ),
    ca AS (
      SELECT o_orderkey % 64 AS bucket, BIT_XOR({_ROW_DIGEST_SQL}) AS x
      FROM a GROUP BY 1
    ),
    cb AS (
      SELECT o_orderkey % 64 AS bucket, BIT_XOR({_ROW_DIGEST_SQL}) AS x
      FROM b GROUP BY 1
    ),
    hot AS (
      SELECT ca.bucket FROM ca JOIN cb USING (bucket) WHERE ca.x <> cb.x
    ),
    ra AS (
      SELECT o_orderkey, {_ROW_DIGEST_SQL} AS da FROM a
      WHERE o_orderkey % 64 IN (SELECT bucket FROM hot)
    ),
    rb AS (
      SELECT o_orderkey, {_ROW_DIGEST_SQL} AS db FROM b
      WHERE o_orderkey % 64 IN (SELECT bucket FROM hot)
    )
    SELECT ra.o_orderkey % 64 AS bucket, ra.o_orderkey AS diff_key,
           da AS digest_a, db AS digest_b,
           (SELECT COUNT(*) FROM ra) AS n_drilled
    FROM ra JOIN rb ON ra.o_orderkey = rb.o_orderkey
    WHERE da <> db
    """,
)
def g13_checksum_drilldown(spark, sf_dir):
    """The Merkle RECURSION step completing g12: given two table replicas
    (B = A with one planted row perturbation), compare their 64 bucket
    checksums — constant bytes — then drill row-level ONLY into the
    mismatched bucket(s): re-digest and anti-compare 1/64th of the table,
    emitting the exact differing key(s) plus how many rows the drilldown
    actually scanned. At 100 TB the full-table row diff (g8) moves both
    tables through a shuffle; this path moves 64 checksum rows, then one
    bucket, then the culprit — logarithmic in mismatch count, linear only
    in the mismatched slice.

    Every quantity is deterministic (the portable digest over quantized
    fields, a keyed equi-join inside the hot bucket), so the whole
    two-level protocol carries a full SQL oracle — including
    ``n_drilled``, which PROVES the drilldown touched only the one
    bucket's rows."""
    o = load(spark, sf_dir, "orders")
    minkey = o.agg(F.min("o_orderkey")).collect()[0][0]
    b = o.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") == minkey, F.col("o_totalprice") + 10.0
        ).otherwise(F.col("o_totalprice")),
    )

    def digest(df):
        row_str = F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").cast("string"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
            F.col("o_orderpriority"),
        )
        return df.select(
            "o_orderkey",
            (F.col("o_orderkey") % 64).alias("bucket"),
            F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10)
            .cast("bigint")
            .alias("d"),
        )

    da, db = digest(o), digest(b)
    # The checksum aggregate also carries the per-bucket row count, so the
    # drill size needs NO extra fact pass. The ≤64-row comparison collects
    # to driver literals (round 12 — the l53 broadcast-cutoff pattern,
    # replacing two opaque localCheckpoint pins): the hot-bucket set
    # becomes an isin() predicate evaluated map-side at the digest scan,
    # and n_drilled a plain literal — the serving plan is two visible
    # digest scans and one equi-join, nothing hidden from the EXPLAIN gate.
    ca = da.groupBy("bucket").agg(
        F.expr("bit_xor(d)").alias("xa"), F.count(F.lit(1)).alias("cnt")
    )
    cb = db.groupBy("bucket").agg(F.expr("bit_xor(d)").alias("xb"))
    hot_rows = (
        ca.join(cb, "bucket")
        .filter(F.col("xa") != F.col("xb"))
        .select("bucket", "cnt")
        .collect()
    )
    hot_buckets = sorted(r["bucket"] for r in hot_rows)
    n_drilled = int(sum(r["cnt"] for r in hot_rows))
    ra = da.filter(F.col("bucket").isin(hot_buckets)).select(
        "bucket", "o_orderkey", F.col("d").alias("digest_a")
    )
    rb = db.filter(F.col("bucket").isin(hot_buckets)).select(
        "o_orderkey", F.col("d").alias("digest_b")
    )
    return (
        ra.join(rb, "o_orderkey")
        .filter(F.col("digest_a") != F.col("digest_b"))
        .select(
            "bucket",
            F.col("o_orderkey").alias("diff_key"),
            "digest_a",
            "digest_b",
            F.lit(n_drilled).cast("long").alias("n_drilled"),
        )
    )


@query(
    "g15_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id, value,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op
      FROM events
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_ops
      FROM log
    )
    SELECT user_id, value AS state_value,
           CAST(n_ops AS BIGINT) AS n_ops, ts AS last_ts
    FROM ranked
    WHERE rn = 1 AND op <> 'D'
    """,
)
def g15_cdc_apply(spark, sf_dir):
    """Changelog compaction — apply a CDC stream (insert/update/delete ops)
    to produce the current snapshot, latest-writer-wins with DELETE
    tombstones: the merge rule behind Delta/Hudi/Iceberg MERGE and every
    Kafka-compacted-topic materialization. The events stream becomes the
    changelog (signup→I, error→D, everything else→U, totally ordered per
    key by (ts, event_id)); a key's final state is its LAST op's value —
    unless that op is a tombstone, in which case the key leaves the
    snapshot entirely. One window pass computes both the survivor row and
    the per-key op count (shared partition spec → single shuffle + sort).

    100 TB: compaction shuffles the changelog once by key — identical cost
    to g4's dedup-keep-latest — and composes incrementally: yesterday's
    snapshot (each row re-tagged 'U' at its snapshot time) unioned with
    today's delta re-compacts under the same rule, so only the delta is
    ever re-read (p5's incremental pattern, row-level instead of
    aggregate-level)."""
    e = load(spark, sf_dir, "events")
    log = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = log.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .alias("n_ops"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "user_id",
        F.col("value").alias("state_value"),
        F.col("n_ops").cast("bigint").alias("n_ops"),
        F.col("ts").alias("last_ts"),
    )


_G16_DV_COLS = [
    "l_orderkey", "l_linenumber", "l_returnflag",
    "l_quantity", "l_extendedprice", "l_discount",
]
_G16_BASE_SCHEMA = (
    "l_orderkey bigint, l_linenumber bigint, l_returnflag string, "
    "l_quantity double, l_extendedprice double, l_discount double"
)


def _stage_dv_base(spark, sf_dir: str, d: str, delete_pred=None) -> None:
    """Stage the merge-on-read world shared by g16 and g17: an immutable
    base (lineitem range-sorted by (l_orderkey, l_linenumber) into 8
    files) plus the positional deletion vector for ``delete_pred``
    (default: the uniform ``%7==3`` predicate) — positions derived from
    the SORT ORDER (row_number per ``_metadata.file_name``),
    deliberately not ``_metadata.row_index``, so the read side's
    physical-ordinal derivation cross-checks it."""
    import os

    if delete_pred is None:
        delete_pred = F.col("l_orderkey") % 7 == 3
    li = load(spark, sf_dir, "lineitem").select(*_G16_DV_COLS)
    (
        li.repartitionByRange(8, "l_orderkey", "l_linenumber")
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .write.mode("overwrite")
        .parquet(os.path.join(d, "base"))
    )
    w = Window.partitionBy("fn").orderBy("l_orderkey", "l_linenumber")
    (
        spark.read.schema(_G16_BASE_SCHEMA)
        .parquet(os.path.join(d, "base"))
        .select(
            "l_orderkey", "l_linenumber",
            F.col("_metadata.file_name").alias("fn"),
        )
        .select("*", (F.row_number().over(w) - 1).alias("pos"))
        .filter(delete_pred)
        .select(F.col("fn").alias("file_name"), "pos")
        .write.mode("overwrite")
        .parquet(os.path.join(d, "dv"))
    )


@query(
    "g16_merge_on_read_dv",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price
    FROM lineitem
    WHERE l_orderkey % 7 <> 3
    GROUP BY l_returnflag
    """,
)
def g16_merge_on_read_dv(spark, sf_dir):
    """Deletion-vector merge-on-read (round 9 — Iceberg v2 positional
    deletes / Delta Lake deletion vectors): deletes land as a tiny
    sidecar of (file, row-position) pairs and the BASE FILES ARE NEVER
    REWRITTEN; readers apply the deletes with a broadcast anti-join on
    physical position. This is the third delete mechanism in the engine,
    completing the set — g15 applies key-equality deletes (changelog
    compaction), p5/p18 apply them as signed aggregate retractions; a
    positional delete needs NO key at all, which is what makes DML cheap
    on key-less or duplicate-keyed data.

    Staging writes lineitem as an immutable base (range-partitioned and
    sorted by (l_orderkey, l_linenumber) within each file), then builds
    the DV for the ``%7==3`` delete predicate by an INDEPENDENT position
    derivation: a ``row_number`` window over the sort order within each
    ``_metadata.file_name``. Serving reads the base with Spark's native
    ``_metadata.row_index`` (the parquet reader's physical row ordinal)
    and anti-joins the broadcast DV on (file, position) — so the write
    path and the read path compute positions by DIFFERENT mechanisms,
    and any disagreement between "row N in sort order" and "row N as
    scanned" deletes the wrong rows and diverges the from-scratch
    oracle. The DV carries no keys and no data columns (test-pinned),
    only (file_name, pos) — byte-for-byte the Iceberg v2 contract.

    100 TB: a delete touching 0.1% of rows costs O(|deleted|) sidecar
    bytes instead of an O(table) copy-on-write rewrite; the read-side
    tax is one broadcast anti-join keyed on (file, pos) — map-side, no
    shuffle of the base — until compaction (the k17/l70 generation
    write-back) folds the DV in and resets it to empty. Updates compose
    as DV-delete + append (g15's upsert at the file layer)."""
    import os

    from dask_pipes_spark.session import ensure_index, scratch_path

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_g16_dv_{tag}")
    cols = _G16_DV_COLS

    idx = ensure_index(
        base,
        os.path.join(sf_dir, "lineitem.parquet"),
        version="dv-v1",
        build=lambda d: _stage_dv_base(spark, sf_dir, d),
    )
    scan = spark.read.parquet(os.path.join(idx, "base")).select(
        *cols,
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.row_index").alias("pos"),
    )
    dv = spark.read.schema("file_name string, pos bigint").parquet(
        os.path.join(idx, "dv")
    )
    # no join hint: AQE broadcasts the DV while it is sidecar-sized and
    # switches to a shuffle join once it is not (measured at sf10 — an
    # 8.6M-position DV ran 1.7x faster as SMJ than force-broadcast, with
    # no GC pressure; a DV that large also means compaction is overdue)
    live = scan.join(dv, ["file_name", "pos"], "left_anti")
    disc_price = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(28,6)")
    return live.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(28,6)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
    )


@query(
    "g17_dv_compaction",
    oracle="""
    WITH b AS (
      SELECT CAST(MIN(l_orderkey)
                  + (MAX(l_orderkey) - MIN(l_orderkey)) // 8
             AS BIGINT) AS cutoff
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price
    FROM lineitem, b
    WHERE NOT (l_orderkey % 7 = 3 AND l_orderkey <= b.cutoff)
    GROUP BY l_returnflag
    """,
)
def g17_dv_compaction(spark, sf_dir):
    """Deletion-vector compaction (round 9 — Iceberg's rewrite-data-files
    minor compaction / Delta's DV hardening): fold the positional deletes
    into the data by rewriting ONLY the files the DV touches, carrying
    every clean file over UNTOUCHED, then retire the DV. This is the
    k17/l70 compaction economics applied at the FILE grain instead of
    the table grain: g16 pays a broadcast anti-join on every read;
    after compaction reads are pure scans again, and the rewrite cost
    was O(dirty files), never O(table).

    Flow (k18's ordering discipline): (1) stage g16's world (base + DV)
    with a CONCENTRATED delete predicate — ``%7==3`` keys in the first
    eighth of the key range (the usual CDC shape: churn lands in recent
    partitions, so only the files covering that range are dirty, while
    g16's uniform predicate would dirty all 8); (2) the live rows of
    the DIRTY files — identified from the DV's distinct file list, a
    metadata-plane decision — are rewritten through the anti-join into
    a ``rewritten/`` directory, durable first; (3) ``COMPACTION.json``
    records the rewritten/carried manifest with carried byte sizes;
    (4) only then are the dirty originals and the DV deleted. A crash
    between (2) and (4) leaves both copies plus the manifest —
    recoverable, never lossy. Serving scans the surviving base files
    plus the rewritten directory: NO anti-join, NO DV (test-pinned),
    and the carried files match their manifest sizes byte-for-byte
    (also pinned). The oracle recomputes the post-delete table from
    scratch — the cutoff re-derived in SQL with the same bigint
    arithmetic — so a clean file wrongly rewritten, a dirty row
    resurrected, or a live row dropped by the fold diverges the hash.

    100 TB: with deletes concentrated in recent partitions (the usual
    CDC shape), the dirty set is a small fraction of a 100k-file table —
    compaction IO tracks the churn, not the table; on object storage
    steps (2)-(4) are one Iceberg rewrite-files commit, and the schedule
    is the same delta-fraction trigger as the index write-backs."""
    import os

    from dask_pipes_spark.session import _write_json, ensure_index, scratch_path

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = scratch_path(f"dps_g17_dvc_{tag}")

    def _stage(d: str) -> None:
        bounds = (
            load(spark, sf_dir, "lineitem")
            .agg(
                F.min("l_orderkey").alias("lo"),
                F.max("l_orderkey").alias("hi"),
            )
            .collect()[0]
        )
        if bounds.lo is None:  # zero-row fixture: nothing to delete
            pred = F.lit(False)
        else:
            cutoff = bounds.lo + (bounds.hi - bounds.lo) // 8
            pred = (F.col("l_orderkey") % 7 == 3) & (
                F.col("l_orderkey") <= cutoff
            )
        _stage_dv_base(spark, sf_dir, d, delete_pred=pred)
        dv = spark.read.schema("file_name string, pos bigint").parquet(
            os.path.join(d, "dv")
        )
        dirty = sorted(
            r.file_name for r in dv.select("file_name").distinct().collect()
        )
        # (2) rewrite the live rows of dirty files, durable FIRST
        if dirty:
            live = (
                spark.read.schema(_G16_BASE_SCHEMA)
                .parquet(*[os.path.join(d, "base", f) for f in dirty])
                .select(
                    *_G16_DV_COLS,
                    F.col("_metadata.file_name").alias("file_name"),
                    F.col("_metadata.row_index").alias("pos"),
                )
                .join(dv, ["file_name", "pos"], "left_anti")
                .select(*_G16_DV_COLS)
            )
        else:
            live = spark.createDataFrame([], _G16_BASE_SCHEMA)
        live.coalesce(max(len(dirty), 1)).write.mode("overwrite").parquet(
            os.path.join(d, "rewritten")
        )
        carried = sorted(
            f
            for f in os.listdir(os.path.join(d, "base"))
            if f.endswith(".parquet") and f not in set(dirty)
        )
        sizes = {
            f: os.path.getsize(os.path.join(d, "base", f)) for f in carried
        }
        # (3) manifest before (4) vacuum
        _write_json(
            os.path.join(d, "COMPACTION.json"),
            {"rewritten": dirty, "carried": carried, "carried_sizes": sizes},
        )
        for f in dirty:
            os.remove(os.path.join(d, "base", f))
        import shutil

        shutil.rmtree(os.path.join(d, "dv"))

    idx = ensure_index(
        base,
        os.path.join(sf_dir, "lineitem.parquet"),
        version="dv-compact-v1",
        build=_stage,
    )
    merged = spark.read.schema(_G16_BASE_SCHEMA).parquet(
        os.path.join(idx, "base"), os.path.join(idx, "rewritten")
    )
    disc_price = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(28,6)")
    return merged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(28,6)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
    )
